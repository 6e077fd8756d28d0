package graft.operators

import graft.operators.TableAssertions.assertSameTable
import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ensureIdxRelay's crash-mid-init window (VERDICT r19 ask #5): its
  * `_INIT_DONE` step (`RelayFixtures.once`, which writes the marker only
  * after the step returns) covers TEN store inits, so a crash between
  * any two of them re-runs ALL of them on the next call. That is only
  * correct because every store init is a FULL overwrite — this spec
  * pins the property by dirtying a PREFIX of the stores with data from
  * a partial earlier attempt (worse than any real crash leaves behind:
  * two stores populated from the WRONG doc subset, the other eight
  * absent), re-running [[PipelineQueries.initRelayStores]], and
  * asserting every store's contents are byte-identical to a clean-room
  * init. If someone adds a non-overwrite (appending/merging) step to
  * the init sequence, the dirtied prefix survives into the re-run and
  * this spec fails loudly.
  */
class RelayInitCrashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("re-init after a crash between store inits converges to the clean-room state") {
    val s = spark
    val crashed = java.nio.file.Files.createTempDirectory("graft-relay-crash").toString
    val clean = java.nio.file.Files.createTempDirectory("graft-relay-clean").toString
    try {
      // the "crashed first attempt": DedupIndex and AnnIndex were
      // inited from a DIFFERENT (halved) doc subset before the crash —
      // stale state a correct re-init must fully replace, not merge
      val halfDocs = graft.Tables.documents(s, sf).filter(col("doc_id") % 2 === 0)
      DedupIndex.init(halfDocs, crashed + "/dedup")
      val halfEmb = graft.pipeline.IngestPipeline.embedStage(
          halfDocs.select(col("doc_id"), col("text").as("embedded_text")))
        .select(col("doc_id").as("vec_id"), col("embedding"))
      AnnIndex.init(halfEmb, crashed + "/ann",
        quantizer = Some(AnnIndex.kmeans(halfEmb, k = 4, iters = 1)))

      // the marker was never written, so the next gate call re-inits
      PipelineQueries.initRelayStores(s, sf, crashed)
      PipelineQueries.initRelayStores(s, sf, clean)

      val stores = Seq(
        "dedup/fp", "dedup/bands", "ann/cells", "ann/centroids",
        "pq/codes", "lsh/vectors", "sketch", "distinct",
        "nbmodel/counts", "nbmodel/priors", "langmodel/counts",
        "langmodel/priors", "bpestats")
      stores.foreach { sub =>
        assertSameTable(
          s.read.parquet(s"$crashed/$sub"), s.read.parquet(s"$clean/$sub"),
          s"store $sub after crash-window re-init vs clean-room init")
      }
    } finally {
      Seq(crashed, clean).foreach(p => TmpDirs.deleteRecursively(new java.io.File(p)))
    }
  }
}
