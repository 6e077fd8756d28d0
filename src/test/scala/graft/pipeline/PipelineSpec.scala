package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // local[8], not local[2]: suites are dominated by many tiny stages
  // (file opens, bin-packed multi-file scans) where cores are pure
  // wall-clock; shuffle.partitions stays 2 so partition-count-sensitive
  // behaviors the specs pin are unchanged.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // multi-path reads (CollectionStore's manifest-resolved range dirs)
    // cross the default 32-path parallel-discovery threshold and spawn
    // a listing JOB per read — pure scheduling latency on local[2].
    // Driver-side listStatus over local tmpfs is faster at any count a
    // spec produces; the production default is untouched.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
    // the engine's own `file` filesystem, so the crash/replay specs run
    // on what GraftSession.builder ships
    .config(graft.GraftSession.localFileSystemConf)
    .appName("graft-test")
    .getOrCreate()
}

class ProvidersSpec extends AnyFunSuite {
  test("HashProjectionEmbedder is deterministic and unit-norm") {
    val e = new HashProjectionEmbedder(64)
    val Seq(a) = e.embed(Seq("the quick brown fox"))
    val Seq(b) = e.embed(Seq("the quick brown fox"))
    assert(a.toSeq == b.toSeq)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(a.length == 64)
  }

  test("embedding is batch-size invariant (order-preserving batching)") {
    val e = new HashProjectionEmbedder(32)
    val texts = (1 to 7).map(i => s"doc number $i words")
    val together = e.embed(texts)
    val singly = texts.map(t => e.embed(Seq(t)).head)
    together.lazyZip(singly).foreach((x, y) => assert(x.toSeq == y.toSeq))
  }

  test("HeadlineContextProvider takes first 8 words of the head") {
    val c = new HeadlineContextProvider
    assert(c.contextFor("one two three four five six seven eight nine", "x")
      == "[ctx] one two three four five six seven eight")
    assert(c.contextFor("   ", "x") == "")
  }

  test("LexicalOverlapReranker scores word-set Jaccard") {
    val r = new LexicalOverlapReranker
    assert(r.score("a b", "a b") == 1.0)
    assert(r.score("a b", "b c") == 1.0 / 3.0)
    assert(r.score("", "a") == 0.0)
  }
}

class IngestPipelineSpec extends AnyFunSuite with BeforeAndAfterAll
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  private def files() = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "srcA", "en", 120L, ("alpha beta gamma " * 20).trim),  // ~340 chars → 2+ chunks
      (2L, "srcB", "en", 10L, "tiny doc"),
      (3L, "srcC", "en", 0L, "   "),                               // blank → filtered/Failed
      (4L, "srcD", "zh", 30L, "中文 文本 测试 one two")
    ).toDF("doc_id", "source", "lang", "n_chars", "text")
  }

  test("run(): end-to-end rows with embeddings, idempotent point ids") {
    val out = IngestPipeline.run(files()).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Seq[Float]]("embedding").length == 64))
    // blank doc filtered out
    assert(!rows.exists(_.getAs[Long]("source_drive_file") == 3L))
    // deterministic content-addressed ids: re-running yields same ids
    val again = IngestPipeline.run(files()).select("point_id").collect().map(_.getString(0)).sorted
    assert(rows.map(_.getAs[String]("point_id")).sorted.toSeq == again.toSeq)
    // chunk_index dense per doc
    val byDoc = rows.groupBy(_.getAs[Long]("source_drive_file"))
    byDoc.values.foreach { rs =>
      val idx = rs.map(_.getAs[Long]("chunk_index")).sorted
      assert(idx.toSeq == (0L until idx.length).toSeq)
      assert(rs.forall(_.getAs[Long]("total_chunks") == rs.length))
    }
  }

  /** Docs for the chunk-total specs at 200/40 geometry (stride 160):
    * empty, blank, one chunk, the 160/161-char stride boundary, and
    * multi-chunk.
    */
  private def chunkDocs() = {
    val s = spark
    import s.implicits._
    Seq(
      (10L, ""), (11L, "   "), (12L, "tiny doc"),
      (13L, "a" * 160), (14L, "a" * 161),
      (15L, ("alpha beta gamma " * 30).trim),
      (16L, ("x" * 9 + " ") * 60)
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
  }

  test("both chunkers' total_chunks equals count(*) OVER (PARTITION BY doc_id)") {
    val byWindow = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    for ((name, rel) <- Seq(
        "fixed" -> IngestPipeline.fixedChunkRel(chunkDocs(), 200, 40),
        "recursive" -> IngestPipeline.recursiveChunkRel(chunkDocs(), 200, 40))) {
      val rows = rel.withColumn("window_total", count(lit(1)).over(byWindow)).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[Long]("total_chunks") == r.getAs[Long]("window_total"), s"$name: $r")
      }
      val totals = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("total_chunks")).toMap
      if (name == "fixed")
        assert(totals == Map(10L -> 1L, 11L -> 1L, 12L -> 1L, 13L -> 1L, 14L -> 2L, 15L -> 4L,
          16L -> 4L))
      else {
        assert(!totals.contains(10L) && !totals.contains(11L), "blank docs emit no chunk")
        assert(totals(12L) == 1L && totals(15L) > 1L && totals(16L) > 1L)
      }
    }
  }

  test("the chunker UDF runs once per document through enrich and embed") {
    val calls = spark.sparkContext.longAccumulator("chunker-calls")
    val rel = IngestPipeline.udfChunkRel(chunkDocs(), { text =>
      calls.add(1)
      graft.text.RecursiveChunker.chunk(text, 200, 40)
    })
    IngestPipeline.embedStage(IngestPipeline.enrich(rel))
      .write.format("noop").mode("overwrite").save()
    assert(calls.value == chunkDocs().count())
  }

  test("run() is one narrow stage: its executed plan has no Exchange") {
    for (fixed <- Seq(false, true)) {
      val out = IngestPipeline.run(files(), fixedChunker = fixed)
      out.collect()
      val plan = out.queryExecution.executedPlan
      assert(collect(plan) { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty,
        plan.treeString)
    }
  }

  test("a doc_id on two input rows: each row counts its own chunks") {
    val s = spark
    import s.implicits._
    // the old count(*) OVER (PARTITION BY doc_id) gave both rows 4 + 1
    val dup = Seq(
      (7L, "long", "en", 509L, ("alpha beta gamma " * 30).trim),
      (7L, "short", "en", 8L, "tiny doc")
    ).toDF("doc_id", "source", "lang", "n_chars", "text")
    val totals = IngestPipeline.run(dup, graft.PipelineSettings.smallDocs, fixedChunker = true)
      .select("source_title", "total_chunks").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals == Map("long" -> 4L, "short" -> 1L))
  }

  test("payload truncation caps text at the configured limit") {
    val out = IngestPipeline.run(files()).collect()
    assert(out.forall(r => r.getAs[String]("text").length <= 1000))
    assert(out.forall(r => r.getAs[String]("original_text").nonEmpty))
  }

  test("ledger marks blank docs Failed with reason") {
    val l = IngestPipeline.ledger(files()).collect()
      .map(r => r.getAs[Long]("source_drive_file") ->
        (r.getAs[String]("status"), r.getAs[String]("error_message"))).toMap
    assert(l(3L) == (("Failed", "empty document")))
    assert(l(1L)._1 == "Completed" && l(1L)._2 == null)
  }

  test("K1 sink: partitioned parquet layout round-trips with partition pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-k1").toString
    IngestPipeline.run(files())
      .write.partitionBy("source_title").mode("overwrite").parquet(tmp)
    val back = spark.read.parquet(tmp)
    assert(back.count() == IngestPipeline.run(files()).count())
    // partition filter prunes directories (scan shows partition count 1)
    val pruned = back.filter(col("source_title") === "srcB")
    assert(pruned.select("source_drive_file").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("cascadeDelete removes exactly the target file's points") {
    val s = spark
    import s.implicits._
    val points = IngestPipeline.run(files())
    val survivors = IngestPipeline.cascadeDelete(
      points, Seq(java.lang.Long.valueOf(1L)).toDS()).collect()
    assert(!survivors.exists(_.getAs[Long]("source_drive_file") == 1L))
    assert(survivors.exists(_.getAs[Long]("source_drive_file") == 2L))
  }
}
