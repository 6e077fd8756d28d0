package graft

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The crash-safety fine print of the write-then-swap primitive
  * (ADVICE r6): an EMPTY derivation must be refused loudly with the
  * live table untouched (not die in schema inference reading back a
  * dataless swap); promotion must key on BatchSink's OWN commit
  * sentinel, not the committer's overridable `_SUCCESS`; and the live
  * partial fold `compactBelow` must move only `batch_id < upTo` rows
  * while every id `>= upTo` stays put. And a new batch id must not cost
  * a fresh codegen compile: the relay writes one batch per micro-batch.
  */
class BatchSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fsPath(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  test("replaceTable refuses an empty derivation; live table untouched") {
    import spark.implicits._
    val dir = tmp("graft-sink-empty") + "/t"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    BatchSink.replaceTable(df, dir)
    val ex = intercept[IllegalArgumentException] {
      BatchSink.replaceTable(df.filter(lit(false)), dir)
    }
    assert(ex.getMessage.contains("EMPTY result"))
    assert(ex.getMessage.contains("live table is untouched"))
    assert(spark.read.parquet(dir).count() === 2, "refusal must not touch the live table")
    val (fs, _) = fsPath(dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".swap")),
      "the dataless swap is cleaned up by the refusal")
  }

  test("recoverSwap promotes only on the commit sentinel, not on _SUCCESS") {
    import spark.implicits._
    val dir = tmp("graft-sink-sentinel") + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir + ".swap")
    val (fs, p) = fsPath(dir)
    // the committer wrote _SUCCESS, but BatchSink's row-count-verified
    // sentinel is absent — this swap never finished verification and
    // MUST NOT be promoted, even though marksuccessfuljobs fired
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + ".swap/_SUCCESS")))
    BatchSink.recoverSwap(spark, dir)
    assert(!fs.exists(p), "unverified swap must not be promoted")
    fs.create(new org.apache.hadoop.fs.Path(dir + ".swap/_GRAFT_COMMIT"), true).close()
    BatchSink.recoverSwap(spark, dir)
    assert(fs.exists(p), "sentinel present: the completed swap is promoted")
    assert(spark.read.parquet(dir).count() === 1)
  }

  test("compactBelow folds only batch_id < upTo; ids >= upTo stay put") {
    import spark.implicits._
    val dir = tmp("graft-sink-below") + "/t"
    def batch(n: Long) = Seq((n, s"row$n")).toDF("id", "v")
    BatchSink.writeBatch(batch(0), 0L, dir, full = true)
    BatchSink.writeBatch(batch(1), 1L, dir, full = false)
    BatchSink.writeBatch(batch(2), 2L, dir, full = false)
    BatchSink.writeBatch(batch(3), 3L, dir, full = false)
    val before = spark.read.parquet(dir).select("id", "v")
      .collect().map(_.toSeq).toSet
    BatchSink.compactBelow(spark, dir, upTo = 3L)
    assert(BatchSink.batchIds(spark, dir).toSet === Set(2L, 3L),
      "batches 0,1,2 fold into their max (2); the current epoch 3 keeps its id")
    assert(spark.read.parquet(dir).select("id", "v").collect().map(_.toSeq).toSet === before,
      "no rows lost or changed by the fold")
    // a pinned batch_id < 3 reader selects the same rows after the fold
    assert(spark.read.parquet(dir).filter(col("batch_id").cast("long") < 3L).count() === 3)
    // idempotent / no-op when only one foldable partition remains
    BatchSink.compactBelow(spark, dir, upTo = 3L)
    assert(BatchSink.batchIds(spark, dir).toSet === Set(2L, 3L))
  }

  test("a new batch id reuses the generated code; layout and read-back unchanged") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val base = tmp("graft-sink-codegen")
    // a parquet source, as the relay's micro-batches are: a local
    // relation would be folded at planning time and never codegen'd
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$base/in")
    val in = spark.read.parquet(s"$base/in")
    val dir = s"$base/t"
    BatchSink.writeBatch(in, 7L, dir, full = false) // warms the codegen cache
    val c0 = METRIC_COMPILATION_TIME.getCount
    BatchSink.writeBatch(in, 8L, dir, full = false)
    assert(METRIC_COMPILATION_TIME.getCount === c0, "a new batch id compiled new code")
    assert(BatchSink.batchIds(spark, dir).toSet === Set(7L, 8L))
    val (fs, _) = fsPath(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batch_id=8")))
    val back = spark.read.parquet(dir)
    assert(back.schema.last.name === "batch_id")
    assert(back.select(col("id"), col("v"), col("batch_id").cast("long")).as[(Long, String, Long)]
      .collect().toSet === Set((1L, "a", 7L), (2L, "b", 7L), (1L, "a", 8L), (2L, "b", 8L)))
    // positive control: the metric sees the compile a new LONG literal costs
    in.withColumn("batch_id", lit(7L)).write.parquet(s"$base/ctl7")
    val c1 = METRIC_COMPILATION_TIME.getCount
    in.withColumn("batch_id", lit(8L)).write.parquet(s"$base/ctl8")
    assert(METRIC_COMPILATION_TIME.getCount > c1, "the compile probe is not live")
  }
}
