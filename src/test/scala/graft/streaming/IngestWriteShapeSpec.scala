package graft.streaming

import graft.pipeline.{IngestPipeline, SparkTestSession}
import graft.sources.TextExtraction
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import scala.collection.concurrent.TrieMap

/** The ingest write path's task shape: an extract append of many small
  * uploads is one write task and lands one file, and the relay spreads
  * a narrow micro-batch over every core before chunk, enrich and embed.
  * Each parquet write task pays a fixed cost (it deserializes the job's
  * Hadoop configuration), so the number of write tasks per append is
  * what these pin; the rows stay those of the un-rebalanced, un-widened
  * forms.
  */
class IngestWriteShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String = java.nio.file.Files.createTempDirectory(prefix).toString

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq

  test("an extract append of 64 small text files lands one data file with the un-hinted rows") {
    val dir = tmp("graft-extract-in")
    (0 until 64).foreach { i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, f"u$i%02d.txt"),
        s"upload $i body words ${"x" * (i % 7)}".getBytes("UTF-8"))
    }
    val files = spark.read.format("binaryFile").load(dir)
    val out = s"${tmp("graft-extract-out")}/docs"
    TextExtraction.extract(files).write.mode("append").parquet(out)
    assert(dataFiles(out).size == 1, s"append landed ${dataFiles(out)}")

    // the same extract with the rebalance hint dropped at analysis
    val unhinted =
      try {
        spark.conf.set("spark.sql.optimizer.disableHints", "true")
        TextExtraction.extract(files).collect().map(_.toSeq).toSet
      } finally spark.conf.unset("spark.sql.optimizer.disableHints")
    val landed = spark.read.parquet(out).select("doc_id", "source", "text", "n_chars")
      .collect().map(_.toSeq).toSet
    assert(unhinted.size == 64)
    assert(landed == unhinted)
  }

  /** Task counts of the stages submitted from now on that wrote output
    * rows, by stage id (events of earlier jobs may still be queued).
    */
  private class WriteStages extends SparkListener {
    private val since = System.currentTimeMillis()
    val tasks = TrieMap.empty[Int, Int]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      if (info.submissionTime.exists(_ >= since) && info.taskMetrics != null &&
          info.taskMetrics.outputMetrics.recordsWritten > 0)
        tasks.put(info.stageId, info.numTasks)
    }
  }

  test("a one-file relay micro-batch runs its points stage on defaultParallelism tasks") {
    val s = spark
    import s.implicits._
    val root = tmp("graft-widen")
    val in = s"$root/in"
    // 20 documents of about 2,000 characters, a few chunks each
    (1L to 20L).map { i =>
      val text = s"doc $i " + Seq.tabulate(300)(j => s"w${i * j}").mkString(" ")
      (i, s"src$i", text, text.length.toLong)
    }.toDF("doc_id", "source", "text", "n_chars").coalesce(1).write.parquet(in)
    assert(dataFiles(in).size == 1)

    val writes = new WriteStages
    s.sparkContext.addSparkListener(writes)
    try {
      val q = EventStreams.ingestRelay(s, in, s"$root/points", s"$root/cp")
      try q.processAllAvailable() finally q.stop()
      eventually(timeout(Span(30, Seconds))) { assert(writes.tasks.nonEmpty) }
    } finally s.sparkContext.removeSparkListener(writes)
    assert(writes.tasks.values.toSeq == Seq(s.sparkContext.defaultParallelism),
      s"write stages (stage id -> tasks): ${writes.tasks}")

    def idsAndTexts(df: org.apache.spark.sql.DataFrame) =
      df.select("point_id", "text").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val expected = idsAndTexts(IngestPipeline.run(s.read.parquet(in)))
    assert(expected.size >= 40)
    assert(idsAndTexts(s.read.parquet(s"$root/points")) == expected)
  }
}
