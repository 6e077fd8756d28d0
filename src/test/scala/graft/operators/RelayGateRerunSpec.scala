package graft.operators

import graft.operators.TableAssertions.assertSameTable
import graft.pipeline.SparkTestSession
import java.util.UUID
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import scala.collection.concurrent.TrieMap

/** A relay gate's second call goes through its checkpoint: it starts
  * the gate's stream again, the stream reads no input, and the gate
  * returns the relation the first call landed. The gates run on a fresh
  * link to the sf0.001 corpus, so their salted dirs are this spec's own
  * and the first call is the one that processes the staged files.
  */
class RelayGateRerunSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private lazy val corpus: String = {
    val link = java.nio.file.Files.createTempDirectory("graft-rerun").toFile
    new java.io.File("/root/testdata/sf0.001").listFiles().foreach(f =>
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(link, f.getName).toPath, f.toPath.toAbsolutePath))
    link.getPath
  }

  override def afterAll(): Unit = {
    val link = new java.io.File(corpus)
    link.listFiles().foreach(_.delete()) // the links only, never their targets
    link.delete()
  }

  /** The streams one call starts, each with the input rows it read. */
  private class StreamLog extends StreamingQueryListener {
    val started = TrieMap.empty[UUID, Unit]
    val ended = TrieMap.empty[UUID, Unit]
    val rows = TrieMap.empty[UUID, Long]
    override def onQueryStarted(e: QueryStartedEvent): Unit = started.put(e.runId, ())
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      rows.updateWith(e.progress.runId)(n => Some(n.getOrElse(0L) + e.progress.numInputRows))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.put(e.runId, ())
  }

  /** Calls `gate` and materializes its relation (so a later call cannot
    * change what it holds); returns it with the input rows each stream
    * the call started read. Progress and termination reach listeners
    * asynchronously, so this waits until every started stream ended.
    */
  private def call(gate: String): (DataFrame, Seq[Long]) = {
    val log = new StreamLog
    spark.streams.addListener(log)
    try {
      val df = PipelineQueries.queries(gate)(spark, corpus).localCheckpoint()
      eventually(timeout(Span(30, Seconds))) {
        assert(log.started.keys.forall(log.ended.contains))
      }
      (df, log.started.keys.toSeq.map(id => log.rows.getOrElse(id, 0L)))
    } finally spark.streams.removeListener(log)
  }

  Seq("relay_replay_points" -> 1, "late_drop_metrics" -> 2).foreach { case (gate, streams) =>
    test(s"$gate: a second call reruns its stream, reads 0 rows, returns the same relation") {
      val (first, firstRows) = call(gate)
      assert(firstRows.size == streams && firstRows.forall(_ > 0),
        s"first call: streams read $firstRows")
      val (second, secondRows) = call(gate)
      assert(secondRows.size == streams, s"second call started ${secondRows.size} streams")
      assert(secondRows.forall(_ == 0), s"second call: streams read $secondRows")
      // for late_drop_metrics this is the metrics relation: a rerun that
      // processed no data must leave it as the first run wrote it
      assertSameTable(first, second, s"$gate first vs second call")
    }
  }

  test("once: a body that throws leaves no marker and runs again; one that returns runs once") {
    val base = java.nio.file.Files.createTempDirectory("graft-once").toString
    try {
      var runs = 0
      intercept[IllegalStateException] {
        RelayFixtures.once(spark, base, "_DONE") { runs += 1; throw new IllegalStateException("crash") }
      }
      assert(!new java.io.File(base, "_DONE").exists, "a failed body must not write the marker")
      RelayFixtures.once(spark, base, "_DONE") { runs += 1 }
      RelayFixtures.once(spark, base, "_DONE") { runs += 1 }
      assert(runs == 2, "the failed step re-runs once, then the marker skips it")
      assert(new java.io.File(base, "_DONE").exists)
    } finally TmpDirs.deleteRecursively(new java.io.File(base))
  }
}
