package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners registered from outside the program for the traced run:
  * Spark task metrics, query planning time and micro-batch progress.
  * `start` registers them, `stop` drains the listener bus, unregisters
  * them and returns the totals.
  */
final class Trace(spark: SparkSession) {
  private val jobs, tasks, runMs, cpuNs, gcMs, shRead, shWrite, spill = new AtomicLong(0)
  private val planMs, queries = new AtomicLong(0)
  private val triggers, triggerMs, addBatchMs, walMs = new AtomicLong(0)

  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryL = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      val p = qe.tracker.phases
      planMs.addAndGet(Seq("analysis", "optimization", "planning").flatMap(p.get).map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        triggers.incrementAndGet()
        triggerMs.addAndGet(d("triggerExecution"))
        addBatchMs.addAndGet(d("addBatch"))
        walMs.addAndGet(d("walCommit"))
      }
    }
  }

  private var wall0 = 0L
  private var gc0 = 0.0

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkL)
    spark.listenerManager.register(queryL)
    spark.streams.addListener(streamL)
    wall0 = System.nanoTime()
    gc0 = Harness.gcPauseS
  }

  /** Per-layer totals over the traced interval, divided by `ops`. */
  def stop(ops: Long, cores: Int, harnessLagMs: Double): Map[String, Double] = {
    val wallS = (System.nanoTime() - wall0) / 1e9
    org.apache.spark.benchsupport.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkL)
    spark.listenerManager.unregister(queryL)
    spark.streams.removeListener(streamL)
    val n = math.max(1L, ops).toDouble
    val mb = 1024.0 * 1024.0
    val t = math.max(1L, triggers.get).toDouble
    Map(
      "spark.jobs" -> jobs.get / n,
      "spark.tasks" -> tasks.get / n,
      "spark.task_run_s" -> runMs.get / 1000.0 / n,
      "spark.task_cpu_s" -> cpuNs.get / 1e9 / n,
      "spark.gc_s" -> gcMs.get / 1000.0 / n,
      "spark.shuffle_read_mb" -> shRead.get / mb / n,
      "spark.shuffle_write_mb" -> shWrite.get / mb / n,
      "spark.spill_mb" -> spill.get / mb / n,
      "spark.plan_ms" -> planMs.get.toDouble / n,
      "spark.cpu_busy_ratio" -> (cpuNs.get / 1e9) / (wallS * cores),
      "jvm.gc_pause_s" -> (Harness.gcPauseS - gc0) / n,
      "harness.sched_lag_ms" -> harnessLagMs,
      "streaming.trigger_ms" -> (if (triggers.get == 0) 0.0 else triggerMs.get / t),
      "streaming.add_batch_ms" -> (if (triggers.get == 0) 0.0 else addBatchMs.get / t),
      "streaming.wal_commit_ms" -> (if (triggers.get == 0) 0.0 else walMs.get / t))
  }
}
