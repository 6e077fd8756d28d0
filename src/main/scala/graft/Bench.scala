package graft

import java.lang.management.ManagementFactory
import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark runner over every query in [[SparkEntry.queries]].
  *
  * Each query is timed by [[time]]: [[Runs]] full noop writes in a row,
  * so every row and column a query produces is computed (a row count
  * lets Catalyst prune projected kernels) and nothing is persisted.
  * Wall time of each run sits next to the process CPU time, so ambient
  * contention shows in the run's own data instead of being guessed from
  * earlier runs.
  *
  * Prints exactly ONE JSON line on stdout (the last line) — `value` is
  * the sum of per-query minima, failed queries are listed and left out
  * of every total — and appends the full per-query record to
  * tools/bench_history.jsonl.
  */
object Bench {
  /** Timed runs per query. */
  val Runs = 3

  /** One query's timing: the wall seconds of each completed run and the
    * process CPU seconds over all of them. `failed` when any run threw.
    */
  final case class Timing(walls: Seq[Double], cpu: Double, failed: Boolean) {
    def min: Double = walls.min
    def median: Double = {
      val s = walls.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def spread: Double = walls.max - walls.min
    override def toString: String =
      if (failed) "FAILED"
      else f"min=$min%.3f median=$median%.3f spread=$spread%.3f cpu=$cpu%.3f " +
        s"runs=${walls.map(w => f"$w%.3f").mkString(",")}"
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The one query timer: [[Runs]] noop writes of `fn(spark, sfDir)`. */
  def time(spark: SparkSession, sfDir: String, name: String,
           fn: (SparkSession, String) => DataFrame): Timing = {
    val walls = Seq.newBuilder[Double]
    val cpu0 = os.getProcessCpuTime
    def cpu = (os.getProcessCpuTime - cpu0) / 1e9
    try {
      (1 to Runs).foreach { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        walls += (System.nanoTime() - t0) / 1e9
      }
      Timing(walls.result(), cpu, failed = false)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Timing(walls.result(), cpu, failed = true)
    }
  }

  /** Warm the session (codegen compiler, parquet footers, broadcast
    * machinery) so the first timed query isn't charged for it.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("documents", "embeddings", "orders", "lineitem", "customer")
      .foreach(t => try Tables.table(spark, sfDir, t).count() catch { case _: Throwable => () })
    // events is TIMESTAMP(NANOS) — only Tables.events sets the nanosAsLong
    // conf, so warming via Tables.table always threw and left it cold.
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
  }

  // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
  // comma-decimal locale would emit "106,500" — valid JSON, wrong data
  private def num(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** (stdout summary, history line) for one suite run. Both carry the
    * totals over the queries that did not fail: `value` sums the
    * per-query minima, `median_total` the medians and `cpu_total` the
    * CPU seconds per run. Stdout keeps the 20 most expensive queries
    * (stdout consumers keep only a ~2KB tail); the history line keeps every
    * query's minimum (-1 when it failed) and its runs.
    */
  private[graft] def lines(results: Seq[(String, Timing)], sfDir: String,
                           ts: String): (String, String) = {
    val ok = results.filterNot(_._2.failed)
    val failed = results.collect { case (k, t) if t.failed => "\"" + k + "\"" }
    val head =
      s"""{"metric":"total","value":${num(ok.map(_._2.min).sum)},"unit":"sec","ts":"$ts",""" +
        s""""median_total":${num(ok.map(_._2.median).sum)},""" +
        s""""cpu_total":${num(ok.map(_._2.cpu / Runs).sum)},""" +
        s""""nqueries":${results.size},"failed":${failed.size},""" +
        s""""failed_queries":${failed.mkString("[", ",", "]")},"""
    val worst = ok.sortBy(-_._2.min).take(20).map { case (k, t) => k -> num(t.min) }
    val all = results.map { case (k, t) => k -> (if (t.failed) "-1" else num(t.min)) }
    val runs = results.map { case (k, t) => k -> t.walls.map(num).mkString("[", ",", "]") }
    (head + s""""queries":${obj(worst)},"sf":"$sfDir"}""",
      head + s""""action":"noop","queries":${obj(all)},"runs":${obj(runs)},"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val historyPath = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      sys.props.getOrElse("user.dir", ".") + "/tools/bench_history.jsonl"))
    val spark = GraftSession.local()
    warmUp(spark, sfDir)
    // Deterministic SORTED run order: the cold artifact-build owners
    // (bloom_index_build, dedup_artifact_build) run before the consumers
    // that read the session caches they seed, so each shared artifact is
    // built by its recorded owner.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t = time(spark, sfDir, name, fn)
      System.err.println(f"[bench] $name%-34s $t")
      name -> t
    }
    val (summary, history) = lines(results, sfDir, java.time.Instant.now().toString)
    val failed = results.collect { case (k, t) if t.failed => k }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED (their cost is " +
        s"MISSING from all totals): ${failed.mkString(", ")}")
    // Full per-query record to a file too: the driver's stdout capture
    // truncates long tails.
    try {
      java.nio.file.Files.write(historyPath,
        (history + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] history write failed: ${e.getMessage}")
    }
    spark.stop()
    // Printed after spark.stop() so the JSON is the final stdout line even if
    // shutdown emits anything — the driver parses the tail of stdout.
    println(summary)
    System.out.flush()
  }
}
