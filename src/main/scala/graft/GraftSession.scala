package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's deployment defaults (SURVEY.md
  * §7 scale notes). Local runs size the shuffle to the core count; the
  * same knobs are the ones to retune on a real cluster:
  *
  *  - `spark.sql.shuffle.partitions`: ≈ 2-3× total executor cores at
  *    cluster scale (AQE coalesces down, so err high)
  *  - `spark.sql.files.maxPartitionBytes` 128m: keeps a 100 TB scan at
  *    ~800k splits — large enough to amortize task overhead, small
  *    enough that a split's working set fits executor memory
  *  - AQE on (default in Spark 4): runtime re-plan gives skew-join
  *    splitting and shuffle coalescing for free
  *  - `GraftExtensions` injects the codegen expressions into every
  *    session without per-call registration
  *  - [[localFileSystemConf]] routes the `file` scheme to the fork-free
  *    local filesystem (HDFS/S3 schemes are untouched)
  *
  * INTENDED CLUSTER DEFAULTS (VERDICT r15 ask #8 — recorded here so the
  * r15 unpin survives refactors; GraftSessionSpec asserts [[builder]]
  * never re-pins the shuffle count). For a 1000-executor / ~4000-core
  * 100 TB deployment, submit with:
  *
  *  - `spark.sql.shuffle.partitions=10000` (≈2.5× cores; AQE's
  *    coalescing brings small stages DOWN to the advisory size, but
  *    nothing splits an under-partitioned exchange UP — err high)
  *  - `spark.sql.adaptive.advisoryPartitionSizeInBytes=128m` (reduce-
  *    side target after coalescing; mirrors maxPartitionBytes so map
  *    and reduce partitions carry comparable working sets)
  *  - `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=512m`
  *    (with the hot-key salting in the dedup/sessionize operators this
  *    is the backstop, not the primary skew defense)
  *  - `spark.sql.autoBroadcastJoinThreshold=64m` (executors at 16g+ —
  *    every dimension side in this engine is already explicit
  *    `broadcast()`, so this only gates Catalyst's own choices)
  *
  * These are submit-time knobs by design: [[builder]] stays
  * cluster-agnostic and only sets what is true on EVERY deployment.
  */
object GraftSession {

  /** The `file` scheme's `FileSystem` and `AbstractFileSystem`
    * (`FileContext`, used by streaming checkpoints), as Spark configs:
    * [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]] keep Hadoop's
    * local semantics and checksums without a process start per created
    * file or renamed checkpoint.
    */
  val localFileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Cluster-agnostic builder: deliberately does NOT set
    * `spark.sql.shuffle.partitions` (review finding r15: sizing it to
    * the DRIVER's core count pinned every exchange on a 400-core
    * cluster to ~8 partitions, and AQE only coalesces DOWN, never up —
    * the opposite of this object's own 2-3× executor-cores guidance).
    * Deployments size that knob to their executor fleet; [[local]]
    * sizes it to the local core count, where driver cores ARE the
    * fleet.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[graft.expressions.GraftExtensions].getName)
      .config(localFileSystemConf)

  /** Local core count for the tools: `SPARK_GRAFT_CPUS`, else every core. */
  def localCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local session for tests/tools. */
  def local(threads: Int = localCpus): SparkSession = {
    val s = builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Known benign log line left as-is: ResolveWriteToStream warns
    // "adaptive.enabled is not supported in streaming ... will be
    // disabled" once per streaming-query start. That is the DELIBERATE
    // configuration (AQE serves the foreachBatch INNER batch plans;
    // Spark correctly auto-disables it for the streaming wrapper). A
    // targeted log4j2 Configurator.setLevel does not stick here — the
    // stream-execution thread resolves its own classloader-scoped
    // LoggerContext — and a classpath-wide log4j2.properties override
    // would change baseline logging for every consumer, a worse trade
    // than one documented line.
    s
  }
}
