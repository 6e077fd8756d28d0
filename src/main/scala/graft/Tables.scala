package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory so the same plan runs at
  * sf0.001 (smoke), sf0.01 (oracle) and sf0.1+ (bench). At cluster scale
  * the same loaders point at partitioned table roots; nothing below ever
  * collects to the driver.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark) // idempotent
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")

  val All: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so the engine's full surface is
    * reachable from `spark.sql(...)` as well as the DataFrame API.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    All.foreach { name =>
      val df = if (name == "events") events(spark, dir) else table(spark, dir, name)
      df.createOrReplaceTempView(name)
    }

  /** `events.ts` has drifted across driver generations of the parquet:
    * TIMESTAMP(NANOS) (readable only as long under the legacy conf),
    * TIMESTAMP(MICROS, isAdjustedToUTC=0) (reads as TIMESTAMP_NTZ), and
    * plain TIMESTAMP. Normalize all three to one canonical TimestampType
    * column so downstream `unix_micros`/window consumers always analyze.
    * The session zone is pinned UTC (GraftSession), so the NTZ→LTZ cast
    * preserves the stored micros value exactly — the same value DuckDB
    * reads — and oracle parity holds for every shape.
    */
  /** Widen a NARROW scan so CPU-heavy per-row kernels (codecs, hashing,
    * tokenize passes) that follow use every core — and do nothing at all
    * when the scan is already wide (guide §2.5: unsplittable/one-row-group
    * input is repartitioned right after the read; §1.2: the distributed
    * algorithm first). An unconditional `repartition` would round-robin
    * the full corpus before every kernel; at 100 TB (a scan with ~800k
    * splits at 128 MB `maxPartitionBytes`) that is a corpus-sized
    * exchange bought for zero extra parallelism. The gate keeps the
    * small-file win (a single-row-group parquet file is ONE effective
    * split, so every kernel downstream of it runs on one core without
    * this) and keeps the production path exchange-free.
    *
    * Moved here from DedupQueries (r19 optimization round): the same
    * single-split scan starves the image/audio/pdf codec kernels and the
    * tokenize+hash passes in Multimodal/Source/Curation/Text queries.
    * [[graft.streaming.EventStreams.ingestRelay]] widens each micro-batch
    * before its points lineage: a file-stream micro-batch is a scan of
    * the files that landed since the last trigger, so it meets the
    * precondition below.
    *
    * PRECONDITION: pass a plain SCAN (projection/filter at most).
    * `rdd.getNumPartitions` is job-free only for exchange-free plans —
    * under AQE, `toRdd` on a DataFrame containing a shuffle eagerly
    * materializes its query stages (real jobs run at probe time), so a
    * post-shuffle input would silently execute here instead of planning.
    */
  def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** `kernel(df).orderBy(keys)` with the kernel run once per row. A
    * trailing `orderBy` range-partitions the kernel's OUTPUT, and the
    * range partitioner samples its input by running it: the whole
    * kernel ran twice on one task, once in the sampler and once for
    * real. Here `df` itself is range-split by `keys` into
    * `defaultParallelism` partitions (an explicit count, which AQE does
    * not coalesce), sorted within them, and only then passed through
    * `kernel` — the sampler scans only the cheap input, and the kernel
    * runs spread over every partition.
    *
    * PRECONDITION: `kernel` is a per-row projection of `df` (select /
    * withColumn) that keeps `keys`; anything that moves rows between
    * partitions or reorders them (a join, aggregate or sort) breaks the
    * ordering this returns.
    */
  def sortedKernel(df: DataFrame, keys: Seq[String])(kernel: DataFrame => DataFrame): DataFrame = {
    val ks = keys.map(col)
    kernel(df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, ks: _*)
      .sortWithinPartitions(ks: _*))
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    // SESSION-WIDE by necessity (review finding r15, documented rather
    // than papered over): the conf must hold at ACTION time — the scan
    // reads it when tasks plan, so a set/restore pair around this call
    // would break the returned (lazy) DataFrame. The effect: after the
    // first events() call, any OTHER parquet with TIMESTAMP(NANOS)
    // columns reads them as LongType instead of failing loudly. No
    // other graft table carries nanos; a caller needing strict nanos
    // errors elsewhere runs events under its own session
    // (SparkSession#newSession shares the context, not the conf).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long: truncate to micros (as DuckDB does)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // wall-clock micros: reinterpret under UTC
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
