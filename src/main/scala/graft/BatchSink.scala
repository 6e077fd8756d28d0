package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE idempotent batch-partitioned parquet writer — single definition
  * behind every crash-safe sink in the engine (the streaming ingest
  * relay, DedupIndex, AnnIndex), so the retry guarantees live in one
  * place instead of drifting across copies.
  *
  * Semantics:
  *  - every write lands under the batch's own `batch_id=<n>` partition
  *    (plus any extra partition columns);
  *  - `full = false` (incremental): DYNAMIC partition overwrite — a
  *    crashed or retried batch overwrites exactly its own partition
  *    leaves and can never double-append;
  *  - `full = true` (rebuild): overwrite mode pinned STATIC explicitly,
  *    so a rebuild truncates the whole table even if the session
  *    default was flipped to dynamic — stale partitions from prior
  *    incremental batches cannot survive a rebuild;
  *  - with extra partition columns the rows are repartitioned by them
  *    first: otherwise every task writes one file per partition value
  *    it holds (tasks × values small files — the classic partitioned-
  *    write failure mode at scale).
  *
  * Read-back contract: `batch_id` is a PARTITION column — partition type
  * inference reads it as an integer at the END of the schema (only the
  * `batch_id=N` directory name is stored). Select it by name and cast,
  * never by position or assumed long type.
  */
object BatchSink {
  def writeBatch(df: DataFrame, batchId: Long, path: String, full: Boolean,
                 extraPartitionCols: Seq[String] = Nil): Unit = {
    // Pre-write heal (r15, ADVICE r14 generalized from two call sites to
    // the sink itself): if a compact/replace crashed between
    // commitSwapDir's two renames, the live dir is ABSENT with a
    // committed `.swap` beside it. Writing first would recreate the live
    // dir holding only this batch — and the next recoverSwap, seeing a
    // live table, would sweep the committed swap, silently dropping the
    // whole pre-compact table. Healing here covers every incremental
    // sink (Ann/Lsh/Pq/Dedup indexes, sketches, model stores) at the
    // cost of two FS existence probes per write. Writers must still
    // honor the compact/retrain quiescence contracts — healing is for
    // CRASHED maintenance, not concurrent maintenance.
    recoverSwap(df.sparkSession, path)
    val data =
      if (extraPartitionCols.nonEmpty) df.repartition(extraPartitionCols.map(col): _*)
      else df
    // a string literal: codegen inlines a long literal into the
    // generated Java (a cache miss and a Janino compile per new batch id)
    // but holds a string by reference; the `batch_id=N` directory is the
    // same for both
    val w = data.withColumn("batch_id", lit(batchId.toString))
      .write.mode("overwrite")
      .partitionBy("batch_id" +: extraPartitionCols: _*)
      .option("partitionOverwriteMode", if (full) "static" else "dynamic")
    w.parquet(path)
  }

  private[graft] def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The `batch_id=N` partition values present under `path` — answered
    * from ONE directory listing, never by scanning data. Empty for a
    * missing or unpartitioned table.
    */
  def batchIds(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
  }

  /** Swap-commit sentinel, written by [[replaceTable]] AFTER its row
    * count is verified. Promotion keys on this file, not on the
    * committer's `_SUCCESS`: `mapreduce.fileoutputcommitter.
    * marksuccessfuljobs` is an overridable deployment default, and a
    * self-healing contract must not silently depend on one — with the
    * marker disabled, a fully-committed swap would otherwise never be
    * promoted after a mid-rename crash (fail-stop, but the documented
    * healing wouldn't apply). Underscore-prefixed so parquet readers
    * ignore it.
    */
  private val CommitSentinel = "_GRAFT_COMMIT"

  /** Heal a torn [[replaceTable]]: if the live table is missing but a
    * COMPLETED `.swap` (its [[CommitSentinel]] exists — written last,
    * after row-count verification, so a partial or unverified write can
    * never be promoted) is present, promote it; then clear any leftover
    * `.old`/incomplete `.swap`. Idempotent; called automatically by
    * [[replaceTable]] and safe to call before any read of a table that
    * may have been mid-replacement at crash time.
    */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(spark, path)
    val swap = new org.apache.hadoop.fs.Path(path + ".swap")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    val swapComplete = fs.exists(swap) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$path.swap/$CommitSentinel"))
    // rename returns FALSE on failure on HDFS-style filesystems — an
    // unpromoted complete swap must be loud, not a silent missing table
    if (!fs.exists(p) && swapComplete)
      require(fs.rename(swap, p),
        s"BatchSink.recoverSwap: failed to promote completed swap $swap to $path")
    if (fs.exists(p)) { // only clean up once a live table is in place
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(swap)) fs.delete(swap, true)
    }
  }

  /** Read a [[writeBatch]]-maintained table after [[recoverSwap]] has
    * healed any torn compact swap of it.
    */
  def readHealed(spark: SparkSession, path: String): DataFrame = {
    recoverSwap(spark, path)
    spark.read.parquet(path)
  }

  /** Crash-safe FULL-table replacement — write-then-swap, the primitive
    * behind index compaction and retraining. `df` (which MAY read from
    * `path` itself — the write targets `.swap`, so the source stays
    * intact until the data is fully committed) is written as a fresh
    * single-batch table (under `batchId`, default 0) beside the live
    * one, row-count-verified against its own plan, then swapped in with
    * two renames. Crash windows: before/during the write → live table
    * untouched, partial `.swap` ignored (no [[CommitSentinel]]);
    * between the renames → healed by [[recoverSwap]]; after → only a
    * stale `.old` to sweep. At no point can a reader observe a
    * half-replaced table, and rows can never be lost without
    * [[recoverSwap]] getting them back.
    *
    * An EMPTY derivation is refused loudly: an empty partitioned write
    * leaves a `.swap` with no data files, so the read-back would die in
    * schema inference far from the cause — and silently replacing a
    * live table with nothing is never what compaction or retraining
    * meant. The live table is untouched by the refusal.
    */
  def replaceTable(df: DataFrame, path: String,
                   extraPartitionCols: Seq[String] = Nil,
                   batchId: Long = 0L): Unit =
    replaceKeepingBatches(df.withColumn("batch_id", lit(batchId)), path, extraPartitionCols)

  /** [[replaceTable]] core for relations that ALREADY carry a
    * `batch_id` column (possibly several values — [[compactBelow]]'s
    * partial fold). Same crash windows and guarantees.
    */
  private def replaceKeepingBatches(df: DataFrame, path: String,
                                    extraPartitionCols: Seq[String]): Unit = {
    stageReplace(df, path, extraPartitionCols)
    commitSwapDir(df.sparkSession, path)
  }

  /** [[stageReplace]] for relations without a `batch_id` column — the
    * staging twin of [[replaceTable]].
    */
  def stageReplaceTable(df: DataFrame, path: String,
                        extraPartitionCols: Seq[String] = Nil,
                        batchId: Long = 0L): Unit =
    stageReplace(df.withColumn("batch_id", lit(batchId)), path, extraPartitionCols)

  /** The STAGE half of [[replaceTable]]: write the replacement to
    * `<path>.swap`, row-count-verified, WITHOUT promoting it. Callers
    * that replace ONE table want [[replaceTable]] (stage + commit);
    * this half exists for multi-table swaps (AnnIndex.retrain replaces
    * cells AND centroids, which must change together) — stage every
    * table first, then commit each, so the window where one table is
    * new and the other old is bounded by a journal, not by a full
    * staging write. An uncommitted staging carries no [[CommitSentinel]]
    * and is swept by [[recoverSwap]] on the next heal.
    */
  def stageReplace(df: DataFrame, path: String,
                   extraPartitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    recoverSwap(spark, path)
    val swapPath = path + ".swap"
    val partCols = "batch_id" +: extraPartitionCols
    val data =
      if (extraPartitionCols.nonEmpty) df.repartition(partCols.map(col): _*) else df
    // row-count verification rides the write itself (CollectMetrics on
    // the write's own plan — no second execution of the derivation),
    // compared against the swap table's parquet footers
    val obs = org.apache.spark.sql.Observation()
    data.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .option("partitionOverwriteMode", "static")
      .parquet(swapPath)
    val expected = obs.get("n").asInstanceOf[Long]
    val (fs, _) = fsOf(spark, path)
    val swap = new org.apache.hadoop.fs.Path(swapPath)
    if (expected == 0L) {
      fs.delete(swap, true)
      throw new IllegalArgumentException(
        s"BatchSink.replaceTable: refusing to replace table at $path with an EMPTY result — " +
          "the derivation produced 0 rows (corpus drained?); the live table is untouched")
    }
    val written = spark.read.parquet(swapPath).count() // parquet footers only
    require(written == expected,
      s"BatchSink.replaceTable: swap table at $swapPath has $written rows, expected $expected — aborting swap")
  }

  /** Commit a fully-written `.swap` directory over the live one:
    * sentinel, move-aside, promote, sweep — the tail of the
    * write-then-swap protocol, shared by [[replaceTable]] and
    * [[graft.pipeline.ShardedExport]]. Every crash window inside is
    * healed by [[recoverSwap]].
    */
  def commitSwapDir(spark: SparkSession, path: String): Unit = {
    val swapPath = path + ".swap"
    val (fs, p) = fsOf(spark, path)
    val swap = new org.apache.hadoop.fs.Path(swapPath)
    fs.create(new org.apache.hadoop.fs.Path(s"$swapPath/$CommitSentinel"), true).close()
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    // rename returns FALSE on failure (HDFS semantics) — ignoring it
    // would report success while the live table was never replaced
    if (fs.exists(p))
      require(fs.rename(p, old),
        s"BatchSink.commitSwapDir: failed to move live table $path aside — table unchanged")
    require(fs.rename(swap, p),
      s"BatchSink.commitSwapDir: failed to promote swap $swapPath to $path — " +
        "live table was moved to .old; recoverSwap will heal on the next read")
    fs.delete(old, true)
    spark.catalog.refreshByPath(path) // drop cached file listings of the old table
  }

  /** Fold every `batch_id=N` partition of a [[writeBatch]]-maintained
    * table into a SINGLE partition at the CURRENT HIGH-WATER batch id —
    * the small-file compaction a streaming sink needs (#batches ×
    * #values parquet leaves otherwise; the classic micro-batch sink
    * degradation). Folding into max(batch_id), not 0, preserves the
    * high-water mark that EventStreams.indexMaintenanceRelay's
    * stale-checkpoint guard reads (`maxLandedBatch <= batchId`): folded
    * into 0, a stream restarted against a compacted index with a FRESH
    * (wrong) checkpoint would restart epochs at 0, pass the guard, and
    * dynamic-overwrite the folded partitions holding the whole corpus —
    * exactly the silent corruption the guard exists to refuse.
    * Crash-safe via [[replaceTable]]. MUST only run while the table is
    * quiesced (no in-flight batch, streaming checkpoint committed):
    * folding rewrites batch history, so a later whole-cycle RETRY of an
    * already-landed batch would see its own rows at the high-water id
    * and (for pinned `batch_id < n` readers like DedupIndex.dedupBatch)
    * mis-derive its survivor set — the relay's in-stream cadence uses
    * [[compactBelow]] instead, which is replay-safe by construction.
    */
  def compact(spark: SparkSession, path: String,
              extraPartitionCols: Seq[String] = Nil): Unit = {
    recoverSwap(spark, path)
    val highWater = batchIds(spark, path).foldLeft(0L)(math.max)
    replaceTable(spark.read.parquet(path).drop("batch_id"), path,
      extraPartitionCols, batchId = highWater)
  }

  /** Partial fold for a LIVE streaming sink: fold only the partitions
    * with `batch_id < upTo` into their own max id; rows with `batch_id
    * >= upTo` are rewritten verbatim under their own ids (the swap
    * replaces the whole table, but their id assignment never moves).
    * Safe to run at the START of micro-batch `upTo` — before the
    * epoch's own write, the only writer the sink contract allows
    * concurrently — because it preserves exactly the two invariants
    * replay correctness rests on: a pinned reader's row set (`batch_id
    * < upTo` selects the same rows before and after — only their
    * partition ids moved, all still `< upTo`), and the current epoch's
    * own id (rows of batch `upTo` from a crashed earlier attempt are
    * never folded, so the replay's dynamic overwrite still replaces ALL
    * of its earlier rows rather than leaving a folded copy behind).
    * No-op unless at least two foldable partitions exist.
    */
  def compactBelow(spark: SparkSession, path: String, upTo: Long,
                   extraPartitionCols: Seq[String] = Nil): Unit = {
    recoverSwap(spark, path)
    val below = batchIds(spark, path).filter(_ < upTo)
    if (below.size <= 1) return
    val target = below.max
    // batch_id is a partition column, read back as INT by partition
    // inference — normalize to long so the folded ids compare cleanly
    val folded = spark.read.parquet(path)
      .withColumn("batch_id",
        when(col("batch_id").cast("long") < upTo, lit(target))
          .otherwise(col("batch_id").cast("long")))
    replaceKeepingBatches(folded, path, extraPartitionCols)
  }

  /** [[compactBelow]] with a MONOID FOLD (review finding r15: the
    * row-identity fold keeps every batch's rows verbatim, so a
    * min/KMV/sum-monoid store still grows LINEARLY with batch count —
    * after 10^5 micro-batches the "KB-sized" read-time fold chews
    * millions of rows). `fold` aggregates the strictly-below slice to
    * its monoid normal form (same schema; the store's read fold must be
    * invariant under it — lawful exactly for commutative-monoid stores:
    * per-key mins, KMV kept-sets, count sums). Rows at ids >= upTo are
    * rewritten verbatim under their own ids, preserving compactBelow's
    * two replay invariants (the current epoch's id never moves; folded
    * rows land strictly below it).
    */
  def compactBelowWith(spark: SparkSession, path: String, upTo: Long,
                       extraPartitionCols: Seq[String] = Nil)
                      (fold: DataFrame => DataFrame): Unit = {
    recoverSwap(spark, path)
    val below = batchIds(spark, path).filter(_ < upTo)
    if (below.size <= 1) return
    val target = below.max
    val all = spark.read.parquet(path)
    val folded = fold(all.filter(col("batch_id").cast("long") < upTo).drop("batch_id"))
      .withColumn("batch_id", lit(target))
    val kept = all.filter(col("batch_id").cast("long") >= upTo)
      .withColumn("batch_id", col("batch_id").cast("long"))
    replaceKeepingBatches(folded.unionByName(kept), path, extraPartitionCols)
  }

  /** Whole-table monoid compaction: [[compactBelowWith]] over every
    * landed partition, folded to the high-water id. Same quiescence
    * contract as [[compact]].
    */
  def compactWith(spark: SparkSession, path: String,
                  extraPartitionCols: Seq[String] = Nil)
                 (fold: DataFrame => DataFrame): Unit = {
    recoverSwap(spark, path)
    val hw = batchIds(spark, path).foldLeft(-1L)(math.max)
    if (hw >= 0) compactBelowWith(spark, path, hw + 1, extraPartitionCols)(fold)
  }
}
