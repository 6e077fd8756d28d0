package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Persisted per-source union-MinHash sketch — the incremental backing
  * of `source_overlap_minhash` (one definition, two backings, the
  * [[DedupIndex]] discipline).
  *
  * A source's 16-permutation signature cell is min over its docs'
  * per-permutation minima, and elementwise min is a commutative,
  * idempotent monoid: fold(batch1 ∪ batch2) == fold(fold(batch1),
  * fold(batch2)). So the stored table never needs a corpus recompute —
  * each arriving batch lands its own (source, perm, m) cells in its own
  * `batch_id` partition ([[graft.BatchSink]] dynamic partition
  * overwrite: a crash-retry overwrites exactly its own partition, and
  * re-adding a batch is a no-op by idempotence of min), and readers
  * fold partitions at read time — a groupBy over |sources|·16·batches
  * rows, KBs at any corpus size. [[graft.BatchSink.compact]] folds old
  * partitions when the batch count grows.
  *
  * At 100 TB this is the difference between "re-shingle the corpus to
  * answer an overlap question" and "min-merge a KB-sized table per
  * batch": the corpus is touched once, when its batch arrives.
  */
object SourceSketch {

  /** Per-source signature cells (source, perm, m) of `docs`: one fused
    * minhash UDF pass (band-major position == permutation index) into a
    * 16-cells-per-source partial aggregate.
    */
  def signatures(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        posexplode(flatten(transform(TextOps.minhashBandsUdf(col("text")),
          b => split(b, "_")))).as(Seq("perm", "m")))
      .groupBy(col("source"), col("perm")).agg(min(col("m")).as("m"))

  /** Pairwise Jaccard estimates over a signature relation: ALL S² pairs
    * (zero overlap is also an audit answer), matching minima / 16. The
    * inline query and the stored path both end here.
    */
  def pairEstimates(sig: DataFrame): DataFrame =
    sig.select(col("source").as("source_a"), col("perm"), col("m").as("ma"))
      .join(sig.select(col("source").as("source_b"), col("perm"), col("m").as("mb")),
        Seq("perm"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
        .cast("double") / 16.0, 6).as("est_jaccard"))
      .orderBy("source_a", "source_b")

  /** Build the sketch from an initial corpus (batch 0, full overwrite —
    * a rebuild can never leave stale batch partitions behind).
    */
  def init(docs: DataFrame, dir: String): Unit =
    graft.BatchSink.writeBatch(signatures(docs), 0L, dir, full = true)

  /** Land one batch's cells in its own partition. Retry-idempotent
    * (same batch id overwrites exactly its own partition) and
    * order-independent (read-time fold is min).
    */
  def addBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    graft.BatchSink.writeBatch(signatures(batch), batchId, dir, full = false)

  /** The folded signature table: min per (source, perm) across all
    * landed batch partitions. Heals a torn compact() swap first (the
    * AnnIndex.readHealed discipline — a crash between compact's two
    * renames leaves the live dir absent until recoverSwap promotes the
    * completed swap).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    foldRows(graft.BatchSink.readHealed(spark, dir))

  /** Overlap matrix served FROM THE STORED SKETCH — no corpus access. */
  def estimate(spark: SparkSession, dir: String): DataFrame =
    pairEstimates(read(spark, dir))

  /** The min-monoid normal form of raw sketch rows. */
  private def foldRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("source"), col("perm")).agg(min(col("m")).as("m"))

  /** The sketch's [[graft.BatchStore]] declaration: one table, folded
    * through the elementwise min, fed the accepted survivors — the
    * sketch tracks the corpus the indexes hold, not raw arrivals.
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore(Some("SourceSketch.init"), Seq(graft.BatchTable.Monoid(dir, foldRows)),
      graft.BatchStore.Survivors, (docs, batchId) => addBatch(docs, dir, batchId))

  /** MONOID compaction (r15): fold landed partitions through the
    * elementwise min, so the stored table stays at |sources|·16 rows
    * regardless of batch count (the row-identity fold grew linearly).
    * Quiesced form of the relay's in-stream fold.
    */
  def compact(spark: SparkSession, dir: String): Unit = store(dir).compact(spark)
}
