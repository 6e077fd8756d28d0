package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.KmvAggregator

/** Persisted per-source KMV distinct-count sketch — the incremental
  * backing of `distinct_kmv`'s estimate side (one definition, two
  * backings: the [[SourceSketch]] / [[DedupIndex]] discipline).
  *
  * KMV is a commutative, idempotent monoid: the K smallest distinct
  * hashes of a union are derivable from each side's K smallest, so
  * KMV(A ∪ B) = fold(KMV(A), KMV(B)) exactly — re-adding a batch is a
  * no-op, batch order is irrelevant, and the stored table never needs a
  * corpus recompute. Each arriving batch lands its own ≤K·|sources|
  * rows in its own `batch_id` partition ([[graft.BatchSink]] dynamic
  * partition overwrite: a crash-retry overwrites exactly its own
  * partition); readers fold partitions at read time with the SAME
  * aggregator — a KB-sized aggregate at any corpus size.
  *
  * Storage is the kept set EXPLODED to (source, h) rows rather than an
  * array column: any parquet reader can audit it, compaction is a plain
  * re-fold, and the read-time aggregation is the aggregator itself.
  *
  * At 100 TB: "how many distinct shingles does source X contribute" is
  * answered from KBs of stored state, and a new crawl increment updates
  * it by touching only its own batch — the corpus is shingled once,
  * when its batch arrives.
  */
object DistinctSketch {

  /** One batch's sketch rows: per-source KMV kept-set, exploded. */
  def cells(docs: DataFrame): DataFrame = {
    val shingled = docs.select(col("source"),
      explode(graft.functions.TextOps.shingles3Udf(col("text"))).as("sh"))
    SketchQueries.kmvSketch(shingled)
      .select(col("source"), explode(col("kept")).as("h"))
  }

  /** Build from an initial corpus (batch 0, full overwrite — a rebuild
    * can never leave stale batch partitions behind).
    */
  def init(docs: DataFrame, dir: String): Unit =
    graft.BatchSink.writeBatch(cells(docs), 0L, dir, full = true)

  /** Land one batch's cells in its own partition; retry-idempotent. */
  def addBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    graft.BatchSink.writeBatch(cells(batch), batchId, dir, full = false)

  /** The folded sketch: the monoid fold of all landed batch partitions,
    * run by the same aggregator that built them. Heals a torn
    * compact() swap first (the AnnIndex.readHealed discipline): a crash
    * between compact's two renames leaves the live dir absent until
    * [[graft.BatchSink.recoverSwap]] promotes the completed swap.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    kept(graft.BatchSink.readHealed(spark, dir))

  /** Per-source KMV kept set of raw (source, h) rows. */
  private def kept(rows: DataFrame): DataFrame = {
    val kmv = udaf(KmvAggregator)
    rows.groupBy(col("source")).agg(kmv(col("h")).as("kept"))
  }

  /** Distinct-count estimates served FROM THE STORED SKETCH — no corpus
    * access; the projection is shared with the inline `distinct_kmv`.
    */
  def estimate(spark: SparkSession, dir: String): DataFrame =
    SketchQueries.kmvEstimates(read(spark, dir))

  /** The sketch's [[graft.BatchStore]] declaration: one table, folded to
    * the KMV normal form (the aggregator's kept set re-exploded — ≤K
    * rows per source, same schema), fed the accepted survivors.
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore(Some("DistinctSketch.init"),
      Seq(graft.BatchTable.Monoid(dir,
        kept(_).select(col("source"), explode(col("kept")).as("h")))),
      graft.BatchStore.Survivors, (docs, batchId) => addBatch(docs, dir, batchId))

  /** MONOID compaction (r15): fold landed partitions through the KMV
    * merge, bounding the stored table at ≤K·|sources| rows regardless of
    * batch count. Quiesced form of the relay's in-stream fold.
    */
  def compact(spark: SparkSession, dir: String): Unit = store(dir).compact(spark)
}
