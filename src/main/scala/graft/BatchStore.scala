package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One `batch_id`-partitioned table of a [[BatchStore]] and how its
  * landed partitions fold.
  */
trait BatchTable {

  /** The table's path or catalog name, as the relay's errors name it. */
  def name: String

  /** Heal a torn swap, then read the highest landed `batch_id` from the
    * partition listing (never from the data); `None` when the table
    * does not exist.
    */
  def highWater(spark: SparkSession): Option[Long]

  /** Fold the partitions below `upTo` while a stream is live
    * ([[BatchSink.compactBelow]]'s replay-safe contract).
    */
  def compactBelow(spark: SparkSession, upTo: Long): Unit

  /** Fold every landed partition into the high-water id — quiesced only
    * ([[BatchSink.compact]]'s contract).
    */
  def compact(spark: SparkSession): Unit
}

object BatchTable {

  /** A parquet dir written by [[BatchSink.writeBatch]]. */
  sealed abstract class Dir extends BatchTable {
    def highWater(spark: SparkSession): Option[Long] = {
      BatchSink.recoverSwap(spark, name)
      val (fs, p) = BatchSink.fsOf(spark, name)
      if (fs.exists(p)) Some(BatchSink.batchIds(spark, name).foldLeft(0L)(math.max))
      else None
    }
  }

  /** Rows fold by identity: every row is kept and moves to the fold's
    * id, under its own values of `partitionCols`.
    */
  final case class Rows(name: String, partitionCols: Seq[String] = Nil) extends Dir {
    def compactBelow(spark: SparkSession, upTo: Long): Unit =
      BatchSink.compactBelow(spark, name, upTo, partitionCols)
    def compact(spark: SparkSession): Unit = BatchSink.compact(spark, name, partitionCols)
  }

  /** Rows fold through the store's commutative monoid (per-key min, KMV
    * merge, count sums) to its normal form; the store's read fold is
    * invariant under it.
    */
  final case class Monoid(name: String, fold: DataFrame => DataFrame) extends Dir {
    def compactBelow(spark: SparkSession, upTo: Long): Unit =
      BatchSink.compactBelowWith(spark, name, upTo)(fold)
    def compact(spark: SparkSession): Unit = BatchSink.compactWith(spark, name)(fold)
  }
}

/** The one declaration of a persisted store kept current batch by batch:
  * its `batch_id` tables and how each folds, what a batch feeds it, and
  * how a batch lands. The store module's quiesced `compact` and the
  * relays' ([[graft.streaming.EventStreams.ingestRelay]],
  * [[graft.streaming.EventStreams.indexMaintenanceRelay]])
  * stale-checkpoint guard, in-stream cadence and per-batch writes all
  * loop over it.
  *
  * @param init   the call that builds the store, named when a table is
  *               missing; `None` for a store the relay creates with its
  *               first batch. A store with an init partition (`batch_id`
  *               0) lands relay epoch e at `batch_id` e+1, one without
  *               lands it at e.
  * @param tables every table a batch lands a `batch_id` partition in
  * @param feed   which relation of a relay batch `add` takes
  * @param add    land one batch under its own `batch_id` partition
  *               (idempotent per id, so a replay overwrites its own rows)
  */
final case class BatchStore(init: Option[String], tables: Seq[BatchTable],
                            feed: BatchStore.Feed, add: (DataFrame, Long) => Unit) {
  def compactBelow(spark: SparkSession, upTo: Long): Unit =
    tables.foreach(_.compactBelow(spark, upTo))
  def compact(spark: SparkSession): Unit = tables.foreach(_.compact(spark))
}

object BatchStore {
  sealed trait Feed

  /** The relay's micro-batch as read from its input. */
  case object Batch extends Feed

  /** The batch's dedup survivors: the documents the indexes accept. */
  case object Survivors extends Feed

  /** The survivors embedded once: (`vec_id`, `embedding`). */
  case object Vectors extends Feed
}
