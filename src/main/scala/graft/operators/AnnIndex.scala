package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Persisted IVF index: the stored-table form of the `ann_ivf_topk`
  * coarse-quantizer search, following the same discipline as
  * [[DedupIndex]] — ONE definition of each pipeline stage backs both the
  * inline (oracle-replayable) query and the parquet-backed path, and
  * batch landing is crash-safe.
  *
  *   <dir>/centroids — the coarse quantizer (c_id, cv), tiny, broadcast
  *   <dir>/cells     — the inverted file: (vec_id, embedding, cell)
  *
  * At 100 TB the inverted file is the corpus partitioned by cell id;
  * queries broadcast their nprobe probe list and score ONLY the probed
  * cells' rows — candidate volume is corpus/cells × nprobe per query,
  * never the full corpus. New vectors are assigned against the STORED
  * centroids (one broadcast cross join over the batch — batch-sized
  * work) and landed under their own `batch_id` partition with dynamic
  * overwrite, so a crashed or retried `addBatch` overwrites its own
  * partition instead of double-appending (same idempotent-sink shape as
  * the streaming relay and DedupIndex). AnnIndexSpec pins persisted ==
  * inline, add == rebuild, and retry idempotency.
  */
object AnnIndex {

  /** Deterministic coarse quantizer: 16 corpus vectors as centroids
    * (the test-scale stand-in for trained centroids; at scale this
    * table is produced by a k-means job and stays just as tiny).
    */
  def centroids(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id").between(100, 115))
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))

  /** TRAINED coarse quantizer: deterministic Lloyd's k-means over the
    * embedding column, the drop-in for [[init]]'s `quantizer` seam.
    * Returns the tiny (c_id, cv) table.
    *
    * Same no-`rand()` discipline as CurationQueries: the seed set is
    * the k vectors with the smallest `md5("seed:" || vec_id)` (a
    * hash-deterministic pseudo-random sample — stable across runs,
    * partitionings and cluster sizes, and md5 exists in every engine so
    * the whole training loop is oracle-expressible; `ann_recall_trained`
    * replays it in DuckDB). Seed candidates are filtered to norm2 > 0
    * and deduplicated on the embedding (keeping the smallest vec_id):
    * a zero-norm seed has null cosine to every vector and a duplicate
    * seed is tied with its twin for every vector — either way that cell
    * never attracts members and the empty-cell carry-forward would keep
    * the degenerate centroid for all `iters` rounds, silently shrinking
    * effective k. Each of the fixed `iters`
    * rounds assigns every vector to its nearest centroid with the
    * SAME broadcast rounded-cosine argmax as [[assign]] (training and
    * serving can never disagree on the metric or tie-break), then
    * recomputes each cell's centroid as the L2-normalized
    * element-wise mean; a cell that loses all members keeps its
    * previous centroid, so k never silently shrinks.
    *
    * Scale shape: assignment is map-side (k×dim broadcast, one row
    * out per vector before any shuffle); the update shuffles only
    * (cell, pos) partial means — k·dim rows per round, independent of
    * corpus size. Rounds materialize via `localCheckpoint` (flat
    * lineage, one job per round, centroids never leave the cluster —
    * no driver collect). At 100 TB one trains on a hash-sampled slice
    * (`filter(pmod(xxhash64(id), m) === 0)`); the job shape is
    * unchanged. Size `k` with the corpus: the classic IVF rule is
    * k ≈ √N (per-probe candidate work and cell count balance at √N);
    * a search at fixed nprobe reads nprobe·N/k vectors, so doubling
    * the corpus wants k doubled to hold per-query cost.
    */
  def kmeans(embeddings: DataFrame, k: Int = 16, iters: Int = 5): DataFrame = {
    graft.expressions.GraftFunctions.register(embeddings.sparkSession)
    // Lloyd's re-reads the SAME training rows every round — materialize
    // them once (the standard cache-the-training-set move; MLlib's
    // KMeans does the same) instead of re-scanning parquet per round.
    // At 100 TB the training input is the hash-sampled slice documented
    // above, so the checkpoint is sample-sized, not corpus-sized.
    val base = embeddings.select(col("vec_id"), col("embedding")).localCheckpoint()
    def seedKey = md5(concat(lit("seed:"), col("vec_id").cast("string")).cast("binary"))
    // Centroid ids 0..k-1 in the deterministic (seedKey, vec_id) order.
    // The rank comes from zipWithIndex over the k-row sliver AFTER a
    // coalesce(1) + sortWithinPartitions re-sort: the limit alone is
    // NOT order-stable at the RDD layer (Catalyst lowers sort+limit to
    // TakeOrderedAndProject only below topKSortFallbackThreshold; past
    // it, GlobalLimit's single-partition shuffle keeps the rows but not
    // their order — ADVICE r16, and the documented k ≈ √N sizing puts
    // real corpora in exactly that regime), while a per-partition sort
    // on the one coalesced partition pins the iteration order
    // physically, whatever plan the limit chose. Still no O(k²) rank
    // join and no empty-partition WindowExec: the re-sort is k rows on
    // one task.
    val seeds = base
      .filter(VectorOps.norm2(col("embedding")) > 0)
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
      .withColumn("sk", seedKey)
      .orderBy(col("sk"), col("vec_id"))
      .limit(k)
      .coalesce(1)
      .sortWithinPartitions(col("sk"), col("vec_id"))
      .select(col("sk"), col("vec_id"), col("embedding"))
    val spark = embeddings.sparkSession
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cv",
        seeds.schema("embedding").dataType, nullable = false)))
    var cents = spark.createDataFrame(
        seeds.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row(i, r.get(2)) },
        centSchema)
      .localCheckpoint()
    for (r <- 1 to iters) {
      val means = assign(base, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("c_id"),
          transform(col("pm"), p => p.getField("m")).as("mv"))
      val normed = means
        .withColumn("n", sqrt(VectorOps.norm2(col("mv"))))
        .select(col("c_id"),
          when(col("n") > 0, transform(col("mv"), v => (v / col("n")).cast("float")))
            .otherwise(transform(col("mv"), v => v.cast("float"))).as("cv_new"))
      val next = cents.join(normed, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("cv_new"), col("cv")).as("cv"))
      // checkpoint every SECOND round (and the last): each synchronous
      // checkpoint is a job barrier (~0.1s of fixed overhead at
      // local[32]), while one uncheckpointed round only doubles the
      // tiny centroid subtree — measured 15-20% off the loop
      // (PLANS.md round-11 profile) with identical results
      cents = if (r % 2 == 0 || r == iters) next.localCheckpoint() else next
    }
    cents
  }

  /** Nearest-centroid assignment — broadcast cross join + partial
    * `max(struct(cos, -c_id))` that collapses to ONE row per vector
    * before any shuffle. Ties on the rounded cosine break toward the
    * smaller centroid id.
    */
  def assign(embeddings: DataFrame, cents: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        struct(VectorOps.cosineScore(col("embedding"), col("cv")).as("c_cos"),
          (-col("c_id")).as("neg_c")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"), max(col("cand")).as("best"))
      .select(col("vec_id"), col("embedding"), (-col("best.neg_c")).as("cell"))

  /** Inverted-file rows with STORED int8 codes alongside the float
    * embedding: (vec_id, embedding, cell, pq, sp). A production vector
    * store ships the codes, not just the floats — the int8 search path
    * then reads the codes and never touches the embedding column.
    * Codes are stored as `array<tinyint>` (values are in [-127, 127]):
    * 1 byte/component vs the 4-byte float embedding, so the byte-level
    * 4× claim holds by LAYOUT, not just via parquet dictionary
    * encoding (int8Code's floor() returns doubles — 8 bytes/component
    * as produced, cast down here, widened back by the arithmetic in
    * [[searchInt8]]). Codes are null for zero-norm vectors (no valid
    * code; the cosine path still carries the row). Same definitions as
    * the inline queries ([[graft.functions.VectorOps.int8Code]]), so
    * stored and inline ranking cannot drift.
    */
  private[operators] def withCodes(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("_pn", VectorOps.norm(col("embedding")))
      .withColumn("_pm", when(col("_pn") > 0, VectorOps.maxNormed(col("embedding"), col("_pn"))))
      .withColumn("pq", when(col("_pn") > 0,
        transform(VectorOps.int8Code(col("embedding"), col("_pn"), col("_pm")),
          v => v.cast("tinyint"))))
      .withColumn("sp", when(col("_pn") > 0, col("_pm") / lit(127.0)))
      .drop("_pn", "_pm")

  /** Each query's nprobe closest cells (q_id, qv, cell). */
  def probe(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id"))
    queries.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("c_id"),
        VectorOps.cosineScore(col("qv"), col("cv")).as("c_cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("c_id").as("cell"))
  }

  /** Score the probed cells only: inverted-file join on cell, exact
    * cosine inside, per-query top-k.
    */
  def searchAssigned(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosineScore(col("embedding"), col("qv")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("rnk"), col("score"))
  }

  /** Build the index from an initial corpus (batch 0; full overwrite via
    * [[graft.BatchSink]], which pins STATIC overwrite so a rebuild can
    * never leave stale incremental partitions behind).
    *
    * `quantizer` is the seam for a TRAINED coarse quantizer (a k-means
    * job's (c_id, cv) table at scale); it defaults to the deterministic
    * test-scale stand-in so the oracle path stays replayable.
    *
    * The inverted file is additionally PARTITIONED BY `cell`: a search
    * joins it with the (broadcast) probe list on `cell`, so Spark's
    * dynamic partition pruning restricts the scan to the probed cells'
    * directories — at 100 TB the query reads corpus/cells × nprobe
    * bytes, not the table (AnnIndexSpec pins the dynamicpruning
    * expression in the plan).
    */
  def init(embeddings: DataFrame, dir: String,
           quantizer: Option[DataFrame] = None): Unit = {
    // a library caller needn't have touched Tables first — the cosine
    // expression registration is idempotent, so make every AnnIndex
    // entry point self-sufficient
    graft.expressions.GraftFunctions.register(embeddings.sparkSession)
    val cents = quantizer.getOrElse(centroids(embeddings)).localCheckpoint()
    // an empty quantizer writes a schemaless (unreadable) index and
    // every later read dies far from the cause — fail HERE instead.
    // The stand-in selects fixed corpus ids, so a corpus without them
    // must pass quantizer = Some(kmeans(...)) explicitly.
    require(!cents.isEmpty,
      "AnnIndex.init: coarse quantizer is empty — the id-range stand-in found no " +
        "centroid vectors in this corpus; pass quantizer = Some(AnnIndex.kmeans(...))")
    graft.BatchSink.writeBatch(cents, 0L, s"$dir/centroids", full = true)
    graft.BatchSink.writeBatch(withCodes(assign(embeddings, cents)), 0L, s"$dir/cells",
      full = true, extraPartitionCols = Seq("cell"))
  }

  /** Assign a batch of NEW vectors against the STORED centroids and land
    * it under its own partition. Idempotent per batch id: a retry after
    * a crash overwrites its own partition, never double-appends. Reads
    * the centroids HEALED (review finding r14: this was the one read
    * path that opened the table raw — a crash between commitSwapDir's
    * renames died as PATH_NOT_FOUND here while every search read
    * self-healed; worse, a retrain torn between its two table swaps
    * would have had this batch assigned in the OLD centroid space and
    * landed into the NEW-space inverted file — the joint retrain
    * journal now makes that mixed state unobservable, see [[retrain]]).
    */
  def addBatch(spark: SparkSession, newVectors: DataFrame, dir: String, batchId: Long): Unit = {
    graft.expressions.GraftFunctions.register(spark)
    val cents = readHealed(spark, dir, "centroids").select("c_id", "cv")
    // the CELLS table's torn-compact heal rides writeBatch itself (r15 —
    // the pre-write heal is the sink's job, covering every index sink)
    graft.BatchSink.writeBatch(withCodes(assign(newVectors, cents)), batchId, s"$dir/cells",
      full = false, extraPartitionCols = Seq("cell"))
  }

  /** Self-healing store read: replay a torn joint [[retrain]] swap,
    * then promote a torn single-table write-then-swap (crash
    * mid-[[compact]]), before the table is opened — so readers after
    * ANY crash window see a complete, CONSISTENT (cells and centroids
    * from the same training epoch) index. Two FS metadata probes per
    * table when nothing is torn.
    */
  private def readHealed(spark: SparkSession, dir: String, table: String): DataFrame = {
    recoverRetrain(spark, dir)
    graft.BatchSink.readHealed(spark, s"$dir/$table")
  }

  /** IVF search against the stored index. Zero-norm queries are kept
    * and score NaN against every candidate (double 0/0) — see the
    * [[searchInt8]] note for the documented divergence and the
    * pre-filter callers should apply.
    */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             nprobe: Int, k: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val cents = readHealed(spark, dir, "centroids").select("c_id", "cv")
    val assigned = readHealed(spark, dir, "cells").select("vec_id", "embedding", "cell")
    searchAssigned(assigned, probe(queries, cents, nprobe), k)
  }

  /** Inverted-file health card over any (vec_id, cell) assignment and
    * centroid-id relation: per-cell count + corpus share INCLUDING
    * empty cells (the wasted-nprobe / drifted-quantizer symptom a plain
    * groupBy hides). Shared by the inline `ann_ivf_cell_stats` query
    * and the stored form below — one definition, two backings.
    */
  def cellStatsOf(assigned: DataFrame, cents: DataFrame): DataFrame = {
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
    // sum over an EMPTY relation is one NULL row — coalesce to 0 and
    // guard the division so a fully-empty index renders as all cells at
    // share 0.0 (the signal this card exists to surface), not NULLs
    val total = sizes.agg(coalesce(sum(col("cell_size")), lit(0L)).as("total"))
    cents.select(col("c_id").as("cell"))
      .join(sizes, Seq("cell"), "left")
      .crossJoin(broadcast(total))
      .select(col("cell"),
        coalesce(col("cell_size"), lit(0L)).as("cell_size"),
        when(col("total") > 0,
          round(coalesce(col("cell_size"), lit(0L)).cast("double") /
            col("total").cast("double"), 6)).otherwise(lit(0.0)).as("share"))
      .orderBy("cell")
  }

  /** The health card read FROM THE STORED INDEX — a partition listing +
    * count per cell directory, no centroid math, no corpus assignment;
    * this is what the relay's maintenance cadence would chart over
    * time. Works unchanged on a trained-quantizer index (the stored
    * centroids ARE the quantizer).
    */
  def cellStats(spark: SparkSession, dir: String): DataFrame =
    cellStatsOf(
      readHealed(spark, dir, "cells").select("vec_id", "cell"),
      readHealed(spark, dir, "centroids").select("c_id"))

  /** int8-scored IVF search against the STORED codes — the memory-bound
    * production read path: candidates are ranked by the exact integer
    * dot of the stored `pq` codes rescaled by the stored `sp` and the
    * query's scale, reading 4×-smaller codes and NEVER the embedding
    * column (column pruning drops it at the scan); the scan is still
    * dynamically partition-pruned to the probed cells. Ranking is
    * identical to the inline `ann_ivf_int8` query — AnnIndexSpec pins
    * stored == inline.
    *
    * Zero-norm queries: this path DROPS them (a zero vector has no
    * int8 code — `qn > 0` below, mirroring `ann_ivf_int8`'s inline
    * filter), while the cosine [[search]] path carries them with NaN
    * scores. The divergence is deliberate and documented rather than
    * papered over: NaN ranks are garbage, so callers with possibly-
    * zero queries should pre-filter on [[VectorOps.norm2]] for either
    * path. An index written without stored codes fails here with an
    * explicit message instead of an opaque missing-column error.
    */
  def searchInt8(spark: SparkSession, dir: String, queries: DataFrame,
                 nprobe: Int, k: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val stored = readHealed(spark, dir, "cells")
    require(stored.columns.contains("pq") && stored.columns.contains("sp"),
      s"AnnIndex.searchInt8: index at $dir has no stored int8 codes (pq/sp columns) — " +
        "it predates code storage; re-run AnnIndex.init/addBatch (or retrain) to rebuild with codes")
    val cents = readHealed(spark, dir, "centroids").select("c_id", "cv")
    val q = probe(queries, cents, nprobe)
      .withColumn("qn", VectorOps.norm(col("qv"))).filter(col("qn") > 0)
      .withColumn("qm", VectorOps.maxNormed(col("qv"), col("qn")))
      .select(col("q_id"), col("cell"),
        VectorOps.int8Code(col("qv"), col("qn"), col("qm")).as("qq"),
        (col("qm") / lit(127.0)).as("sq"))
    val cands = stored
      .select("vec_id", "cell", "pq", "sp")
      .filter(col("pq").isNotNull)
    VectorOps.rankInt8(cands, q, Seq("cell"), k)
  }

  /** RETRAIN the coarse quantizer on the corpus the index actually
    * holds and rebuild the inverted file against it — the lifecycle
    * answer to distribution drift: [[addBatch]] assigns every new batch
    * against FROZEN centroids, so as the corpus drifts away from the
    * training distribution, cells unbalance and recall (the number
    * `ann_recall` / [[recallAudit]] measures) degrades; retraining is
    * the fix, and [[retrainIfDrifted]] is the documented trigger.
    *
    * Equivalent to `init(storedVectors, dir, Some(kmeans(storedVectors)))`
    * on the merged corpus (AnnRetrainSpec pins the equality), but
    * executed crash-safe against the LIVE index: both tables are
    * rewritten via write-then-swap ([[graft.BatchSink.replaceTable]] —
    * the source table stays intact until its replacement is fully
    * committed), cells first, then centroids. A crash between the two
    * swaps leaves cells assigned by centroids that aren't stored yet —
    * an inconsistent but fully recoverable state: re-running retrain
    * re-derives the SAME centroids (k-means is hash-seeded and
    * deterministic, and the vector SET in cells is unchanged by
    * re-assignment) and completes the swap. Like compaction, retrain
    * folds batch history into the high-water batch id, so run it only on a quiesced
    * index (no in-flight addBatch / streaming batch — same contract as
    * [[graft.BatchSink.compact]]).
    *
    * TRAINING SLICE: kmeans' scale contract (train on a hash-sampled
    * slice, never the raw corpus — its `localCheckpoint` of the
    * training input must be sample-sized at 100 TB) is applied HERE,
    * where the lifecycle calls it: when the stored corpus exceeds
    * `trainSampleTarget` rows, training reads the deterministic
    * `pmod(xxhash64(vec_id), m) === 0` slice with m sized to land
    * ~target rows. Deterministic given the same corpus (row-count m and
    * hash filter — no rand()), so a crashed retrain still re-derives
    * identical centroids on retry. ASSIGNMENT stays full-corpus — every
    * vector must be re-bucketed; that pass is the linear work retrain
    * exists to do.
    */
  def retrain(spark: SparkSession, dir: String, k: Int = 16, iters: Int = 5,
              trainSampleTarget: Long = 1000000L): Unit = {
    require(trainSampleTarget >= 1, s"trainSampleTarget must be >= 1, got $trainSampleTarget")
    graft.expressions.GraftFunctions.register(spark)
    recoverRetrain(spark, dir)
    graft.BatchSink.recoverSwap(spark, s"$dir/cells")
    graft.BatchSink.recoverSwap(spark, s"$dir/centroids")
    val stored = spark.read.parquet(s"$dir/cells").select("vec_id", "embedding")
    val n = spark.read.parquet(s"$dir/cells").count() // parquet footers only
    val m = math.max(1L, n / trainSampleTarget)
    val slice =
      if (m == 1L) stored
      else stored.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0)
    val cents = kmeans(slice, k, iters) // localCheckpointed — survives the cells swap
    // fold into the high-water batch id, like compact: the relay's
    // stale-checkpoint guard reads max(batch_id) from the listing
    val highWater = graft.BatchSink.batchIds(spark, s"$dir/cells").foldLeft(0L)(math.max)
    // JOINT two-table swap (review finding r14): the old form committed
    // cells then centroids as two independent replaceTable swaps, so a
    // crash between them left cells in the NEW training space with the
    // OLD centroids live — structurally valid (both spaces share c_ids)
    // and semantically corrupt: every later addBatch would assign
    // against the stale centroids and land old-space rows into the
    // new-space inverted file, silent recall corruption with no error.
    // Now both replacements are fully STAGED (written + verified, no
    // commit sentinel) before a joint journal marker arms the
    // promotion; every read/write path replays the marker via
    // [[recoverRetrain]] first, so post-crash the pair is always from
    // ONE training epoch.
    graft.BatchSink.stageReplaceTable(withCodes(assign(stored, cents)), s"$dir/cells",
      Seq("cell"), batchId = highWater)
    graft.BatchSink.stageReplaceTable(cents, s"$dir/centroids")
    val (fs, marker) = retrainMarker(spark, dir)
    fs.create(marker, true).close()
    graft.BatchSink.commitSwapDir(spark, s"$dir/cells")
    graft.BatchSink.commitSwapDir(spark, s"$dir/centroids")
    fs.delete(marker, false)
  }

  private val RetrainPending = "_GRAFT_RETRAIN_PENDING"
  private def retrainMarker(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$RetrainPending")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Replay a torn joint [[retrain]] swap. The marker is created only
    * after BOTH staging tables are fully written and verified, and
    * deleted only after BOTH are promoted — so its presence means
    * "finish promoting whatever remains" is always safe and lands the
    * complete new epoch. Without the marker, any leftover staging is a
    * pre-commit crash; the per-table [[graft.BatchSink.recoverSwap]]
    * sweeps it and the old (consistent) epoch keeps serving. Idempotent;
    * called by every AnnIndex read/write entry point via readHealed.
    */
  def recoverRetrain(spark: SparkSession, dir: String): Unit = {
    val (fs, marker) = retrainMarker(spark, dir)
    if (!fs.exists(marker)) return
    Seq("cells", "centroids").foreach { t =>
      // promote only tables whose staging still exists — a missing
      // swap was already promoted by the crashed run or a prior replay
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$t.swap")))
        graft.BatchSink.commitSwapDir(spark, s"$dir/$t")
      else graft.BatchSink.recoverSwap(spark, s"$dir/$t") // mid-commit window
    }
    fs.delete(marker, false)
  }

  /** recall@k of the stored index against the exact brute-force top-k
    * over the same stored corpus, per query id — the production drift
    * monitor: sample queries, compare the index's answer to the exact
    * scan's. One extra corpus pass per audit (that's what an audit IS),
    * run on a sampled query set at a monitoring cadence, never on the
    * serving path.
    */
  def recallAudit(spark: SparkSession, dir: String, queries: DataFrame,
                  nprobe: Int, k: Int = 3): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val stored = readHealed(spark, dir, "cells").select("vec_id", "embedding", "cell")
    val cents = readHealed(spark, dir, "centroids").select("c_id", "cv")
    val approx = searchAssigned(stored, probe(queries, cents, nprobe), k)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val truth = stored.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosineScore(col("embedding"), col("qv")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"))
    val hits = approx.select("q_id", "vec_id")
      .join(truth, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    queries.select(col("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble), 6).as("recall"))
  }

  /** THE recall-threshold retrain trigger: audit the stored index with
    * the given sample queries and retrain iff mean recall@k fell below
    * `minRecall`. Returns whether a retrain ran. The one-row mean
    * aggregate is the only driver-side value (the decision itself —
    * same class as dedup_clusters' convergence count).
    */
  def retrainIfDrifted(spark: SparkSession, dir: String, queries: DataFrame,
                       nprobe: Int, minRecall: Double,
                       k: Int = 16, iters: Int = 5): Boolean = {
    val row = recallAudit(spark, dir, queries, nprobe)
      .agg(avg(col("recall"))).head()
    // an empty query sample makes avg(recall) NULL — recall is
    // UNDEFINED there, and neither "retrain" nor "don't" is a sound
    // default, so refuse with the cause instead of NPE-ing on getDouble
    require(!row.isNullAt(0),
      "AnnIndex.retrainIfDrifted: the query sample is empty — mean recall is undefined; " +
        "pass a non-empty queries relation to audit against")
    val mean = row.getDouble(0)
    val drifted = mean < minRecall
    if (drifted) retrain(spark, dir, k, iters)
    drifted
  }

  /** The index's [[graft.BatchStore]] declaration: the inverted file,
    * folded by row under its `cell` partitions, fed the embedded
    * vectors. The centroids table is always a single batch-0 write
    * (init/retrain only), so it is not listed and never folds.
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore(Some("AnnIndex.init"), Seq(graft.BatchTable.Rows(s"$dir/cells", Seq("cell"))),
      graft.BatchStore.Vectors, (v, batchId) => addBatch(v.sparkSession, v, dir, batchId))

  /** Fold all `batch_id=N/cell=M` partitions of the inverted file into
    * the high-water batch id — small-file hygiene for a long-running ingest (#batches ×
    * #cells parquet leaves otherwise). Crash-safe write-then-swap; see
    * [[graft.BatchSink.compact]] for the quiescence contract.
    */
  def compact(spark: SparkSession, dir: String): Unit = store(dir).compact(spark)
}
