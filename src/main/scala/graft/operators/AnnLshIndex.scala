package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Persisted LSH index: the stored-table form of the inline
  * `ann_lsh_topk` / `ann_lsh_multiprobe` searches, completing the index
  * pair next to [[AnnIndex]] (IVF) — the reference searches a STORED
  * collection (frappe_data_pipelines/services/qdrant_service.py:117-154),
  * it never re-derives the index per query, and until this object the
  * LSH path re-signed the whole corpus on every search.
  *
  *   <dir>/meta    — (num_planes): the signature space, pinned so
  *                   addBatch can never mix plane counts
  *   <dir>/vectors — (vec_id, embedding, pq, sp, sig) partitioned by
  *                   batch_id and `sigp` (a signature prefix)
  *   <dir>/stats   — (sig, n) per-batch bucket histogram — the guard's
  *                   input, computed at WRITE time so a search never
  *                   re-aggregates the corpus (VERDICT r5 #2)
  *
  * Partitioning by `sigp` = the low [[SigPrefixBits]] bits of the
  * signature keeps the partition count bounded (2^prefixBits) however
  * many planes are in use, and — because signatures NEST (plane p's
  * definition is independent of the plane count; LshScaleSpec) — the
  * prefix of a vector's signature NEVER CHANGES when planes are added,
  * so a plane-count upgrade ([[refine]]) re-signs rows in place without
  * moving them across partition directories. Searches join the
  * (broadcast) probe list on (sigp, sig); the sigp equi-join against the
  * partition column plans as dynamic partition pruning, so a query reads
  * only the probed buckets' directories — corpus/2^prefixBits × probes
  * bytes, never the table (AnnLshIndexSpec pins the plan).
  *
  * Batch landing, crash safety and compaction follow [[graft.BatchSink]]
  * exactly as in AnnIndex/DedupIndex: per-batch dynamic partition
  * overwrite (a retry overwrites its own partition), init/refine as
  * static full rewrites, [[compact]] via write-then-swap.
  */
object AnnLshIndex {

  /** Signature-prefix width for the storage partitioning: 64 directories
    * per batch — enough for dynamic partition pruning to bite, few
    * enough that a 1000-executor writer doesn't shatter into millions of
    * small files. The prefix is the SIGNATURE OF THE FIRST 6 PLANES, by
    * the nesting property, so it is stable under plane-count upgrades.
    */
  val SigPrefixBits = 6

  def sigPrefix(sig: Column): Column = sig.bitwiseAND(lit((1L << SigPrefixBits) - 1))

  /** Rows as stored: signature + prefix + int8 codes next to the
    * embedding — one definition shared by init/addBatch/refine. Every
    * row also carries `np`, the plane count its signature was computed
    * in: the tear detector ([[readSigned]]) compares it against meta at
    * search time, turning a crashed half-refine into a loud error
    * instead of silently empty joins.
    */
  private def signedRows(vectors: DataFrame, numPlanes: Int): DataFrame =
    AnnIndex.withCodes(
      vectors.select(col("vec_id"), col("embedding"))
        .withColumn("sig", AnnQueries.signatureUdf(numPlanes)(col("embedding")))
        .withColumn("sigp", sigPrefix(col("sig"))))
      .withColumn("np", lit(numPlanes))

  /** Self-healing, TEAR-CHECKED store read: promote any torn
    * write-then-swap, then assert the table's rows were signed in the
    * plane space meta pins. The refine crash window this catches —
    * vectors swapped to the new plane space, meta still the old count —
    * would otherwise make every (sigp, sig) probe join silently miss
    * (probe signatures computed in the old space, stored sigs in the
    * new): near-zero recall with no error until the next refine. Tables
    * are only ever swapped WHOLE ([[graft.BatchSink.replaceTable]]) and
    * incremental batches are signed against the stored meta, so one
    * row's `np` answers for the whole table — a single-row driver read,
    * same cost class as the meta read itself.
    */
  private def readSigned(spark: SparkSession, dir: String, table: String,
                         np: Int): DataFrame = {
    val df = graft.BatchSink.readHealed(spark, s"$dir/$table")
    require(df.columns.contains("np"),
      s"AnnLshIndex: $dir/$table predates tear detection (no np column) — " +
        "re-run AnnLshIndex.init to rebuild the index")
    // take(1), not head(): an index init'd on an empty corpus has an
    // empty (trivially consistent) table and must stay addable/searchable
    df.select("np").take(1).foreach { row =>
      val storedNp = row.getInt(0)
      require(storedNp == np,
        s"AnnLshIndex: $dir/$table is signed with $storedNp planes but meta pins $np — " +
          "a refine crashed between the table swap and the meta rewrite; " +
          "re-run refine(newNumPlanes) to heal the index")
    }
    df
  }

  /** Meta rides the same write-then-swap as the data tables (review
    * finding r14: a plain mode(overwrite) rewrite first DELETES the
    * old meta, so a crash mid-write left the index with NO meta —
    * [[numPlanes]] then refused with "run init first" and the refine
    * scaladoc's "re-run refine to heal" was impossible, since refine
    * reads numPlanes first. A torn swap now heals on the next
    * [[numPlanes]] read and the old plane count keeps serving until
    * the new meta commits atomically).
    */
  private def writeMeta(spark: SparkSession, dir: String, numPlanes: Int): Unit = {
    import spark.implicits._
    graft.BatchSink.recoverSwap(spark, s"$dir/meta")
    Seq(numPlanes).toDF("num_planes").write.mode("overwrite").parquet(s"$dir/meta.swap")
    graft.BatchSink.commitSwapDir(spark, s"$dir/meta")
  }

  /** The index's pinned plane count. One-row metadata read (the only
    * driver-side value a search needs — the probe UDF is compiled
    * against it at plan time); heals a torn meta swap first.
    */
  def numPlanes(spark: SparkSession, dir: String): Int = {
    graft.BatchSink.recoverSwap(spark, s"$dir/meta")
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      s"AnnLshIndex: no index at $dir — run AnnLshIndex.init first")
    spark.read.parquet(s"$dir/meta").head().getAs[Int]("num_planes")
  }

  /** Build the index from an initial corpus (batch 0, static full
    * overwrite — stale incremental partitions cannot survive a rebuild).
    * Write order vectors → stats → meta: a crash mid-init leaves no
    * readable index (meta is written last and [[numPlanes]] checks it),
    * and re-running init heals everything.
    */
  def init(embeddings: DataFrame, dir: String,
           numPlanes: Int = AnnQueries.NumPlanes): Unit = {
    graft.expressions.GraftFunctions.register(embeddings.sparkSession)
    val signed = signedRows(embeddings, numPlanes)
    graft.BatchSink.writeBatch(signed, 0L, s"$dir/vectors",
      full = true, extraPartitionCols = Seq("sigp"))
    graft.BatchSink.writeBatch(
      AnnQueries.bucketStats(embeddings.sparkSession.read.parquet(s"$dir/vectors"))
        .withColumn("np", lit(numPlanes)),
      0L, s"$dir/stats", full = true)
    writeMeta(embeddings.sparkSession, dir, numPlanes)
  }

  /** Sign a batch of NEW vectors in the index's pinned signature space
    * and land it (and its bucket-stat rows) under its own partition.
    * Idempotent per batch id. The plane count comes from the stored
    * meta, so a caller holding a stale plane count CANNOT write rows in
    * a different signature space.
    */
  def addBatch(spark: SparkSession, newVectors: DataFrame, dir: String,
               batchId: Long): Unit = {
    graft.expressions.GraftFunctions.register(spark)
    val np = numPlanes(spark, dir)
    // readSigned's tear check, BEFORE landing: on an index torn by a
    // crashed refine (vectors already in the new plane space, meta
    // still old) this batch would be signed in the OLD space and land
    // into a MIXED table — which the one-row search-time check can
    // then false-pass. Refuse here instead; re-running refine heals.
    readSigned(spark, dir, "vectors", np)
    val signed = signedRows(newVectors, np).localCheckpoint()
    graft.BatchSink.writeBatch(signed, batchId, s"$dir/vectors",
      full = false, extraPartitionCols = Seq("sigp"))
    graft.BatchSink.writeBatch(
      AnnQueries.bucketStats(signed).withColumn("np", lit(np)), batchId,
      s"$dir/stats", full = false)
  }

  /** Merged per-signature bucket histogram of the stored index (sums
    * the per-batch stat partitions) — what the query-time guard and the
    * plane-count monitoring read. Index-sized metadata, not a corpus
    * scan.
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    graft.BatchSink.readHealed(spark, s"$dir/stats")
      .groupBy(col("sig")).agg(sum(col("n")).cast("long").as("n"))

  /** Multi-probe LSH search against the stored index. Same probe set,
    * scoring and rank as the inline [[AnnQueries.lshTopKMultiProbe]]
    * (AnnLshIndexSpec pins persisted == inline on both oracled
    * queries); candidates guarded against the PERSISTED bucket stats
    * ([[AnnQueries.guardWithStats]] — tiny stored table, no corpus
    * re-aggregation). The vectors scan is restricted to the probed
    * buckets' `sigp` directories via dynamic partition pruning.
    */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbes: Int = 1, maxBucket: Int = 4096): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val np = numPlanes(spark, dir)
    // the guard rides the (broadcast) PROBE side, not the vectors scan:
    // sitting between the scan and the probe join it would block the
    // dynamic-partition-pruning pattern the sigp partitioning exists
    // for, and the guard's own input is the tiny stored stats table
    // either way. Any search with >= 1 query row evaluates it.
    val probes = AnnQueries.guardWithStats(
      queries
        .select(col("q_id"), col("qv"),
          explode(AnnQueries.probeSigsUdf(np, nProbes)(col("qv"))).as("sig"))
        .withColumn("sigp", sigPrefix(col("sig"))),
      readSigned(spark, dir, "stats", np), maxBucket)
    val cands = readSigned(spark, dir, "vectors", np)
      .select("vec_id", "embedding", "sig", "sigp")
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    cands.join(broadcast(probes), Seq("sigp", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        // rankedCosine, not cosineScore (review finding r15): a
        // zero-norm stored vector scores NaN, which sorts ABOVE every
        // double under desc — it would sit at rank 1 of every probing
        // query's top-k; the -2.0 pin ranks degenerates last (the
        // denseTopK / VectorQueries discipline)
        VectorOps.rankedCosine(col("embedding"), col("qv")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("rnk"), col("score"))
  }

  /** int8-scored LSH search against the STORED codes — same
    * memory-bound read path as [[AnnIndex.searchInt8]]: candidates in
    * the probed buckets are ranked by the exact integer dot of the
    * stored tinyint `pq` codes rescaled by `sp` and the query's scale,
    * reading 1-byte components and never the embedding column (pruned
    * at the scan), still sigp-partition-pruned. Zero-norm queries are
    * dropped (no valid code — the same documented divergence as the
    * IVF pair); an index without stored codes fails with an explicit
    * message. AnnLshIndexSpec pins the ranking equal to the same int8
    * formula computed inline from the raw embeddings.
    */
  def searchInt8(spark: SparkSession, dir: String, queries: DataFrame,
                 k: Int, nProbes: Int = 1, maxBucket: Int = 4096): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val np = numPlanes(spark, dir)
    val stored = readSigned(spark, dir, "vectors", np)
    require(stored.columns.contains("pq") && stored.columns.contains("sp"),
      s"AnnLshIndex.searchInt8: index at $dir has no stored int8 codes (pq/sp columns) — " +
        "it predates code storage; re-run AnnLshIndex.init/addBatch to rebuild with codes")
    val probes = AnnQueries.guardWithStats(
      queries
        .withColumn("qn", VectorOps.norm(col("qv"))).filter(col("qn") > 0)
        .withColumn("qm", VectorOps.maxNormed(col("qv"), col("qn")))
        .select(col("q_id"),
          explode(AnnQueries.probeSigsUdf(np, nProbes)(col("qv"))).as("sig"),
          VectorOps.int8Code(col("qv"), col("qn"), col("qm")).as("qq"),
          (col("qm") / lit(127.0)).as("sq"))
        .withColumn("sigp", sigPrefix(col("sig"))),
      readSigned(spark, dir, "stats", np), maxBucket)
    val cands = stored.select("vec_id", "sig", "sigp", "pq", "sp")
      .filter(col("pq").isNotNull)
    VectorOps.rankInt8(cands, probes, Seq("sigp", "sig"), k)
  }

  /** Raise the index's plane count IN PLACE: re-sign the stored
    * embeddings with `newNumPlanes` and rewrite vectors → stats → meta.
    * The nesting property makes this a pure REFINEMENT — every new
    * signature masks back to the old one (new & (2^old - 1) == old,
    * AnnLshIndexSpec proves it on the stored rows), so existing buckets
    * only split, `sigp` partitions never move, and the upgrade needs no
    * re-derivation of the existing planes. This is the documented
    * response to the bucket guard firing: corpus doubled → add a plane.
    *
    * Each table rewrite is crash-safe (write-then-swap,
    * [[graft.BatchSink.replaceTable]]); meta is rewritten LAST, so a
    * crash anywhere mid-refine leaves meta at the old plane count and
    * re-running refine(newNumPlanes) heals deterministically — and the
    * torn window in between is LOUD, not silent: every stored row
    * carries its signing plane count, and [[readSigned]] refuses to
    * search a table whose rows disagree with meta (otherwise the
    * old-space probes would just miss the new-space sigs — near-zero
    * recall with no error). Like [[compact]], refine folds batch
    * history into the high-water batch id — run it only on a quiesced
    * index.
    */
  def refine(spark: SparkSession, dir: String, newNumPlanes: Int): Unit = {
    graft.expressions.GraftFunctions.register(spark)
    val old = numPlanes(spark, dir)
    require(newNumPlanes > old,
      s"AnnLshIndex.refine: newNumPlanes=$newNumPlanes must exceed the stored $old " +
        "(signatures nest upward; lowering planes would merge buckets, not refine them)")
    graft.BatchSink.recoverSwap(spark, s"$dir/vectors") // heal before the source read
    graft.BatchSink.recoverSwap(spark, s"$dir/stats") // its listing is read below too
    val resigned = signedRows(
      spark.read.parquet(s"$dir/vectors").select("vec_id", "embedding"), newNumPlanes)
    // fold into the high-water batch id, like compact: the relay's
    // stale-checkpoint guard reads max(batch_id) from the listing
    val vHigh = graft.BatchSink.batchIds(spark, s"$dir/vectors").foldLeft(0L)(math.max)
    val sHigh = graft.BatchSink.batchIds(spark, s"$dir/stats").foldLeft(0L)(math.max)
    graft.BatchSink.replaceTable(resigned, s"$dir/vectors", Seq("sigp"), batchId = vHigh)
    graft.BatchSink.replaceTable(
      AnnQueries.bucketStats(spark.read.parquet(s"$dir/vectors"))
        .withColumn("np", lit(newNumPlanes)),
      s"$dir/stats", batchId = sHigh)
    writeMeta(spark, dir, newNumPlanes)
  }

  /** The index's [[graft.BatchStore]] declaration: the signed vectors
    * (folded by row under their `sigp` partitions) and the per-batch
    * bucket stats, which accumulate partitions at the same rate —
    * [[stats]] sums per-signature rows, so their row fold is
    * sum-invariant. Fed the embedded vectors.
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore("AnnLshIndex.init",
      Seq(graft.BatchTable.Rows(s"$dir/vectors", Seq("sigp")),
        graft.BatchTable.Rows(s"$dir/stats")),
      graft.BatchStore.Vectors, (v, batchId) => addBatch(v.sparkSession, v, dir, batchId))

  /** Fold all batch partitions of both tables into the high-water
    * batch id — see
    * [[graft.BatchSink.compact]] for the crash-safety and quiescence
    * contract. Search results are identical before/after (spec'd); the
    * file count drops from #batches × #prefixes to #prefixes.
    */
  def compact(spark: SparkSession, dir: String): Unit = store(dir).compact(spark)
}
