package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.TextOps

/** Persisted incremental-dedup index: the 100 TB ingestion pattern that
  * `dedup_incremental` (inline derivation, same joins via
  * [[dedupAgainst]] — one definition, two backings) only *describes*,
  * made concrete as two parquet tables:
  *
  *   <dir>/fp     — distinct md5 content fingerprints of the accepted corpus
  *   <dir>/bands  — distinct (band, sig) minhash LSH band index rows
  *
  * Ingestion cycle (reference analog: the already-processed check in
  * frappe_data_pipelines' backfill, api.py bulk path, generalized to
  * content identity): `dedupBatch` runs the incoming batch against the
  * stored index (one anti-join on fp, one left_semi on bands — both
  * batch-sized equi-joins), then `accept` lands the survivors' fp and
  * band rows. No full-corpus recompute, no O(corpus²) self-join ever.
  *
  * Crash safety: `accept` writes each batch to its own `batch_id`
  * partition with DYNAMIC partition overwrite (the same idempotent-sink
  * shape as the streaming relay). A crash between the fp write and the
  * bands write leaves a torn index, but retrying `accept` with the SAME
  * batch id overwrites exactly its own partition on both tables — the
  * retry heals the tear and can never double-append. Both tables carry
  * the partition column; index readers join only on fp / (band, sig).
  *
  * Appends stay exactly equal to a from-scratch rebuild because accepted
  * rows are, by construction, disjoint from the stored index on both keys:
  * an accepted doc's fp was absent from fp (anti-join) and none of its
  * (band, sig) rows hit bands (semi-join produced no match). Within-batch
  * duplicates are collapsed by the per-batch `distinct()`.
  * DedupIndexSpec asserts equivalence and accept-retry idempotency.
  */
object DedupIndex {

  /** Distinct content fingerprints of `docs` (column `fp`). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(md5(col("text").cast("binary")).as("fp")).distinct()

  /** Distinct minhash LSH band rows of `docs` (columns `band`, `sig`). */
  def bandRows(docs: DataFrame): DataFrame =
    docs
      .select(posexplode(TextOps.minhashBandsUdf(col("text"))).as(Seq("band", "sig")))
      .distinct()

  /** Build the index from an initial corpus (batch 0; full overwrite via
    * [[graft.BatchSink]], which pins STATIC overwrite so a rebuild can
    * never leave stale incremental partitions behind).
    */
  def init(docs: DataFrame, dir: String): Unit = {
    graft.BatchSink.writeBatch(fingerprints(docs), 0L, s"$dir/fp", full = true)
    graft.BatchSink.writeBatch(bandRows(docs), 0L, s"$dir/bands", full = true)
  }

  /** The incremental-dedup join pipeline itself, independent of how the
    * existing-side index is backed: exact dupes fall to an anti-join on
    * the content fingerprint, near-dups to a left_semi against the
    * minhash LSH band index, and WITHIN-batch exact duplicates collapse
    * to the smallest doc_id — without that last step, two same-content
    * docs arriving in one batch would BOTH survive (the index only
    * holds earlier batches) while `accept`'s distinct() lands one fp
    * row, leaving downstream sinks (the ANN inverted file) with more
    * vectors than the dedup index has contents. Within-batch NEAR-dups
    * are deliberately out of scope here — that is the full pair problem
    * the batch operators (dedup_minhash_*) own.
    * `dedup_incremental` (inline, oracle-replayable) and [[dedupBatch]]
    * (parquet-backed) are both this function — the single source of
    * truth DedupIndexSpec pins. Returns the accepted rows (all incoming
    * columns plus `fp`).
    */
  def dedupAgainst(incoming: DataFrame, existingFp: DataFrame,
                   existingBands: DataFrame): DataFrame = {
    val exactNew = incoming
      .withColumn("fp", md5(col("text").cast("binary")))
      .join(existingFp.select("fp"), Seq("fp"), "left_anti")
    val nearDupIds = exactNew
      .select(col("doc_id"), posexplode(TextOps.minhashBandsUdf(col("text"))).as(Seq("band", "sig")))
      .join(existingBands.select("band", "sig"), Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
    collapseWithinBatch(exactNew.join(nearDupIds, Seq("doc_id"), "left_anti"))
  }

  /** The within-batch survivor collapse both increment forms share
    * (smallest doc_id per fp — see [[dedupAgainst]]'s scaladoc for
    * why). One definition so the documented
    * dedupAgainstBloom == dedupAgainst equivalence cannot drift on a
    * future change to the collapse rule.
    */
  private def collapseWithinBatch(survivors: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    survivors
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The stored index tables, healed first: a crash between
    * [[graft.BatchSink.compact]]'s two renames leaves a committed
    * `.swap` beside a missing live dir — every sibling store's reader
    * promotes it before reading, and these must too (review finding
    * r14: the dedup dir-store readers were the one family that skipped
    * the heal and threw PATH_NOT_FOUND instead).
    */
  private def readIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (graft.BatchSink.readHealed(spark, s"$dir/fp"),
      graft.BatchSink.readHealed(spark, s"$dir/bands"))

  /** Dedup `incoming` against the stored index. */
  def dedupBatch(spark: SparkSession, dir: String, incoming: DataFrame): DataFrame = {
    val (fp, bands) = readIndex(spark, dir)
    dedupAgainst(incoming, fp, bands)
  }

  /** Bloom prefilters over the index keys — the increment accelerator
    * that removes the plain layout's remaining linear term (PLANS.md
    * prof24 caveat: the per-batch anti/semi joins shuffle the INDEX side
    * because a left-anti/semi probe cannot broadcast its stream side).
    * Built DISTRIBUTED (Spark's sketch aggregate: per-partition blooms
    * OR-merged treewise — one scan, no collect of keys); the driver
    * holds only the final bitset (~1.2 MB per 1M keys at 1% fpp).
    *
    * Bloom semantics keep the operator EXACT: no false negatives, so a
    * bloom-miss row is PROVABLY absent from the index and skips the
    * confirm join; false positives are re-checked by a real equi-join
    * against the index. The filter changes the plan, never the output
    * ([[dedupAgainstBloom]] ≡ [[dedupAgainst]], DedupBloomSpec).
    *
    * `expectedItems` is a capacity CONTRACT, not a measurement — sizing
    * from a count would cost an extra index scan per build. Past
    * capacity the fpp degrades gracefully (more confirm-join traffic,
    * same output); at 10^11 keys a single bloom is ~150 GB, so the
    * far-scale form keeps one bloom PER COMPACTED SEGMENT (build rides
    * `compact`'s existing full read) and a batch probes the OR-merge —
    * the fallback is always the plain [[dedupAgainst]]/bucketed path.
    */
  def buildBlooms(existingFp: DataFrame, existingBands: DataFrame,
                  expectedItems: Long = 1L << 20,
                  fpp: Double = 0.01): (BloomFilter, BloomFilter) = {
    val fpBloom = existingFp.stat.bloomFilter("fp", expectedItems, fpp)
    val bandBloom = existingBands
      .select(concat_ws("|", col("band"), col("sig")).as("bs"))
      .stat.bloomFilter("bs", expectedItems, fpp)
    (fpBloom, bandBloom)
  }

  /** [[dedupAgainst]] with bloom prefilters: the batch-increment shape
    * where the stored index is SCANNED but never EXCHANGED.
    *
    * Exact rung: only the bloom-HIT sliver of the incoming batch can
    * possibly collide, so the index confirm flips the join direction —
    * `existingFp LEFT SEMI broadcast(hit fps)` scans the index with a
    * broadcast probe (zero index-side shuffle) and yields the confirmed
    * collisions (≤ batch-sized), which then broadcast back into the
    * batch-side anti-join. Near-dup rung: same flip over the band index
    * with the bloom dropping non-colliding band rows before the scan.
    * Every exchange left in the plan moves BATCH-sized data; the spec
    * pins the hashpartitioning-exchange count to the one window shuffle
    * of the survivors (vs 5+ index-side exchanges in the plain form).
    *
    * Null `text` ⇒ null `fp`: mightContain(null)=false routes the row
    * around the confirm join — the same outcome the plain form's
    * equi-anti-join gives null keys (never matched, always kept).
    */
  def dedupAgainstBloom(incoming: DataFrame, existingFp: DataFrame,
                        existingBands: DataFrame,
                        fpBloom: BloomFilter, bandBloom: BloomFilter): DataFrame = {
    val sc = incoming.sparkSession.sparkContext
    val fpB = sc.broadcast(fpBloom)
    val bandB = sc.broadcast(bandBloom)
    val mightFp = udf((s: String) => s != null && fpB.value.mightContain(s))
    val mightBand = udf((s: String) => s != null && bandB.value.mightContain(s))

    val withFp = incoming.withColumn("fp", md5(col("text").cast("binary")))
    val hitFps = withFp.filter(mightFp(col("fp"))).select("fp").distinct()
    val confirmedFps = existingFp.select("fp")
      .join(broadcast(hitFps), Seq("fp"), "left_semi").distinct()
    val exactNew = withFp.join(broadcast(confirmedFps), Seq("fp"), "left_anti")

    val batchBands = exactNew
      .select(col("doc_id"), posexplode(TextOps.minhashBandsUdf(col("text"))).as(Seq("band", "sig")))
      .filter(mightBand(concat_ws("|", col("band"), col("sig"))))
    val confirmedBands = existingBands.select("band", "sig")
      .join(broadcast(batchBands.select("band", "sig").distinct()),
        Seq("band", "sig"), "left_semi").distinct()
    val nearDupIds = batchBands
      .join(broadcast(confirmedBands), Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
    collapseWithinBatch(
      exactNew.join(broadcast(nearDupIds), Seq("doc_id"), "left_anti"))
  }

  /** Persist / restore the blooms next to the index tables (one opaque
    * sketch file each, Hadoop FS so the layout follows the index to any
    * cluster filesystem), together with the WATERMARK — the highest
    * `batch_id` the blooms were built over. [[accept]] grows the index
    * without touching the blooms, and a bloom that has not seen a key
    * can return a FALSE NEGATIVE for it — which the prefilter treats as
    * "provably new", silently admitting a duplicate of a post-build
    * batch (review finding r14). The watermark makes staleness
    * detectable, and [[dedupBatchBloom]] stays EXACT on a stale bloom
    * by confirming the uncovered (newer-than-watermark) index slice
    * with the plain join pipeline. Rebuild rides `compact` in
    * production; the reader treats a missing file as "no bloom yet"
    * via the Option.
    */
  def writeBlooms(spark: SparkSession, dir: String,
                  blooms: (BloomFilter, BloomFilter), upToBatch: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def put(name: String, b: BloomFilter): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$name"), true)
      try b.writeTo(out) finally out.close()
    }
    put("fp.bloom", blooms._1)
    put("bands.bloom", blooms._2)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$BloomWatermark"), true)
    out.write(upToBatch.toString.getBytes("UTF-8")); out.close()
  }

  private val BloomWatermark = "blooms.watermark"

  def readBlooms(spark: SparkSession, dir: String): Option[(BloomFilter, BloomFilter)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def get(name: String): Option[BloomFilter] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(BloomFilter.readFrom(in)) finally in.close()
      }
    }
    for (f <- get("fp.bloom"); b <- get("bands.bloom")) yield (f, b)
  }

  /** The batch id the stored blooms cover up to; None for blooms
    * written before the watermark existed (treated as covering only
    * batch 0 — the init corpus — which is the only build the pre-
    * watermark callers performed).
    */
  def readBloomWatermark(spark: SparkSession, dir: String): Option[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$BloomWatermark")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Stored-index increment through the stored blooms (falls back to the
    * plain join pipeline when no bloom has been built yet). EXACT under
    * bloom staleness: the bloom prefilter runs only against the index
    * partitions the bloom was built over (`batch_id <= watermark` —
    * partition-pruned), and the survivors are then confirmed against
    * the UNCOVERED newer partitions with the plain pipeline. The
    * uncovered slice is whatever landed since the last rebuild — recent
    * batches, batch-sized-ish — so the extra confirm joins move sliver
    * data, and the far-scale contract (index side never exchanged for
    * the covered bulk) is preserved.
    */
  def dedupBatchBloom(spark: SparkSession, dir: String, incoming: DataFrame): DataFrame = {
    val (fp, bands) = readIndex(spark, dir)
    readBlooms(spark, dir) match {
      case Some((fpBloom, bandBloom)) =>
        val covered = readBloomWatermark(spark, dir).getOrElse(0L)
        val landed = graft.BatchSink.batchIds(spark, s"$dir/fp") ++
          graft.BatchSink.batchIds(spark, s"$dir/bands")
        val stale = landed.nonEmpty && landed.max > covered
        val prefiltered = dedupAgainstBloom(incoming,
          fp.filter(col("batch_id") <= covered),
          bands.filter(col("batch_id") <= covered), fpBloom, bandBloom)
        if (!stale) prefiltered
        else dedupAgainst(prefiltered,
          fp.filter(col("batch_id") > covered),
          bands.filter(col("batch_id") > covered))
      case None => dedupAgainst(incoming, fp, bands)
    }
  }

  /** Dedup `incoming` against the index as it stood BEFORE `batchId`:
    * the read is pinned to earlier batch partitions (a partition-pruned
    * filter on the `batch_id` partition column — no data files of later
    * batches are touched). A whole-cycle retry of a batch whose `accept`
    * already landed then re-derives the SAME survivor set instead of
    * dropping the batch against its own rows — which is what makes the
    * full ingest cycle (dedup → accept → embed → ANN add) idempotent
    * under crash-retry END TO END, not just each sink in isolation
    * (IngestLifecycleSpec drives the cross-index proof).
    */
  def dedupBatch(spark: SparkSession, dir: String, incoming: DataFrame,
                 batchId: Long): DataFrame = {
    val (fp, bands) = readIndex(spark, dir)
    dedupAgainst(incoming,
      fp.filter(col("batch_id") < batchId),
      bands.filter(col("batch_id") < batchId))
  }

  /** Land an ACCEPTED batch (output of `dedupBatch`) in the index under
    * its own `batch_id` partition. Idempotent per batch id: a retry
    * after a crash overwrites its own partition instead of appending a
    * second copy.
    */
  def accept(accepted: DataFrame, dir: String, batchId: Long): Unit = {
    // torn-compact heals ride writeBatch itself (r15 — the pre-write
    // heal is the sink's job, covering every index sink in one place)
    graft.BatchSink.writeBatch(fingerprints(accepted), batchId, s"$dir/fp", full = false)
    graft.BatchSink.writeBatch(bandRows(accepted), batchId, s"$dir/bands", full = false)
  }

  /** The dir store's [[graft.BatchStore]] declaration: both tables,
    * folded by row, fed the accepted survivors through [[accept]].
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore("DedupIndex.init",
      Seq(graft.BatchTable.Rows(s"$dir/fp"), graft.BatchTable.Rows(s"$dir/bands")),
      graft.BatchStore.Survivors, (docs, batchId) => accept(docs, dir, batchId))

  /** Where a maintenance relay dedups each batch and accepts its
    * survivors: the dir store or the bucketed catalog tables. Both keep
    * the pinned `batch_id < n` read and the idempotent per-batch
    * accept, so a replayed batch re-derives and re-lands the same
    * survivors.
    */
  sealed trait Backing {

    /** The store the relay's guard, cadence and accept loop over. */
    def store: graft.BatchStore

    /** `incoming` deduped against the index as it stood before `batchId`. */
    def survivors(incoming: DataFrame, batchId: Long): DataFrame
  }

  /** The parquet-dir store at `dir` ([[init]]). */
  final case class Dir(dir: String) extends Backing {
    def store: graft.BatchStore = DedupIndex.store(dir)
    def survivors(incoming: DataFrame, batchId: Long): DataFrame =
      dedupBatch(incoming.sparkSession, dir, incoming, batchId)
  }

  /** The bucketed catalog tables ([[initBucketed]]) — the far-scale
    * mode, with zero index-side exchange per increment. The relay's
    * stale-checkpoint guard is each epoch's one heal and listing
    * refresh of both tables, so the read and the accept skip theirs
    * (`heal = false`; single writer, so no new torn swap can appear
    * mid-epoch). The tables fold only at a quiesce point
    * ([[compactBucketed]] folds the WHOLE batch history, which a live
    * epoch's crashed first attempt must never join), so the relay's
    * cadence leaves them alone.
    */
  final case class Bucketed(fpTable: String, bandsTable: String) extends Backing {
    def store: graft.BatchStore =
      graft.BatchStore("DedupIndex.initBucketed",
        Seq(BucketedTable(fpTable), BucketedTable(bandsTable)), graft.BatchStore.Survivors,
        (docs, batchId) => acceptBucketed(docs, fpTable, bandsTable, batchId, heal = false))
    def survivors(incoming: DataFrame, batchId: Long): DataFrame =
      dedupBatchBucketed(incoming.sparkSession, fpTable, bandsTable, incoming, batchId,
        heal = false)
  }

  /** Fold all batch partitions of both tables into the high-water
    * batch id — small-file
    * hygiene after many accepted batches. Crash-safe write-then-swap
    * ([[graft.BatchSink.compact]]). QUIESCENCE MATTERS MORE HERE than
    * for the ANN tables: the batch-pinned reader (`dedupBatch(...,
    * batchId)` reads `batch_id < batchId`) relies on batch history for
    * whole-cycle crash-retry idempotency, and compaction rewrites that
    * history — so compact only when no batch can be retried (stream
    * stopped with its checkpoint committed, or between batch jobs).
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    store(dir).compact(spark)
    // the bloom rebuild RIDES the compaction (as the bloom scaladoc has
    // always promised — now actually done): the fold just rewrote every
    // key anyway, and a fold moves all rows to the high-water batch id,
    // which would otherwise leave the stored blooms covering nothing
    // (watermark < folded id ⇒ the whole index reads as uncovered).
    // Only when blooms exist — an index run without the accelerator
    // stays without it.
    if (readBlooms(spark, dir).isDefined) {
      val (fp, bands) = readIndex(spark, dir)
      val upTo = (graft.BatchSink.batchIds(spark, s"$dir/fp") :+ 0L).max
      writeBlooms(spark, dir, buildBlooms(fp, bands), upTo)
    }
  }

  // ---------------------------------------------------------------------
  // BUCKETED index store — the far-scale layout (PLANS.md round 10,
  // prof24): the plain dir layout's per-batch anti/semi joins shuffle
  // the INDEX side every increment (a left-anti/semi probe cannot
  // broadcast its stream side), which is the linear term once the index
  // dwarfs the batch. Storing `fp` and `bands` as catalog tables
  // bucketed on their join keys satisfies the joins' distribution
  // requirement straight from the files, so each increment exchanges
  // only the (tiny) incoming batch — ZERO index-side exchange
  // (DedupIndexBucketedSpec walks the plan and asserts no Exchange
  // subtree contains an index-table scan, with output parity vs the
  // plain path).
  //
  // Same `batch_id`-partition discipline as the dir store (partitioned
  // by batch_id AND bucketed by the join key): `acceptBucketed` lands a
  // batch with DYNAMIC partition overwrite of exactly its own
  // partition, so a crash-retry heals instead of double-appending, and
  // the pinned `batch_id < n` read gives whole-cycle replay idempotency
  // — the dir-store contract, carried over verbatim. The one weaker
  // guarantee: `compactBucketed`'s table swap is DROP + RENAME in the
  // catalog (metastore ops, not the dir store's sentinel-verified
  // rename pair), so it must run quiesced — which `compact` already
  // requires for replay-correctness reasons anyway.
  // ---------------------------------------------------------------------

  /** Create/replace the bucketed index tables from an initial corpus
    * (batch 0). fp is bucketed by `fp`, bands by `(band, sig)` — each
    * table's own join key.
    *
    * `location = Some(dir)` creates EXTERNAL tables at `dir/fp` and
    * `dir/bands` instead of warehouse-managed ones — the deployment
    * shape where the table data lives with the pipeline's other
    * artifacts (and, for the driver-gated relay replay, inside a
    * salted tmp root its GC already owns). Because DROP TABLE leaves
    * external data behind, a re-init CLEARS the two locations first —
    * the init contract ("a rebuild can never leave stale batch
    * partitions behind") must hold for both table kinds.
    *
    * DESTRUCTIVE-CLEAR SCOPE (ADVICE r18): the pre-drop clear of a
    * PREVIOUS external incarnation recursively deletes that
    * incarnation's location — but ONLY when the location's leaf
    * directory is named `fp` or `bands`, the layout this store itself
    * creates. A prior incarnation whose location points anywhere else
    * (e.g. a shared directory some other tool registered the table
    * over) is left untouched: its table entry is dropped, its data
    * orphaned deliberately — the caller who placed it there owns it.
    * The `location` passed to THIS call is always cleared at
    * `location/fp` and `location/bands` (never the root), so a shared
    * parent directory only ever loses those two subtrees. Note
    * `compactBucketed`'s staging swap stays warehouse-managed; it is
    * quiesce-only anyway and a compacted external store should be
    * re-inited at its location afterwards if external placement must
    * be preserved.
    */
  def initBucketed(docs: DataFrame, fpTable: String, bandsTable: String,
                   buckets: Int = 8, location: Option[String] = None): Unit = {
    val s = docs.sparkSession
    // If a PREVIOUS incarnation of either table was EXTERNAL, clear its
    // data before dropping it (review finding r18): DROP TABLE leaves
    // external data behind, so a re-init that omits or changes
    // `location` would otherwise orphan the old batch history forever
    // — the same stale-resurrection hazard the new-location clear below
    // guards, one incarnation earlier.
    Seq(fpTable, bandsTable).foreach { tbl =>
      val cat = s.sessionState.catalog
      val id = s.sessionState.sqlParser.parseTableIdentifier(tbl)
      if (cat.tableExists(id)) {
        val meta = cat.getTableMetadata(id)
        if (meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL) {
          val loc = new org.apache.hadoop.fs.Path(meta.location)
          // scope guard (ADVICE r18): only clear a location whose leaf
          // matches this store's own layout — a prior incarnation
          // registered over a foreign directory is dropped from the
          // catalog but its data is NOT deleted (see scaladoc)
          if (loc.getName == "fp" || loc.getName == "bands")
            loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        }
      }
    }
    s.sql(s"DROP TABLE IF EXISTS $fpTable")
    s.sql(s"DROP TABLE IF EXISTS $bandsTable")
    location.foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$loc/fp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$loc/bands"), true)
    }
    def writer(df: DataFrame, sub: String) = {
      val w = df.write.partitionBy("batch_id")
      location.fold(w)(loc => w.option("path", s"$loc/$sub"))
    }
    writer(fingerprints(docs).select(col("fp"), lit(0L).as("batch_id")), "fp")
      .bucketBy(buckets, "fp").sortBy("fp")
      .format("parquet").saveAsTable(fpTable)
    writer(bandRows(docs).select(col("band"), col("sig"), lit(0L).as("batch_id")), "bands")
      .bucketBy(buckets, "band", "sig").sortBy("band", "sig")
      .format("parquet").saveAsTable(bandsTable)
  }

  /** Land an ACCEPTED batch in the bucketed tables under its own
    * `batch_id` partition — dynamic partition overwrite via insertInto
    * (positional: partition column last, matching the catalog schema),
    * which preserves the catalog bucket spec on the written files.
    * Retry-idempotent per batch id, like the dir store's `accept`.
    * `heal = false` skips the torn-swap recovery pass — for callers
    * (the streaming relay) that already healed both tables this epoch;
    * each recover is up to three catalog lookups per table, an RPC
    * each against a real metastore.
    */
  def acceptBucketed(accepted: DataFrame, fpTable: String, bandsTable: String,
                     batchId: Long, heal: Boolean = true): Unit = {
    // the overwrite mode must be DYNAMIC for insertInto on a catalog
    // table (the per-write option is not honored on this path — a
    // static overwrite would wipe every OTHER batch's partition), and
    // pinned explicitly rather than trusted from the session default
    val spark = accepted.sparkSession
    if (heal) Seq(fpTable, bandsTable).foreach(recoverBucketedSwap(spark, _))
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      fingerprints(accepted).select(col("fp"), lit(batchId).as("batch_id"))
        .write.mode("overwrite").insertInto(fpTable)
      bandRows(accepted).select(col("band"), col("sig"), lit(batchId).as("batch_id"))
        .write.mode("overwrite").insertInto(bandsTable)
      // a dynamic partition overwrite REPLACES the partition's files —
      // drop cached listings so a reader in the same session (the
      // relay's next epoch) never chases the replaced file names
      spark.catalog.refreshTable(fpTable)
      spark.catalog.refreshTable(bandsTable)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Dedup `incoming` against the bucketed index tables — identical
    * join pipeline ([[dedupAgainst]], single source of truth); the
    * bucketed scans just satisfy its distribution requirements for
    * free. The `batchId` form pins the read to strictly-earlier batch
    * partitions (partition pruning on `batch_id`; pruning does not
    * disturb the scan's bucket partitioning), mirroring
    * `dedupBatch(..., batchId)`'s whole-cycle replay contract.
    */
  def dedupBatchBucketed(spark: SparkSession, fpTable: String, bandsTable: String,
                         incoming: DataFrame): DataFrame = {
    Seq(fpTable, bandsTable).foreach { t =>
      recoverBucketedSwap(spark, t)
      // a concurrent/prior epoch's dynamic overwrite replaces partition
      // FILES — drop cached listings so this read never plans against
      // replaced file names (metadata-only; the scan itself re-lists)
      spark.catalog.refreshTable(t)
    }
    dedupAgainst(incoming, spark.table(fpTable), spark.table(bandsTable))
  }

  def dedupBatchBucketed(spark: SparkSession, fpTable: String, bandsTable: String,
                         incoming: DataFrame, batchId: Long,
                         heal: Boolean = true): DataFrame = {
    if (heal) Seq(fpTable, bandsTable).foreach { t =>
      recoverBucketedSwap(spark, t)
      spark.catalog.refreshTable(t)
    }
    dedupAgainst(incoming,
      spark.table(fpTable).filter(col("batch_id") < batchId),
      spark.table(bandsTable).filter(col("batch_id") < batchId))
  }

  /** PROMOTE the parquet-dir index into the bucketed catalog layout —
    * the documented migration step once the index dwarfs the batches
    * and the per-increment index-side shuffle becomes the linear term.
    * Batch ids are carried over verbatim (normalized to long from
    * partition inference), so the pinned `batch_id < n` replay
    * contract continues across the layout switch: a relay can promote
    * at a quiesce point and resume against the tables with the same
    * batch history. Crash contract: each table's swap window heals via
    * [[recoverBucketedSwap]], but a crash BETWEEN the two commits
    * leaves a mixed pair (new fp, old bands) — re-run the promotion to
    * completion before serving from the tables; it is idempotent (both
    * tables re-stage from the dir store, which promotion never
    * mutates). DedupIndexBucketedSpec pins promoted == dir-store
    * output and the zero-index-side-exchange plan on the promoted
    * tables.
    */
  def promoteBucketed(spark: SparkSession, dir: String,
                      fpTable: String, bandsTable: String,
                      buckets: Int = 8): Unit = {
    graft.BatchSink.recoverSwap(spark, s"$dir/fp")
    graft.BatchSink.recoverSwap(spark, s"$dir/bands")
    Seq(fpTable, bandsTable).foreach(recoverBucketedSwap(spark, _))
    // phase 1: land BOTH staging tables (pending-marked) while the dir
    // store and any existing live tables stay untouched — a crash here
    // loses only staging work
    def stage(src: DataFrame, table: String, bucketCols: Seq[String]): Unit = {
      val staging = table + "_compact_swap"
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      src
        .repartition(buckets, bucketCols.map(col): _*)
        .write.partitionBy("batch_id")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .format("parquet").saveAsTable(staging)
      spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES ('$SwapPendingProp' = 'true')")
    }
    stage(spark.read.parquet(s"$dir/fp")
      .select(col("fp"), col("batch_id").cast("long").as("batch_id")), fpTable, Seq("fp"))
    stage(spark.read.parquet(s"$dir/bands")
      .select(col("band"), col("sig"), col("batch_id").cast("long").as("batch_id")),
      bandsTable, Seq("band", "sig"))
    // phase 2: swap both in — each window is detectable and healed by
    // recoverBucketedSwap (same protocol as compactBucketed)
    Seq(fpTable, bandsTable).foreach(commitSwap(spark, _))
  }

  private val SwapPendingProp = "graft.compact.swap.pending"

  private def tableExists(spark: SparkSession, table: String): Boolean =
    spark.sessionState.catalog.tableExists(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** Heal a torn [[compactBucketed]] swap — the catalog analog of
    * [[graft.BatchSink.recoverSwap]]. The swap protocol marks the
    * staging table [[SwapPendingProp]] BEFORE the DROP+RENAME pair and
    * unsets it only after the post-rename partition repair, so every
    * crash window is detectable:
    *  - live table missing + pending staging present → finish the
    *    rename (the crash landed between DROP and RENAME);
    *  - live table present but still marked pending → the crash landed
    *    between RENAME and the partition repair; re-run the repair.
    * Idempotent; called automatically by every bucketed-store
    * entry point.
    */
  def recoverBucketedSwap(spark: SparkSession, table: String): Unit = {
    val staging = table + "_compact_swap"
    def pendingOn(t: String): Boolean =
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
        .properties.get(SwapPendingProp).contains("true")
    if (!tableExists(spark, table) && tableExists(spark, staging) && pendingOn(staging))
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    if (tableExists(spark, table) && pendingOn(table)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      if (meta.partitionColumnNames.nonEmpty)
        spark.sql(s"MSCK REPAIR TABLE $table")
      spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES ('$SwapPendingProp')")
      spark.catalog.refreshTable(table)
    }
  }

  /** Commit a pending-marked staging table over the live one: DROP the
    * live table (if any), RENAME the staging in, repair partitions,
    * clear the pending marker. Every crash window inside is healed by
    * [[recoverBucketedSwap]] — shared by [[compactBucketed]] and
    * [[promoteBucketed]].
    */
  private def commitSwap(spark: SparkSession, table: String): Unit = {
    val staging = table + "_compact_swap"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    // a managed-table rename moves the data directory but (in-memory
    // catalog) leaves partition metadata at the staging location —
    // re-discover partitions from the moved files and drop cached
    // listings so the next read sees the new layout
    spark.sql(s"MSCK REPAIR TABLE $table")
    spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES ('$SwapPendingProp')")
    spark.catalog.refreshTable(table)
  }

  /** Fold every batch partition of both bucketed tables into the
    * high-water batch id, PRESERVING the bucket spec (read from the
    * catalog, re-applied to the staging write) — small-file hygiene
    * after many accepted batches, after which increments still run
    * exchange-free on the index side (the spec re-asserts the plan
    * post-compaction). The staging-table swap is crash-safe via the
    * [[SwapPendingProp]] protocol ([[recoverBucketedSwap]] heals every
    * window); quiesce is still required for the same replay-correctness
    * reason as the dir store's `compact`.
    */
  def compactBucketed(spark: SparkSession, fpTable: String, bandsTable: String): Unit =
    Bucketed(fpTable, bandsTable).store.compact(spark)

  /** One bucketed index table as a [[graft.BatchTable]]. */
  private final case class BucketedTable(name: String) extends graft.BatchTable {

    /** Healed first — a table mid-swap would otherwise read as missing,
      * and its init hint (initBucketed) DROPs the tables, destroying the
      * batch history the swap protocol preserved. The listing comes
      * from SHOW PARTITIONS (catalog metadata, no data scan) after a
      * refresh: a prior epoch's dynamic overwrite replaced this
      * partition's files. The collect holds one string per partition
      * since the last [[compactBucketed]], so the quiesce-point
      * compaction cadence bounds it.
      */
    def highWater(spark: SparkSession): Option[Long] = {
      recoverBucketedSwap(spark, name)
      if (!spark.catalog.tableExists(name)) None
      else {
        spark.catalog.refreshTable(name)
        Some(spark.sql(s"SHOW PARTITIONS $name").collect().map(_.getString(0))
          .filter(_.startsWith("batch_id="))
          .map(_.stripPrefix("batch_id=").toLong)
          .foldLeft(0L)(math.max))
      }
    }

    def compactBelow(spark: SparkSession, upTo: Long): Unit = ()

    def compact(spark: SparkSession): Unit = {
      recoverBucketedSwap(spark, name)
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
      val bucketSpec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
        .getOrElse(throw new IllegalStateException(
          s"DedupIndex.compactBucketed: $name has no bucket spec — not a bucketed index table"))
      val highWater = spark.table(name)
        .agg(coalesce(max(col("batch_id").cast("long")), lit(0L))).head().getLong(0)
      val dataCols = spark.table(name).columns.filterNot(_ == "batch_id")
      // rows are disjoint across batches by accept's construction — a
      // plain rewrite, no distinct (the dir compact's invariant). The
      // repartition on the bucket key aligns tasks with buckets (same
      // Murmur3 hash family), so the fold lands ONE file per bucket
      // instead of tasks × buckets
      val folded = spark.table(name)
        .select((dataCols.map(col) :+ lit(highWater).as("batch_id")).toIndexedSeq: _*)
        .repartition(bucketSpec.numBuckets, bucketSpec.bucketColumnNames.map(col): _*)
      val staging = name + "_compact_swap"
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      // the same expected-vs-written verification the dir store's
      // compact inherits from BatchSink.replaceTable (review finding
      // r14: this path had neither the empty refusal nor the count
      // check, so a zero-row or short staging write would have been
      // swapped in silently): CollectMetrics rides the staging write,
      // the staged table's footers confirm it, and the live table is
      // untouched by a refusal
      val obs = org.apache.spark.sql.Observation()
      val writer0 = folded.observe(obs, count(lit(1)).as("n"))
        .write.partitionBy("batch_id")
        .bucketBy(bucketSpec.numBuckets,
          bucketSpec.bucketColumnNames.head, bucketSpec.bucketColumnNames.tail: _*)
      // a bucketed-but-unsorted table is legal — only sort when the
      // live table's spec says so
      val writer = bucketSpec.sortColumnNames match {
        case h +: t => writer0.sortBy(h, t: _*)
        case _      => writer0
      }
      writer.format("parquet").saveAsTable(staging)
      val expected =
        try obs.get("n").asInstanceOf[Long]
        catch { case _: NoSuchElementException => 0L } // empty-relation collapse
      if (expected == 0L) {
        spark.sql(s"DROP TABLE IF EXISTS $staging")
        throw new IllegalStateException(
          s"DedupIndex.compactBucketed: refusing to replace $name with an EMPTY fold — " +
            "the table read back 0 rows (drained? torn state?); the live table is untouched")
      }
      val written = spark.table(staging).count() // parquet footers only
      if (written != expected) {
        spark.sql(s"DROP TABLE IF EXISTS $staging")
        throw new IllegalStateException(
          s"DedupIndex.compactBucketed: staging $staging has $written rows, expected $expected — " +
            "aborting swap; the live table is untouched")
      }
      // arm the heal protocol BEFORE the destructive pair, then swap
      spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES ('$SwapPendingProp' = 'true')")
      commitSwap(spark, name)
    }
  }
}
