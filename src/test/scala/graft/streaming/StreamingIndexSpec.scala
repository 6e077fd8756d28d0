package graft.streaming

import graft.operators.{AnnIndex, AnnLshIndex, AnnPq, AnnPqStore, BpeStatsStore, DedupIndex,
  DistinctSketch, LangModelStore, NbModelStore, SourceSketch}
import graft.operators.TableAssertions.assertSameTable
import graft.pipeline.{IngestPipeline, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming form of the cross-index lifecycle: the
  * [[EventStreams.indexMaintenanceRelay]] keeps the dedup index AND the
  * ANN inverted file current with an arriving document stream, with a
  * crash injected at the worst point (dedup accept committed, ANN add
  * not yet run) and a checkpoint restart that must heal the tear —
  * plus a CROSS-BATCH duplicate that only the just-updated stored index
  * can catch.
  */
class StreamingIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def embedOf(docs: DataFrame): DataFrame =
    IngestPipeline.embedStage(docs.select(col("doc_id"), col("text").as("embedded_text")))
      .select(col("doc_id").as("vec_id"), col("embedding"))

  private def doc(id: Long, text: String): DataFrame = {
    val s = spark
    import s.implicits._
    Seq((id, s"src$id", "en", text.length.toLong, text))
      .toDF("doc_id", "source", "lang", "n_chars", "text")
  }

  /** Every data file under `table`, relative to it (`batch_id=N/...`),
    * sorted: a write to any partition replaces or adds file names.
    */
  private def batchFiles(table: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val prefix = fs.makeQualified(root).toString + "/"
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
      .map(_.stripPrefix(prefix)).filter(_.startsWith("batch_id=")).toVector.sorted
  }

  test("crash between dedup accept and ANN add heals on restart; cross-batch dup dropped") {
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-idx").toString
    val in = s"$tmp/in"; val dedupDir = s"$tmp/dedup"; val annDir = s"$tmp/ann"
    val lshDir = s"$tmp/lsh"; val cp = s"$tmp/cp"; val sketchDir = s"$tmp/sketch"
    val distinctDir = s"$tmp/distinct"
    val nbDir = s"$tmp/nbmodel"; val bpeDir = s"$tmp/bpestats"
    val langDir = s"$tmp/langmodel"
    val pqDir = s"$tmp/pq"

    // init both indexes from a 3-doc corpus (batch 0)
    val corpusA = doc(1, "alpha beta gamma delta epsilon zeta")
      .unionByName(doc(2, "eta theta iota kappa lambda mu"))
      .unionByName(doc(3, "nu xi omicron pi rho sigma"))
    DedupIndex.init(corpusA, dedupDir)
    val embA = embedOf(corpusA)
    AnnIndex.init(embA, annDir, quantizer = Some(AnnIndex.kmeans(embA, k = 2, iters = 2)))
    AnnLshIndex.init(embA, lshDir)
    graft.operators.SourceSketch.init(corpusA, sketchDir)
    graft.operators.DistinctSketch.init(corpusA, distinctDir)
    graft.operators.NbModelStore.init(corpusA, nbDir)
    graft.operators.BpeStatsStore.init(corpusA, bpeDir)
    graft.operators.LangModelStore.init(corpusA, langDir)
    // only 3 vectors exist, so the id-slice stand-in is empty — pass
    // the codebooks explicitly (K fewer than 8 entries is fine: encode
    // argmins over what exists, the LUT arrays shrink to match)
    graft.operators.AnnPqStore.init(embA, pqDir,
      codebooks = Some(graft.operators.AnnPq.codebooks(embA, baseId = 1L)))

    // stream file 1 (epoch 0 → batch 1): one new doc + one exact dup of
    // the initial corpus + one WITHIN-batch dup of the new doc (must
    // collapse to the smallest doc_id — the stored index can't catch
    // it); file 2 (epoch 1 → batch 2): one new doc + one exact dup of
    // FILE 1's new doc — catchable only if batch 1's accept is visible
    // to batch 2's dedup read.
    // one FILE per intended micro-batch (coalesce) and strictly ordered
    // modification times — the file source orders by (mtime, path), and
    // maxFilesPerTrigger=1 then yields exactly these two epochs
    doc(10, "tau upsilon phi chi psi omega")
      .unionByName(doc(11, "alpha beta gamma delta epsilon zeta"))
      .unionByName(doc(12, "tau upsilon phi chi psi omega"))
      .coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1200)
    doc(20, "aleph bet gimel dalet he vav")
      .unionByName(doc(21, "tau upsilon phi chi psi omega"))
      .coalesce(1).write.mode("append").parquet(in)

    val stores = Seq(AnnLshIndex.store(lshDir), AnnPqStore.store(pqDir),
      SourceSketch.store(sketchDir), DistinctSketch.store(distinctDir),
      NbModelStore.store(nbDir), LangModelStore.store(langDir), BpeStatsStore.store(bpeDir))

    // run 1: crash between batch 1's two index writes
    val q1 = EventStreams.indexMaintenanceRelay(s, in, DedupIndex.Dir(dedupDir), annDir, cp,
      maxFilesPerTrigger = Some(1), stores = stores,
      betweenSinks = bid => if (bid == 1L) throw new RuntimeException("injected crash"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    // torn state: batch 1's fp landed, its vectors did not
    assert(spark.read.parquet(s"$dedupDir/fp").count() === 4L)
    assert(spark.read.parquet(s"$annDir/cells").count() === 3L)

    // run 2: same checkpoint, no chaos — batch 1 replays, batch 2 runs
    val q2 = EventStreams.indexMaintenanceRelay(s, in, DedupIndex.Dir(dedupDir), annDir, cp,
      maxFilesPerTrigger = Some(1), stores = stores)
    try q2.processAllAvailable() finally q2.stop()

    // survivors: doc 10 (batch 1) and doc 20 (batch 2); dups 11 and 21
    // dropped — 21 by the CROSS-BATCH check against batch 1's accept
    val grown = corpusA.unionByName(doc(10, "tau upsilon phi chi psi omega"))
      .unionByName(doc(20, "aleph bet gimel dalet he vav"))
    assertSameTable(spark.read.parquet(s"$dedupDir/fp").select("fp"),
      DedupIndex.fingerprints(grown), "fp index vs rebuild")
    val storedCents = spark.read.parquet(s"$annDir/centroids").select("c_id", "cv")
    assertSameTable(
      spark.read.parquet(s"$annDir/cells").select("vec_id", "embedding", "cell"),
      AnnIndex.assign(embedOf(grown), storedCents), "inverted file vs rebuild")

    // and search over the stored index sees the streamed-in vectors
    val query = embedOf(doc(20, "aleph bet gimel dalet he vav"))
      .select(lit(-1L).as("q_id"), col("embedding").as("qv"))
    val hits = AnnIndex.search(spark, annDir, query, nprobe = 2, k = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(20L), s"search must see streamed doc 20 (got $hits)")

    // the third index rode the same lifecycle: stored LSH vectors ==
    // a from-scratch rebuild over the grown corpus, and its search
    // sees the streamed-in vector too
    val rebuiltLsh = s"$tmp/lsh-rebuilt"
    AnnLshIndex.init(embedOf(grown), rebuiltLsh)
    assertSameTable(
      spark.read.parquet(s"$lshDir/vectors").select("vec_id", "sig", "sigp", "pq", "sp"),
      spark.read.parquet(s"$rebuiltLsh/vectors").select("vec_id", "sig", "sigp", "pq", "sp"),
      "streamed LSH index vs rebuild")
    val lshHits = AnnLshIndex.search(spark, lshDir, query, k = 2, nProbes = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lshHits.contains(20L), s"LSH search must see streamed doc 20 (got $lshHits)")

    // the source-overlap sketch rode the same cycle (its batch-1 write
    // was lost to the injected crash and healed by the replay): the
    // stored min-fold equals a one-pass computation over the ACCEPTED
    // corpus
    assertSameTable(graft.operators.SourceSketch.read(spark, sketchDir),
      graft.operators.SourceSketch.signatures(grown),
      "streamed source sketch vs one-pass over accepted corpus")

    // the distinct-count sketch rode the same cycle under the same
    // crash: the KMV monoid fold of the streamed batches equals a
    // one-pass sketch over the accepted corpus
    assertSameTable(
      graft.operators.DistinctSketch.estimate(spark, distinctDir),
      graft.operators.SketchQueries.kmvEstimates(
        graft.operators.SketchQueries.kmvSketch(grown.select(col("source"),
          explode(graft.functions.TextOps.shingles3Udf(col("text"))).as("sh")))),
      "streamed distinct sketch vs one-pass over accepted corpus")

    // the trained-artifact stores rode the same cycle under the same
    // crash: batch-folded sufficient statistics equal a one-pass
    // derivation over the accepted corpus (sum-monoid over disjoint
    // batches + replay-healed partitions)
    assertSameTable(graft.operators.NbModelStore.readCounts(spark, nbDir),
      graft.operators.NbModelStore.counts(grown),
      "streamed NB counts vs one-pass over accepted corpus")
    assertSameTable(graft.operators.NbModelStore.readPriors(spark, nbDir),
      graft.operators.NbModelStore.priors(grown),
      "streamed NB priors vs one-pass over accepted corpus")
    assertSameTable(graft.operators.BpeStatsStore.read(spark, bpeDir),
      graft.operators.BpeStatsStore.counts(grown),
      "streamed BPE counts vs one-pass over accepted corpus")
    assertSameTable(graft.operators.LangModelStore.readCounts(spark, langDir),
      graft.operators.LangModelStore.counts(grown),
      "streamed lang counts vs one-pass over accepted corpus")
    assertSameTable(graft.operators.LangModelStore.readPriors(spark, langDir),
      graft.operators.LangModelStore.priors(grown),
      "streamed lang priors vs one-pass over accepted corpus")

    // the PQ code store rode the same cycle: stored codes == a one-pass
    // encode of the accepted corpus against the STORED codebooks
    assertSameTable(
      graft.operators.AnnPqStore.readCodes(spark, pqDir).orderBy("vec_id"),
      graft.operators.AnnPq.encode(embedOf(grown),
        graft.operators.AnnPqStore.readCodebooks(spark, pqDir)).orderBy("vec_id"),
      "streamed PQ codes vs one-pass encode over accepted corpus")

    // a FRESH checkpoint against the already-grown indexes restarts
    // epochs at 0 — the relay must refuse instead of dynamic-
    // overwriting old batch partitions piecemeal, and it must refuse
    // before it writes anything: every store's tables hold the same
    // batch_id partitions, file for file, after the refused run
    val tables = Seq(s"$dedupDir/fp", s"$dedupDir/bands", s"$annDir/cells",
      s"$lshDir/vectors", s"$lshDir/stats", s"$pqDir/codes", sketchDir, distinctDir,
      s"$nbDir/counts", s"$nbDir/priors", s"$langDir/counts", s"$langDir/priors", bpeDir)
    def listing(): Seq[Seq[String]] = tables.map(batchFiles)
    val before = listing()
    assert(before.forall(_.exists(_.startsWith("batch_id=2/"))), s"listing: $before")
    val q3 = EventStreams.indexMaintenanceRelay(s, in, DedupIndex.Dir(dedupDir), annDir,
      s"$tmp/cp-fresh", maxFilesPerTrigger = Some(1), stores = stores)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    q3.stop()
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("Re-init the indexes")),
      s"stale-checkpoint guard must fire: $msgs")
    tables.zip(before).zip(listing()).foreach { case ((t, b), a) =>
      assert(a == b, s"the refused run changed $t's batch partitions: $b -> $a")
    }
  }

  test("bucketed-dedup relay: crash heals on restart, cross-batch dup caught, guard fires") {
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-bkt").toString
    val in = s"$tmp/in"; val annDir = s"$tmp/ann"; val cp = s"$tmp/cp"
    def dropT(): Unit = Seq("srel_fp", "srel_bands", "srel_fp_compact_swap").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $t"))
    dropT()
    try {
      val corpusA = doc(1, "alpha beta gamma delta epsilon zeta")
        .unionByName(doc(2, "eta theta iota kappa lambda mu"))
      DedupIndex.initBucketed(corpusA, "srel_fp", "srel_bands")
      val embA = embedOf(corpusA)
      AnnIndex.init(embA, annDir, quantizer = Some(AnnIndex.kmeans(embA, k = 2, iters = 2)))

      // file 1 (batch 1): new doc + exact dup of the initial corpus;
      // file 2 (batch 2): new doc + dup of FILE 1's new doc — only
      // catchable if batch 1's acceptBucketed is visible to batch 2
      doc(10, "tau upsilon phi chi psi omega")
        .unionByName(doc(11, "alpha beta gamma delta epsilon zeta"))
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(1200)
      doc(20, "aleph bet gimel dalet he vav")
        .unionByName(doc(21, "tau upsilon phi chi psi omega"))
        .coalesce(1).write.mode("append").parquet(in)

      // run 1: crash between the bucketed accept and the ANN add
      val q1 = EventStreams.indexMaintenanceRelay(s, in,
        DedupIndex.Bucketed("srel_fp", "srel_bands"), annDir, cp,
        maxFilesPerTrigger = Some(1),
        betweenSinks = bid => if (bid == 1L) throw new RuntimeException("injected crash"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      q1.stop()
      // torn: batch 1's fp landed in the TABLE, its vectors did not
      assert(s.table("srel_fp").count() === 3L)
      assert(spark.read.parquet(s"$annDir/cells").count() === 2L)

      // additionally manufacture a torn quiesce-point swap on the fp
      // table (crash between compactBucketed's DROP-live and
      // RENAME-staging: live table gone, pending-marked staging
      // present). The restart's stale-checkpoint guard must HEAL this
      // before its existence check — a guard that checks first would
      // misreport "not initialized" and its hint (initBucketed) would
      // destroy the batch history
      s.sql("ALTER TABLE srel_fp SET TBLPROPERTIES " +
        "('graft.compact.swap.pending' = 'true')")
      s.sql("ALTER TABLE srel_fp RENAME TO srel_fp_compact_swap")

      // run 2: same checkpoint — batch 1 replays (pinned read derives
      // the same survivors; acceptBucketed overwrites its own
      // partition), batch 2 runs
      val q2 = EventStreams.indexMaintenanceRelay(s, in,
        DedupIndex.Bucketed("srel_fp", "srel_bands"), annDir, cp,
        maxFilesPerTrigger = Some(1))
      try q2.processAllAvailable() finally q2.stop()

      // the torn swap healed: live table back, pending marker cleared
      assert(!s.catalog.tableExists("srel_fp_compact_swap"))
      assert(!s.sessionState.catalog.getTableMetadata(
          s.sessionState.sqlParser.parseTableIdentifier("srel_fp"))
        .properties.contains("graft.compact.swap.pending"),
        "relay restart must clear the swap-pending marker")

      val grown = corpusA.unionByName(doc(10, "tau upsilon phi chi psi omega"))
        .unionByName(doc(20, "aleph bet gimel dalet he vav"))
      assertSameTable(s.table("srel_fp").select("fp"),
        DedupIndex.fingerprints(grown), "bucketed fp table vs rebuild")
      val storedCents = spark.read.parquet(s"$annDir/centroids").select("c_id", "cv")
      assertSameTable(
        spark.read.parquet(s"$annDir/cells").select("vec_id", "embedding", "cell"),
        AnnIndex.assign(embedOf(grown), storedCents),
        "inverted file vs rebuild (bucketed dedup leg)")

      // fresh checkpoint against the grown bucketed tables → the
      // table-partition stale-checkpoint guard must refuse
      val q3 = EventStreams.indexMaintenanceRelay(s, in,
        DedupIndex.Bucketed("srel_fp", "srel_bands"), annDir, s"$tmp/cp-fresh",
        maxFilesPerTrigger = Some(1))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      q3.stop()
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("Re-init the indexes")),
        s"bucketed stale-checkpoint guard must fire: $msgs")
    } finally dropT()
  }

  test("cadence hooks: identical search results, fewer batch partitions, audit rows land") {
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-cadence").toString
    val in = s"$tmp/in"

    val corpus = doc(1, "alpha beta gamma delta epsilon zeta")
      .unionByName(doc(2, "eta theta iota kappa lambda mu"))
      .unionByName(doc(3, "nu xi omicron pi rho sigma"))
    val emb = embedOf(corpus)

    // one file per epoch, ordered mtimes → 3 micro-batches (ids 1..3)
    doc(10, "tau upsilon phi chi psi omega").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1200)
    doc(20, "aleph bet gimel dalet he vav").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1200)
    doc(30, "zayin het tet yod kaf lamed").coalesce(1).write.mode("append").parquet(in)

    // every store the relay can keep, under `root`: the monoid stores
    // (sketches, NB, language, BPE) fold to their normal form in-stream
    def runRelay(suffix: String, hooks: Boolean): (String, String, String) = {
      val dedupDir = s"$tmp/dedup-$suffix"; val annDir = s"$tmp/ann-$suffix"
      val lshDir = s"$tmp/lsh-$suffix"; val root = s"$tmp/stores-$suffix"
      DedupIndex.init(corpus, dedupDir)
      AnnIndex.init(emb, annDir, quantizer = Some(AnnIndex.kmeans(emb, k = 2, iters = 2)))
      AnnLshIndex.init(emb, lshDir)
      AnnPqStore.init(emb, s"$root/pq", codebooks = Some(AnnPq.codebooks(emb, baseId = 1L)))
      SourceSketch.init(corpus, s"$root/sketch")
      DistinctSketch.init(corpus, s"$root/distinct")
      NbModelStore.init(corpus, s"$root/nbmodel")
      LangModelStore.init(corpus, s"$root/langmodel")
      BpeStatsStore.init(corpus, s"$root/bpestats")
      val auditQ = emb.limit(2).select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val q = EventStreams.indexMaintenanceRelay(s, in, DedupIndex.Dir(dedupDir), annDir,
        s"$tmp/cp-$suffix", maxFilesPerTrigger = Some(1),
        stores = Seq(AnnLshIndex.store(lshDir), AnnPqStore.store(s"$root/pq"),
          SourceSketch.store(s"$root/sketch"), DistinctSketch.store(s"$root/distinct"),
          NbModelStore.store(s"$root/nbmodel"), LangModelStore.store(s"$root/langmodel"),
          BpeStatsStore.store(s"$root/bpestats")),
        compactEvery = if (hooks) Some(2) else None,
        audit = if (hooks) Some(EventStreams.RecallAudit(2, auditQ, s"$tmp/audit-$suffix"))
          else None)
      try q.processAllAvailable() finally q.stop()
      (annDir, lshDir, root)
    }
    val (annPlain, lshPlain, plain) = runRelay("plain", hooks = false)
    val (annHooked, lshHooked, hooked) = runRelay("hooked", hooks = true)

    // search results are IDENTICAL with and without the cadence hooks
    val query = embedOf(doc(30, "zayin het tet yod kaf lamed"))
      .select(lit(-1L).as("q_id"), col("embedding").as("qv"))
    assertSameTable(
      AnnIndex.search(s, annPlain, query, nprobe = 2, k = 3),
      AnnIndex.search(s, annHooked, query, nprobe = 2, k = 3),
      "IVF search plain vs cadence-compacted")
    assertSameTable(
      AnnLshIndex.search(s, lshPlain, query, k = 3, nProbes = 2),
      AnnLshIndex.search(s, lshHooked, query, k = 3, nProbes = 2),
      "LSH search plain vs cadence-compacted")

    // the fold actually reduced batch partitions (4 ids → 3: {0,1}
    // folded into 1 at the batch-2 epoch start, then 2 and 3 landed)
    val plainIds = graft.BatchSink.batchIds(s, s"$annPlain/cells").toSet
    val hookedIds = graft.BatchSink.batchIds(s, s"$annHooked/cells").toSet
    assert(plainIds == Set(0L, 1L, 2L, 3L), s"plain ids: $plainIds")
    assert(hookedIds == Set(1L, 2L, 3L), s"hooked ids: $hookedIds")
    // the LSH side folds BOTH its per-batch tables (vectors and the
    // bucket-stats, which accumulate partitions at the same rate)
    assert(graft.BatchSink.batchIds(s, s"$lshHooked/vectors").toSet == Set(1L, 2L, 3L))
    assert(graft.BatchSink.batchIds(s, s"$lshHooked/stats").toSet == Set(1L, 2L, 3L))

    // the PQ codes fold by row and the monoid stores through their own
    // folds: every read is unchanged by the in-stream fold, and every
    // hooked table holds fewer batch partitions than its plain twin
    val reads: Seq[(String, String => DataFrame)] = Seq(
      "PQ codes" -> (r => AnnPqStore.readCodes(s, s"$r/pq")),
      "source sketch" -> (r => SourceSketch.read(s, s"$r/sketch")),
      "distinct sketch" -> (r => DistinctSketch.read(s, s"$r/distinct")),
      "NB counts" -> (r => NbModelStore.readCounts(s, s"$r/nbmodel")),
      "NB priors" -> (r => NbModelStore.readPriors(s, s"$r/nbmodel")),
      "lang counts" -> (r => LangModelStore.readCounts(s, s"$r/langmodel")),
      "lang priors" -> (r => LangModelStore.readPriors(s, s"$r/langmodel")),
      "BPE counts" -> (r => BpeStatsStore.read(s, s"$r/bpestats")))
    reads.foreach { case (what, read) =>
      assertSameTable(read(plain), read(hooked), s"$what plain vs cadence-compacted")
    }
    Seq("pq/codes", "sketch", "distinct", "nbmodel/counts", "nbmodel/priors",
      "langmodel/counts", "langmodel/priors", "bpestats").foreach { t =>
      val (p, h) = (graft.BatchSink.batchIds(s, s"$plain/$t").toSet,
        graft.BatchSink.batchIds(s, s"$hooked/$t").toSet)
      assert(h.size < p.size, s"$t: hooked ids $h vs plain ids $p")
    }

    // the audit landed exactly at the cadence epoch, read-only + sane
    val audit = s.read.parquet(s"$tmp/audit-hooked")
    val rows = audit.select(col("audited_batch").cast("long"), col("mean_recall"),
      col("n_queries").cast("long")).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(2L), s"audit batches: ${rows.toSeq}")
    assert(rows.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    assert(rows.forall(_.getLong(2) == 2L))
  }
}
