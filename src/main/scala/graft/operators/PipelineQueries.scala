package graft.operators

import graft.Tables
import graft.pipeline.IngestPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Oracle-gated query surface for the assembled ingestion pipeline
  * (SURVEY.md §3.1). The fixed-chunker variants are fully SQL-mirrorable;
  * the G1 recursive variant is covered rows-only + by PipelineSpec.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // §3.1 flagship lineage (relational skeleton): filters → chunks →
    // context prefix → embedded text → content-addressed point ids.
    "pipeline_e2e" -> ((s, d) => {
      IngestPipeline.enrich(
        IngestPipeline.fixedChunkRel(
          IngestPipeline.ingestFilter(Tables.documents(s, d), graft.PipelineSettings.default)))
        .select(
          col("doc_id"), col("chunk_index"), col("total_chunks").cast("long").as("total_chunks"),
          col("point_id"), col("context_prefix"), col("embedded_text"),
          col("detected_languages"))
        .orderBy("doc_id", "chunk_index")
    }),
    // Full lineage including the mapPartitions embed stage (P12/P13):
    // shape-level oracle (dim + unit norm); values covered by PipelineSpec.
    "pipeline_embed" -> ((s, d) => {
      // smallDocs pins the 200/40 geometry the oracle SQL mirrors —
      // run() honors settings.chunkSize now, so the geometry is an
      // explicit request, not a hardcoded chunker default
      IngestPipeline.run(Tables.documents(s, d),
          settings = graft.PipelineSettings.smallDocs, fixedChunker = true)
        .select(
          col("source_drive_file").as("doc_id"), col("chunk_index"), col("point_id"),
          size(col("embedding")).as("dim"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 3).as("norm"))
        .orderBy("doc_id", "chunk_index")
    }),
    // T1 STREAMING rung hash-gated end to end (VERDICT r15 ask #4): the
    // corpus parquet driven through the REAL ingestRelay — readStream →
    // foreachBatch → IngestPipeline.run → BatchSink idempotent partition
    // overwrite — then the LANDED batch partitions read back. Same
    // pipeline_embed projection plus the batch_id the sink stamped
    // (one input file ⇒ micro-batch 0), so the oracle gates what the
    // streaming sink actually wrote, not a batch re-derivation. Reruns
    // are exactly-once by construction: every call starts the relay,
    // the checkpoint remembers the processed file, the AvailableNow run
    // reads no input, and the landed partition is re-read as-is. Dir is
    // applicationId-salted (two JVMs must not share a checkpoint — the
    // hot_key_drops lesson).
    "relay_replay_points" -> ((s, d) => {
      // TmpDirs: shutdown-hook + hour-stale-foreign GC for the salted
      // artifact set (staged corpus + landed points + checkpoint) —
      // ADVICE r16: these leaked one full set per JVM forever
      val base = TmpDirs.salted(s, "relay", d)
      // the file source watches a DIRECTORY (its basePath); stage the
      // corpus file into one — the relay's real deployment shape, where
      // a producer drops files into a watched landing dir
      val inDir = base + "/in"
      RelayFixtures.once(s, base, "_STAGED") {
        val hc = s.sparkContext.hadoopConfiguration
        val inPath = new org.apache.hadoop.fs.Path(inDir + "/documents.parquet")
        val fs = inPath.getFileSystem(hc)
        fs.mkdirs(inPath.getParent)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(d + "/documents.parquet"),
          fs, inPath, false, hc)
      }
      // AvailableNow: the relay processes the landed corpus and
      // self-terminates — no stop() on an idle stream (which logs a
      // spurious cannot-cancel WARN every bench execution)
      graft.streaming.EventStreams.ingestRelay(
        s, inDir, base + "/points", base + "/ckpt",
        settings = graft.PipelineSettings.smallDocs, fixedChunker = true,
        trigger = Some(Trigger.AvailableNow())).awaitTermination()
      s.read.parquet(base + "/points")
        .select(
          col("source_drive_file").as("doc_id"),
          col("chunk_index").cast("long").as("chunk_index"),
          col("point_id"),
          size(col("embedding")).as("dim"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 3).as("norm"),
          col("batch_id").cast("long").as("batch_id"))
        .orderBy("doc_id", "chunk_index")
    }),
    // The MAINTENANCE relay driver-gated (VERDICT r16 ask #2 — the last
    // ScalaTest-only streaming rung): init the dedup + ANN indexes from
    // 80% of the corpus (doc_id % 5 != 0, batch 0), stage the remaining
    // 20% as TWO mtime-ordered landing files (doc_id % 10 == 0, then
    // % 10 == 5; maxFilesPerTrigger = 1 ⇒ two maintenance cycles,
    // batches 1 and 2), push them through the REAL
    // indexMaintenanceRelay (readStream → foreachBatch → pinned-read
    // dedupBatch → accept → embedStage → AnnIndex.addBatch, each an
    // idempotent batch-partition overwrite), then read back ONLY the
    // PERSISTED index tables. The oracle replays what must have landed:
    // init fps at batch 0; batch 1's survivor set (exact fp anti-join +
    // minhash band near-dup drop + within-batch collapse vs the INIT
    // index); batch 2's survivor set vs init ∪ BATCH 1'S ACCEPT — the
    // cross-batch property (a batch-2 near-dup of a batch-1 doc is
    // catchable only because batch 1's accept landed) that was
    // previously pinned only by StreamingIndexSpec, now hash-gated;
    // plus the distinct (band, sig) LSH rows and the inverted file's
    // membership per batch. Reruns are exactly-once like
    // relay_replay_points: the checkpoint remembers both files, the
    // restarted AvailableNow run finds no work, the stored tables
    // re-read as-is; init runs once per salted dir behind a marker
    // file (init is a full overwrite, so a crash mid-init re-inits).
    "relay_index_state" -> ((s, d) => {
      val base = ensureIdxRelay(s, d)
      val dedupDir = base + "/dedup"; val annDir = base + "/ann"
      val fp = s.read.parquet(s"$dedupDir/fp").select(
        lit("fp").as("store"), col("fp").as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      val bands = s.read.parquet(s"$dedupDir/bands").select(
        lit("bands").as("store"),
        concat_ws("|", col("band").cast("string"), col("sig")).as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      val cells = s.read.parquet(s"$annDir/cells").select(
        lit("cells").as("store"), col("vec_id").cast("string").as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      fp.unionByName(bands).unionByName(cells)
        .orderBy("store", "k1", "batch_id")
    }),
    // The maintenance relay's MODEL/SKETCH/PQ stores driver-gated
    // (VERDICT r17 ask #2 — previously pinned only by
    // StreamingIndexSpec): the SAME relay run as relay_index_state
    // (shared ensureIdxRelay — one init + two maintenance cycles per
    // JVM serve both gates) also maintains the NB quality-classifier
    // statistics, the language-ID statistics, the BPE vocab counts,
    // the per-source union-minhash and KMV-distinct sketches, and the
    // PQ code store. This key reads back ONLY those persisted tables,
    // normalized to one (store, k1, n, batch_id) relation:
    //  - nbc1/nbc0/nbp: per-bucket class token counts + class priors
    //    over each batch's TRAIN docs — value-exact;
    //  - langc/langp: per-(lang, bucket) train counts + per-lang
    //    priors — value-exact;
    //  - bpe: full per-batch vocab word counts — value-exact (the
    //    fold-exactness contract: per-batch FULL counts, not top-V);
    //  - sketch: the (source, perm, m) minhash cells — value-exact
    //    (m is the md5 minimum itself);
    //  - kmv: the per-source 64-smallest distinct shingle hashes —
    //    value-exact;
    //  - pq / lsh: per-batch membership HERE; their VALUES are gated
    //    by relay_code_state (code quadruples + signatures re-derived
    //    in closed form) and the int8 ranking by relay_int8_topk —
    //    this key keeps the one-relation-per-store membership shape
    //    its oracle already proves.
    // The oracle recomputes each store's sufficient statistics in
    // closed form over the SAME three doc sets the relay must have
    // used — init (batch 0) and the two survivor sets acc1/acc2 —
    // so a store updated from the wrong doc set (e.g. raw arrivals
    // instead of dedup survivors), a skipped batch, or a torn write
    // hash-mismatches.
    "relay_model_state" -> ((s, d) => {
      val base = ensureIdxRelay(s, d)
      def rd(sub: String) = s.read.parquet(s"$base/$sub")
      val nbc = rd("nbmodel/counts")
      val nb1 = nbc.select(lit("nbc1").as("store"), col("b").cast("string").as("k1"),
        col("c1").cast("long").as("n"), col("batch_id").cast("long").as("batch_id"))
      val nb0 = nbc.select(lit("nbc0").as("store"), col("b").cast("string").as("k1"),
        col("c0").cast("long").as("n"), col("batch_id").cast("long").as("batch_id"))
      val nbprs = rd("nbmodel/priors")
      val nbp = nbprs.select(lit("nbp").as("store"), lit("n1").as("k1"),
          col("n1").cast("long").as("n"), col("batch_id").cast("long").as("batch_id"))
        .unionByName(nbprs.select(lit("nbp").as("store"), lit("n0").as("k1"),
          col("n0").cast("long").as("n"), col("batch_id").cast("long").as("batch_id")))
      val lc = rd("langmodel/counts").select(lit("langc").as("store"),
        concat_ws("|", col("lang"), col("b").cast("string")).as("k1"),
        col("c").cast("long").as("n"), col("batch_id").cast("long").as("batch_id"))
      val lp = rd("langmodel/priors").select(lit("langp").as("store"),
        col("lang").as("k1"), col("np").cast("long").as("n"),
        col("batch_id").cast("long").as("batch_id"))
      val bpe = rd("bpestats").select(lit("bpe").as("store"), col("word").as("k1"),
        col("cnt").cast("long").as("n"), col("batch_id").cast("long").as("batch_id"))
      val sk = rd("sketch").select(lit("sketch").as("store"),
        concat_ws("|", col("source"), col("perm").cast("string"), col("m")).as("k1"),
        lit(0L).as("n"), col("batch_id").cast("long").as("batch_id"))
      val kmv = rd("distinct").select(lit("kmv").as("store"), col("source").as("k1"),
        col("h").cast("long").as("n"), col("batch_id").cast("long").as("batch_id"))
      val pq = rd("pq/codes").select(lit("pq").as("store"),
        col("vec_id").cast("string").as("k1"), lit(0L).as("n"),
        col("batch_id").cast("long").as("batch_id"))
      // lsh, like pq, gates MEMBERSHIP per batch (the signature values
      // live in the plane space AnnLshIndex pins at init, which DuckDB
      // cannot mirror)
      val lsh = rd("lsh/vectors").select(lit("lsh").as("store"),
        col("vec_id").cast("string").as("k1"), lit(0L).as("n"),
        col("batch_id").cast("long").as("batch_id"))
      nb1.unionByName(nb0).unionByName(nbp).unionByName(lc).unionByName(lp)
        .unionByName(bpe).unionByName(sk).unionByName(kmv).unionByName(pq)
        .unionByName(lsh)
        .orderBy("store", "k1", "n", "batch_id")
    }),
    // The BUCKETED relay mode driver-gated (r18 — the last
    // indirectly-gated relay leg): the same init/two-cycle staging as
    // relay_index_state, but the dedup leg runs against the BUCKETED
    // catalog store (DedupIndex.initBucketed/dedupBatchBucketed/
    // acceptBucketed — zero index-side Exchange per increment, the
    // post-promotion far-scale mode). Tables are applicationId-salted
    // EXTERNAL tables whose data lives inside the TmpDirs-salted base,
    // so the existing shutdown-hook + hour-stale GC owns their files
    // (the in-memory catalog entries die with the JVM; a real
    // metastore deployment would manage named tables instead). The
    // oracle is relay_index_state's RELATION VERBATIM: the bucketed
    // store must land byte-identical per-batch state to the dir store
    // — same fps, same bands, same accepted membership in the inverted
    // file — or the hash mismatches.
    "relay_bucketed_state" -> ((s, d) => {
      val base = TmpDirs.salted(s, "bktrelay", d)
      val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      val fpT = s"graft_rb_fp_$app"; val bandsT = s"graft_rb_bands_$app"
      val inDir = base + "/in"; val annDir = base + "/ann"
      RelayFixtures.once(s, base, "_INIT_DONE") {
        val docs = Tables.documents(s, d)
        RelayFixtures.stageIncrements(s, docs, inDir)
        val existing = docs.filter(col("doc_id") % 5 =!= 0)
        DedupIndex.initBucketed(existing, fpT, bandsT,
          location = Some(s"$base/tables"))
        RelayFixtures.initAnn(existing, annDir)
      }
      graft.streaming.EventStreams.indexMaintenanceRelay(
        s, inDir, DedupIndex.Bucketed(fpT, bandsT), annDir, base + "/ckpt",
        maxFilesPerTrigger = Some(1),
        trigger = Some(Trigger.AvailableNow())).awaitTermination()
      val fp = s.table(fpT).select(
        lit("fp").as("store"), col("fp").as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      val bands = s.table(bandsT).select(
        lit("bands").as("store"),
        concat_ws("|", col("band").cast("string"), col("sig")).as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      val cells = s.read.parquet(s"$annDir/cells").select(
        lit("cells").as("store"), col("vec_id").cast("string").as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      fp.unionByName(bands).unionByName(cells)
        .orderBy("store", "k1", "batch_id")
    }),
    // The in-stream COMPACTION cadence driver-gated (r18 — the last
    // relay knob with spec-only evidence): the relay_index_state
    // staging run with compactEvery = 2, so epoch 2 folds the
    // strictly-earlier batch partitions {0 (init), 1 (acc1)} of every
    // index table into their max (1) BEFORE processing file 2 — the
    // replay-safe compactBelow form (the current epoch's id never
    // moves, pinned reads select the same rows before and after the
    // fold). The oracle is the SAME membership relation with init's
    // rows expected at batch 1: a fold at the wrong epoch, over the
    // wrong ids, or that loses/moves any row hash-mismatches — and so
    // would a fold that broke the pinned-read contract, because acc2
    // is derived through dedupBatch against the folded tables.
    "relay_compacted_state" -> ((s, d) => {
      val base = TmpDirs.salted(s, "cmprelay", d)
      val dedupDir = base + "/dedup"; val annDir = base + "/ann"
      val inDir = base + "/in"
      RelayFixtures.once(s, base, "_INIT_DONE") {
        val docs = Tables.documents(s, d)
        RelayFixtures.stageIncrements(s, docs, inDir)
        val existing = docs.filter(col("doc_id") % 5 =!= 0)
        DedupIndex.init(existing, dedupDir)
        RelayFixtures.initAnn(existing, annDir)
      }
      graft.streaming.EventStreams.indexMaintenanceRelay(
        s, inDir, DedupIndex.Dir(dedupDir), annDir, base + "/ckpt",
        maxFilesPerTrigger = Some(1),
        compactEvery = Some(2),
        trigger = Some(Trigger.AvailableNow())).awaitTermination()
      val fp = s.read.parquet(s"$dedupDir/fp").select(
        lit("fp").as("store"), col("fp").as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      val bands = s.read.parquet(s"$dedupDir/bands").select(
        lit("bands").as("store"),
        concat_ws("|", col("band").cast("string"), col("sig")).as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      val cells = s.read.parquet(s"$annDir/cells").select(
        lit("cells").as("store"), col("vec_id").cast("string").as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      fp.unionByName(bands).unionByName(cells)
        .orderBy("store", "k1", "batch_id")
    }),
    // The PQ-code and LSH-signature stores VALUE-exact (r19, closing
    // the literally-last membership-only rows of the relay gates): the
    // md5-projection provider makes the relay's vector space DuckDB-
    // replayable, the PQ codebooks are deterministic corpus slices
    // (subvectors of docs 101..104's embeddings — no k-means), and the
    // LSH planes are md5("p:j")-parity literals — so the stored code
    // quadruples (c0..c3: per-subspace argmin of sequential-fold L2²,
    // ties toward the smaller entry) and 8-plane signatures are
    // re-derived value-for-value over init ∪ acc1 ∪ acc2 per batch.
    // A code encoded off the wrong vector, against stale codebooks, in
    // the wrong plane space, or landed under the wrong batch
    // hash-mismatches.
    "relay_code_state" -> ((s, d) => {
      val base = ensureIdxRelay(s, d)
      val pq = s.read.parquet(s"$base/pq/codes").select(
        lit("pq").as("store"),
        concat_ws("|", col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3")).as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      val lsh = s.read.parquet(s"$base/lsh/vectors").select(
        lit("lsh").as("store"),
        concat_ws("|", col("vec_id"), col("sig")).as("k1"),
        col("batch_id").cast("long").as("batch_id"))
      pq.unionByName(lsh).orderBy("store", "k1", "batch_id")
    }),
    // The int8 read path served FROM THE RELAY-MAINTAINED store,
    // VALUE-exact (VERDICT r19 ask #3 — closing the membership-only gap
    // of the relay gates): three fixed query texts are embedded with
    // the relay's own md5-projection provider and searched via
    // AnnIndex.searchInt8 against the SAME $base/ann store the two
    // maintenance cycles of ensureIdxRelay built — ranking by the exact
    // integer dot of the STORED int8 codes (never the float column).
    // nprobe = 8 = the init quantizer's k, so every cell is probed and
    // the oracle needs no centroid replay: it re-derives each stored
    // vector (init ∪ acc1 ∪ acc2 doc texts → md5-projection floats →
    // floor-quantized codes — every step bit-replayable) and ranks all
    // candidates by the same integer dots. A store holding a wrong
    // vector, a missed batch, codes quantized off the true embedding,
    // or scale drift all change integer dots and hash-mismatch.
    "relay_int8_topk" -> ((s, d) => {
      val base = ensureIdxRelay(s, d)
      import s.implicits._
      val queries = RelayInt8QueryTexts.zipWithIndex.map { case (t, i) =>
        (-(i + 1).toLong, RelayEmbedProvider.embed(Seq(t)).head)
      }.toDF("q_id", "qv")
      AnnIndex.searchInt8(s, base + "/ann", queries, nprobe = 8, k = 10)
        .orderBy("q_id", "rnk")
    }),
    // A BOUNDED-streaming emission hash-gated (VERDICT r16 ask #5): the
    // events corpus replayed through sessionizeBounded — the
    // EventTimeTimeout production form — with every emitted session
    // landed under the micro-batch that emitted it, across TWO data
    // micro-batches (the corpus split at its time-range midpoint into
    // two landing files with explicit mtime order + maxFilesPerTrigger
    // = 1), so the gate covers the whole lifecycle:
    //  - batch 0: event-driven closes whose closing event (the next
    //    session's first) lies in file 1 (watermark still 0 — no
    //    timeout can fire);
    //  - batch 1: event-driven closes from file 2 — INCLUDING sessions
    //    whose state carried across the batch boundary — plus TIMEOUT
    //    closes of file-1 finals whose close instant
    //    ceil((last+gap)/1000)+1 ms is STRICTLY before the post-batch-0
    //    watermark floor(max_file1_us/1000) − 600000 ms (Spark fires a
    //    timeout only when timeoutTimestamp < watermark — ADVICE r17;
    //    a key with batch-1 data never takes the timeout path, and a
    //    session extended in batch 1 has target > that watermark by
    //    construction — the attribution is exact, not heuristic);
    //  - batch 2 (the no-data batch): remaining finals strictly before
    //    the final watermark. Finals inside the 10-minute horizon stay
    //    in state — the landed relation also gates their non-emission.
    "session_replay" -> ((s, d) => sessionReplay(s, d, "sessrelay", lateFile = false)),
    // The LATE-DATA DROP arm hash-gated (VERDICT r17 ask #3 — the one
    // streaming semantics branch with no hash evidence): same two
    // staged micro-batches as session_replay, plus a THIRD landing file
    // replaying file-1 events at least 2× the watermark delay behind
    // file 1's max — provably late under BOTH the eviction watermark
    // and the one-batch-lagged input filter (see the staging note in
    // RelayFixtures.stageSplitLanding), so the stream must DROP the whole
    // batch. The oracle is session_replay's relation unchanged: if any
    // late event were accepted, batch 2's timeout closes would change
    // (a late event for a pending final perturbs n_events and defers
    // its timeout target past the frozen watermark — the close row
    // VANISHES) and resurrected users would land rows in later batches
    // the oracle doesn't have; the shared batch_id column makes any
    // row past batch 2 a mismatch too. No new sessions, no
    // resurrections, no timeout drift — the drop arm of
    // sessionizeBounded (EventStreams.scala) is now driver-gated.
    "session_replay_late" -> ((s, d) => sessionReplay(s, d, "sesslate", lateFile = true)),
    // The OTHER bounded-streaming operator hash-gated (VERDICT r16 ask
    // #5 named either; session_replay covers sessionizeBounded, this
    // covers funnelAdvanceBounded): events replayed through the
    // repeat-conversion funnel — completion CLEARS state, so each
    // purchase cycle is its own funnel and the emission stream is the
    // greedy per-cycle advance feed, the semantic delta vs the anchored
    // batch funnel (funnel_steps) and the NoTimeout funnelAdvance.
    // TWO event-time-ordered landing files (the session_replay staging
    // discipline: split at the time-range midpoint, explicit mtimes,
    // maxFilesPerTrigger = 1) ⇒ every advance emits in the batch
    // holding its ACCEPTED event — batch 0 for first-half advances,
    // batch 1 for second-half advances INCLUDING those of funnels
    // whose partial state carried across the batch boundary — and the
    // timeout path only EVICTS horizon-stale partial funnels, which
    // emits nothing, so any row landing past batch 1 would
    // hash-mismatch. The oracle replays the greedy fold as a
    // recursive-CTE cycle chain: cycle k's view is the first at or
    // after cycle k-1's purchase (ties resolve to the view — the
    // (ts, type) sort puts 'view' after 'purchase'), click/purchase
    // strictly after the prior step, partial last cycles emit their
    // reached prefix, batch = which half holds the step's event.
    "funnel_advance_replay" -> ((s, d) => funnelReplay(s, d, "funnelrelay", lateFile = false)),
    // funnelAdvanceBounded's late-data arm (VERDICT r17 ask #3, the
    // funnel half): the third landing file replays file 1's funnel
    // events, all provably behind the post-batch-1 watermark — the
    // stream must IGNORE them. Sharpness: completion CLEARS state, so
    // if a late 'view' survived the watermark filter it would open a
    // fresh cycle for a completed user and land a step-1 row in batch 2
    // that funnel_advance_replay's oracle does not have (the timeout
    // path only evicts, emitting nothing, so a correct run lands zero
    // rows past batch 1).
    "funnel_advance_late" -> ((s, d) => funnelReplay(s, d, "funnellate", lateFile = true)),
    // LATE-DROP OBSERVABILITY oracle-gated (VERDICT r19 ask #4): the
    // late gates prove drops HAPPEN; production wants to SEE them. Both
    // bounded operators' late-file runs flush the engine's own per-batch
    // `numRowsDroppedByWatermark` (+ input rows) to a queryable relation
    // — the hot_key_drops pattern applied to watermark drops. The runs
    // are SHARED with session_replay_late / funnel_advance_late (same
    // salted families — whichever key executes first does the streaming
    // work and flushes; the other's run reads no input, so it leaves the
    // metrics as they are and re-reads them). The oracle replays the
    // staging math in closed form: batches 0/1 carry the two corpus
    // halves and drop nothing (every file-2 event beats the post-file-1
    // watermark by construction: f2 times > split >= f1's max); batch 2
    // carries exactly the staged late set and drops ALL of it — each
    // late event is >= 2× the delay behind file 1's max, late under the
    // lagged filter watermark of either preceding batch.
    "late_drop_metrics" -> ((s, d) => {
      sessionReplay(s, d, "sesslate", lateFile = true)
      funnelReplay(s, d, "funnellate", lateFile = true)
      def metrics(family: String, op: String) =
        s.read.parquet(TmpDirs.salted(s, family, d) + "/metrics")
          .select(lit(op).as("op"), col("batch_id"), col("rows_input"),
            col("rows_dropped"))
      metrics("sesslate", "session").unionByName(metrics("funnellate", "funnel"))
        .orderBy("op", "batch_id")
    }),
    // A5 per-batch grouping as a HASH-GATED artifact (VERDICT r15 ask
    // #7): the real embedStage run with tagBatches over the canonical
    // one-sorted-partition layout, aggregated to the batch-boundary
    // relation — batch ordinal, row count (50s with a partial tail),
    // and the first/last (doc, chunk) keys, which pin that grouped(50)
    // batches CONSECUTIVE rows in order. The single-partition
    // canonicalization is the point, not a cheat: production batch ids
    // depend on the physical layout (why SURVEY §2.6 classifies A5 as
    // an execution detail); the grouping RULE is what this gates.
    "a5_batch_bounds" -> ((s, d) => {
      val enriched = IngestPipeline.enrich(
        IngestPipeline.fixedChunkRel(
          IngestPipeline.ingestFilter(Tables.documents(s, d),
            graft.PipelineSettings.smallDocs)),
        graft.PipelineSettings.smallDocs)
        .repartition(1)
        .sortWithinPartitions(col("doc_id"), col("chunk_index"))
      IngestPipeline.embedStage(enriched, batchSize = 50, tagBatches = true)
        .groupBy(col("embed_batch"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          min(col("doc_id") * 10000 + col("chunk_index")).cast("long").as("first_key"),
          max(col("doc_id") * 10000 + col("chunk_index")).cast("long").as("last_key"))
        .orderBy("embed_batch")
    }),
    // The physical shard sink round-trip: pack documents into 8 shards,
    // EXPORT them through ShardedExport (one file per shard + swap
    // commit), and return the landed `_manifest`. The manifest is
    // derived from the written parquet (footers + partition dirs), so
    // hash-equality with the oracle's direct aggregation proves the
    // files themselves landed complete — the one query here that
    // exercises a real disk sink end-to-end.
    "shard_export_manifest" -> ((s, d) => {
      // FIXED per-sf path, not a fresh temp dir: bench/verify re-run
      // each query many times, and the swap protocol already makes the
      // re-export an atomic in-place replace — a per-call temp dir
      // would leak a full corpus copy on every rerun
      val out = System.getProperty("java.io.tmpdir") +
        "/graft-shard-export-" + d.replaceAll("[^A-Za-z0-9]", "_")
      graft.pipeline.ShardedExport.export(
        Tables.documents(s, d)
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"), col("n_chars")),
        out, "shard", Seq("doc_id"))
      graft.pipeline.ShardedExport.manifest(s, out)
        .select(col("shard").cast("long").as("shard"), col("n_rows"),
          col("min_key"), col("max_key"))
        .orderBy("shard")
    }),
    // T2/T5 job ledger as data: terminal status, error capture, counters.
    "pipeline_ledger" -> ((s, d) => {
      // smallDocs geometry (200/40): ledger now derives total_chunks
      // from settings (ADVICE r14), and the oracle pins the small-doc
      // stride this corpus needs — requested explicitly, not hardcoded
      IngestPipeline.ledger(Tables.documents(s, d), graft.PipelineSettings.smallDocs)
        .orderBy("source_drive_file")
    }),
    // T2 granular state machine: per-stage status-history rows matching
    // the reference's eight-option Select (embedding_job.json:60-67) —
    // mid-job progress monitoring as a queryable relation.
    "pipeline_ledger_stages" -> ((s, d) => {
      IngestPipeline.ledgerStages(Tables.documents(s, d))
        .orderBy("source_drive_file", "stage_seq")
    }),
    // Per-batch embed progress counters (process_embedding.py:358-367:
    // processed_chunks/progress_percent committed after every provider
    // batch). Oracled at batchSize=2 so the batch loop is live on this
    // corpus (docs chunk to <= 4 fixed chunks, so the reference's
    // batch_size=50 — the operator default — would collapse every file
    // to one batch); the percent is the reference's float-then-truncate
    // int(processed/n*80), replayed in double in both engines.
    "pipeline_progress" -> ((s, d) => {
      IngestPipeline.embedProgress(Tables.documents(s, d),
          graft.PipelineSettings.smallDocs, batchSize = 2)
        .orderBy("source_drive_file", "batch_no")
    }),
    // T3 retry orchestration: a synthetic failed-job ledger (every 4th
    // doc failed, retry_count seeded 0/1) swept through retryLoop with a
    // deterministic attempt-outcome seam — the final ledger replays the
    // reference's sweep → re-queue → attempt → retry_count++ history
    // (process_embedding.py:518-544, 68-75) end to end.
    "t3_retry_sweep" -> ((s, d) => {
      val jobs = Tables.documents(s, d).select(
        col("doc_id").as("source_drive_file"),
        when(col("doc_id") % 4 === 0, "Failed").otherwise("Completed").as("status"),
        when(col("doc_id") % 4 === 0, floor((col("doc_id") % 8) / 4))
          .otherwise(0L).cast("long").as("retry_count"))
      IngestPipeline.retryLoop(jobs, maxRetries = 3,
          succeeds = (id, attempt) => (id + attempt) % 3 === 0)
        .select(col("source_drive_file").as("doc_id"), col("status"), col("retry_count"))
        .orderBy("doc_id")
    }),
    // Admin health probes (test_connection battery,
    // data_pipeline_settings.py:29-114) as one status relation.
    "health_check" -> ((s, d) => {
      graft.pipeline.HealthProbes.testConnections(s, d).orderBy("component")
    }),
    // K3 cascade delete as partition rewrite (drive_file_handler.py:98-149):
    // surviving points after deleting all 'zh' source files.
    "k3_cascade_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val points = IngestPipeline.enrich(
        IngestPipeline.fixedChunkRel(
          IngestPipeline.ingestFilter(docs, graft.PipelineSettings.default)))
        .select(col("doc_id").as("source_drive_file"), col("chunk_index"), col("point_id"))
      import s.implicits._
      val deleted = docs.filter(col("lang") === "zh")
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      IngestPipeline.cascadeDelete(points, deleted)
        .orderBy("source_drive_file", "chunk_index")
    }),
    // The FLAGSHIP SERVING LIFECYCLE hash-gated end to end (VERDICT r19
    // ask #1 — the last spec-only composition, FlagshipLifecycleSpec's
    // shape driven under the DuckDB gate): §3.1 → §3.2 composed the way
    // the reference actually serves (tasks/process_embedding.py:16-239
    // feeding services/search_service.py:63-128). Two staged landing
    // files — the v1 snapshot, then ONLY the CDC increment (docDiff's
    // added ∪ changed docs; removed docs never travel) — stream through
    // the REAL ingestRelay (batches 0 and 1); CollectionStore init+merge
    // replays the same diff so the store is the liveness authority; the
    // read side takes the NEWEST vector per point id from the relay's
    // append-only log, gates it by the store's live point set, RLS-
    // filters, and serves a dense top-k. The oracle derives the answer
    // DIRECTLY from the v2 snapshot — i.e. the cross-engine gate IS the
    // lifecycle law "serve off relay log + store == serve off a fresh
    // snapshot, with only the increment re-embedded". Value-exact
    // similarity scores (not membership): the relay embeds with
    // Md5ProjectionEmbedder, whose float vectors DuckDB replays
    // bit-for-bit (see its scaladoc), so a stale vector (changed doc's
    // old embedding surviving), a resurrected removed doc, a dropped
    // increment, or an RLS leak all hash-mismatch on score or row set.
    "flagship_lifecycle" -> ((s, d) => flagshipLifecycle(s, d)),
    // CDC merge of the point collection (CollectionStore — the consumer
    // the snapshot-diff pair gained in r13): an old docs snapshot
    // (doc_id % 5 == 1 missing = to-be-added; % 5 == 3 truncated =
    // changed) is diffed at the DOC level against the new one
    // (% 5 == 2 missing = removed), and the diff drives a point-level
    // Delta-MERGE of the old collection. The ORACLE derives the points
    // DIRECTLY from the new snapshot — i.e. the cross-engine gate IS
    // the merge law apply-then-read == direct-new-snapshot.
    "collection_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val old = docs.filter(col("doc_id") % 5 =!= 1)
        .withColumn("text", when(col("doc_id") % 5 === 3,
          substring(col("text"), 1, 100)).otherwise(col("text")))
      val nw = docs.filter(col("doc_id") % 5 =!= 2)
      graft.pipeline.CollectionStore.applyDocDiff(
          graft.pipeline.CollectionStore.pointsOf(old),
          graft.pipeline.CollectionStore.docDiff(old, nw), nw)
        .orderBy("doc_id", "chunk_index")
    }),
    // P14 dimension resolver as a RELATION: every static-table entry
    // resolved through the fallback ladder, plus one probe per ladder
    // rung (unknown model per provider, smart-pipeline cross-table
    // lookups, global default). The oracle hardcodes the expected dims,
    // so an edit to the Scala tables or resolver logic hash-mismatches
    // (reference: services/embedding_service.py:15-69).
    "p14_dimension_table" -> ((s, _) => {
      import s.implicits._
      val md = graft.pipeline.ModelDimensions
      val probes =
        md.ollama.keys.map(("Local (Ollama)", _)).toSeq ++
          md.openRouter.keys.map(("OpenRouter", _)).toSeq ++
          Seq(
            ("Local (Ollama)", "mystery-model"),
            ("OpenRouter", "mystery-model"),
            ("Smart", "openai/text-embedding-3-large"),
            ("Smart", "all-minilm"),
            ("Smart", "mystery-model"))
      probes.map { case (p, m) => (p, m, md.resolve(p, m)) }
        .toDF("provider", "model", "dim")
        .orderBy("provider", "model")
    })
  )

  /** The one-row query the flagship lifecycle serves; mirrored as a SQL
    * literal in the oracle, so keep it quote-free.
    */
  private val FlagshipQueryText = "data pipeline quality words"

  /** `flagship_lifecycle` body — see the queries-map comment. Staging
    * and the store build are marker-guarded per salted base (a crash
    * mid-way re-runs them; stage replaces, init/merge land a fresh
    * committed generation); the relay itself is exactly-once via its
    * checkpoint like every other relay gate.
    */
  private def flagshipLifecycle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.expressions.GraftFunctions.register(s)
    val base = TmpDirs.salted(s, "flagship", d)
    val docs = Tables.documents(s, d)
    // v1 = the old snapshot (doc_id % 5 == 1 not yet arrived; % 5 == 3
    // still the truncated draft); v2 = the current one (% 5 == 2
    // removed) — the same seam collection_merge gates, so the two keys
    // share one CDC fixture family
    val old = docs.filter(col("doc_id") % 5 =!= 1)
      .withColumn("text", when(col("doc_id") % 5 === 3,
        substring(col("text"), 1, 100)).otherwise(col("text")))
    val nw = docs.filter(col("doc_id") % 5 =!= 2)
    val inDir = base + "/in"
    RelayFixtures.once(s, base, "_STAGED") {
      val now = System.currentTimeMillis()
      TmpDirs.stageLandingFile(s, old, s"$inDir/v1.parquet", now - 20000)
      // the increment feed: ONLY added/changed docs travel, from the
      // REAL doc-level diff — the no-re-embed property the gate proves
      val feedIds = graft.pipeline.CollectionStore.docDiff(old, nw)
        .filter(col("status").isin("added", "changed")).select(col("doc_id"))
      TmpDirs.stageLandingFile(s,
        nw.join(feedIds, Seq("doc_id"), "left_semi"),
        s"$inDir/v2.parquet", now - 10000)
    }
    graft.streaming.EventStreams.ingestRelay(
      s, inDir, base + "/points", base + "/ckpt",
      settings = graft.PipelineSettings.smallDocs,
      provider = new graft.pipeline.Md5ProjectionEmbedder(64),
      maxFilesPerTrigger = Some(1), fixedChunker = true,
      trigger = Some(Trigger.AvailableNow())).awaitTermination()
    val storeDir = base + "/store"
    RelayFixtures.once(s, base, "_STORE_MERGED") {
      graft.pipeline.CollectionStore.init(old, storeDir)
      graft.pipeline.CollectionStore.merge(s, storeDir,
        graft.pipeline.CollectionStore.docDiff(old, nw), nw)
    }
    // newest vector per point id off the append-only relay log (a
    // changed doc's point keeps its id, its embedding moves) ...
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("point_id")).orderBy(col("batch_id").desc)
    val latest = s.read.parquet(base + "/points")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    // ... gated by the STORE's live point set — the store, not the log,
    // is the liveness authority, so the removed doc's vectors drop here
    // without any delete pass over the log
    val live = latest.join(
      graft.pipeline.CollectionStore.read(s, storeDir).select("point_id"),
      Seq("point_id"), "left_semi")
    val accessible = docs
      .filter(col("lang").isin("en", "de") || col("source") === "src_3")
      .select(col("doc_id"))
    val gated = graft.search.SearchService.rlsFilter(
      live, accessible, idCol = "source_drive_file")
    val qv = new graft.pipeline.Md5ProjectionEmbedder(64)
      .embed(Seq(FlagshipQueryText)).head
    val query = Seq(Tuple1(qv)).toDF("qv")
    graft.search.SearchService.denseTopK(
        gated.select(col("point_id"), col("source_drive_file").as("doc_id"),
          col("chunk_index").cast("long").as("chunk_index"), col("embedding")),
        query, k = 12, idCol = "point_id")
      .select(col("point_id"), col("doc_id"), col("chunk_index"), col("score"))
      .orderBy(col("score").desc, col("point_id"))
  }

  /** The maintenance relay's embed provider — md5-projection so the
    * vector stores it maintains hold DuckDB-replayable floats (and
    * therefore replayable int8 codes; see relay_int8_topk). The
    * membership-level gates are provider-agnostic by construction.
    */
  private def RelayEmbedProvider = new graft.pipeline.Md5ProjectionEmbedder(64)

  /** relay_int8_topk's query texts — mirrored as SQL literals in the
    * oracle, so keep them quote-free.
    */
  private val RelayInt8QueryTexts = Seq(
    "fast data quality checks",
    "vector search at scale",
    "language detection tokens")

  /** Init EVERY store the maintenance relay maintains from the 80%
    * existing corpus (doc_id % 5 != 0, batch 0). Each init is a FULL
    * overwrite, so re-running after a crash anywhere in the sequence
    * converges to the same state as a clean-room init — the property
    * `ensureIdxRelay`'s single `_INIT_DONE` step ([[RelayFixtures.once]])
    * relies on (VERDICT r18 watch item), pinned by RelayInitCrashSpec,
    * which dirties a prefix of these stores with partial data and
    * asserts the re-run lands byte-identical store contents. Package-private for that
    * spec; gate callers go through [[ensureIdxRelay]].
    */
  private[operators] def initRelayStores(s: SparkSession, d: String, base: String): Unit = {
    val docs = Tables.documents(s, d)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    DedupIndex.init(existing, base + "/dedup")
    // one embed pass feeds every vector-store init — with the
    // ORACLE-MIRRORABLE md5-projection provider (r19): the membership
    // gates don't care which deterministic provider fills the vector
    // stores, and mirrorable floats let relay_int8_topk check the
    // stored-code ranking VALUE-exactly (the gap VERDICT r18 named)
    val emb = RelayFixtures.initAnn(existing, base + "/ann", RelayEmbedProvider)
    // the default id-slice (100..107) straddles doc_ids divisible by
    // 5, which the existing side excludes — pre-filter to 101..104,
    // the longest contiguous in-corpus run (K shrinks to 4, which
    // init and encode agree on by construction)
    AnnPqStore.init(emb, s"$base/pq",
      codebooks = Some(AnnPq.codebooks(
        emb.filter(col("vec_id").between(101L, 104L)), baseId = 101L)))
    AnnLshIndex.init(emb, s"$base/lsh")
    SourceSketch.init(existing, s"$base/sketch")
    DistinctSketch.init(existing, s"$base/distinct")
    NbModelStore.init(existing, s"$base/nbmodel")
    LangModelStore.init(existing, s"$base/langmodel")
    BpeStatsStore.init(existing, s"$base/bpestats")
  }

  /** The ONE maintenance-relay run behind `relay_index_state`,
    * `relay_model_state`, `relay_code_state` AND `relay_int8_topk`:
    * [[initRelayStores]] over the 80% existing corpus, stage the
    * remaining 20% as two mtime-ordered landing files
    * ([[RelayFixtures.stageIncrements]]; maxFilesPerTrigger = 1 ⇒ two
    * maintenance cycles, batches 1 and 2), and drive the REAL
    * indexMaintenanceRelay with every store wired. Reruns
    * are exactly-once: the `_INIT_DONE` step pins init per salted base
    * (every store init is a full overwrite, so a crash mid-init
    * re-inits — RelayInitCrashSpec), and every call starts the relay,
    * whose checkpoint remembers both files, so a repeat run reads no
    * input and the gate queries re-read the stored tables. Sharing one
    * run splits the relay cost across the four gates.
    */
  private def ensureIdxRelay(s: SparkSession, d: String): String = {
    val base = TmpDirs.salted(s, "idxrelay", d)
    val inDir = base + "/in"
    RelayFixtures.once(s, base, "_INIT_DONE") {
      RelayFixtures.stageIncrements(s, Tables.documents(s, d), inDir)
      initRelayStores(s, d, base)
    }
    graft.streaming.EventStreams.indexMaintenanceRelay(
      s, inDir, DedupIndex.Dir(base + "/dedup"), base + "/ann", base + "/ckpt",
      provider = RelayEmbedProvider,
      maxFilesPerTrigger = Some(1),
      stores = Seq(AnnLshIndex.store(s"$base/lsh"), AnnPqStore.store(s"$base/pq"),
        SourceSketch.store(s"$base/sketch"), DistinctSketch.store(s"$base/distinct"),
        NbModelStore.store(s"$base/nbmodel"), LangModelStore.store(s"$base/langmodel"),
        BpeStatsStore.store(s"$base/bpestats")),
      trigger = Some(Trigger.AvailableNow())).awaitTermination()
    base
  }

  /** `session_replay` / `_late` body: (user_id, event_id) events
    * through the REAL sessionizeBounded ([[RelayFixtures.replayLanded]]).
    */
  private def sessionReplay(s: SparkSession, d: String, family: String,
                            lateFile: Boolean): DataFrame = {
    import s.implicits._
    RelayFixtures.replayLanded(s, d, family, lateFile,
        "user_id LONG, event_id LONG, tsMicros LONG") { ev =>
      graft.streaming.EventStreams.sessionizeBounded(
        ev.as[graft.streaming.EventStreams.EventIn],
        watermarkDelay = RelayFixtures.ReplayWatermarkDelay)
    }.select(col("user_id"), col("session_start"), col("n_events"),
        col("batch_id").cast("long").as("batch_id"))
      .orderBy("user_id", "session_start")
  }

  /** The funnel twin of [[sessionReplay]]: (user_id, event_type) events
    * through the REAL funnelAdvanceBounded.
    */
  private def funnelReplay(s: SparkSession, d: String, family: String,
                           lateFile: Boolean): DataFrame = {
    import s.implicits._
    RelayFixtures.replayLanded(s, d, family, lateFile,
        "user_id LONG, event_type STRING, tsMicros LONG") { ev =>
      graft.streaming.EventStreams.funnelAdvanceBounded(
        ev.as[graft.streaming.EventStreams.FunnelIn],
        watermarkDelay = RelayFixtures.ReplayWatermarkDelay)
    }.select(col("user_id"), col("step"), col("step_type"),
        col("tsMicros").as("ts_us"), col("batch_id").cast("long").as("batch_id"))
      .orderBy("user_id", "ts_us")
  }

  // DuckDB mirrors. Shared fragments:
  private val filteredDocs =
    "SELECT * FROM documents WHERE length(trim(text)) > 0 AND n_chars <= 52428800"
  private val chunkRel =
    s"SELECT doc_id, source, text, s.start // 160 AS chunk_index, " +
      "substr(text, s.start + 1, 200) AS chunk_text " +
      s"FROM ($filteredDocs) d, " +
      "unnest(generate_series(0, greatest(length(d.text) - 1, 0), 160)) AS s(start)"
  private val ctxExpr =
    "CASE WHEN head = '' THEN '' ELSE '[ctx] ' || head END"
  private val headExpr =
    "array_to_string(list_slice(regexp_split_to_array(trim(substr(text, 1, 32000)), '\\s+'), 1, 8), ' ')"
  private val langExpr =
    "concat_ws(',', " +
      "CASE WHEN regexp_matches(chunk_text, '[\\x{0600}-\\x{06FF}]') THEN 'ar' END, " +
      "CASE WHEN regexp_matches(chunk_text, '[A-Za-z]') THEN 'en' END, " +
      "CASE WHEN regexp_matches(chunk_text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh' END)"

  /** The relay gates' shared survivor derivation: per-doc minhash
    * bands (DedupQueries.shingleSqlRel — the proven dedup_incremental
    * CTEs), then two accept cycles — acc1 vs the init corpus
    * (doc_id % 5 <> 0), acc2 vs init ∪ acc1 (the cross-batch
    * visibility property). NOT EXISTS (not NOT IN): anti-join
    * semantics — see incrementalSql.
    */
  private val relayAccCtes: String =
    s"sh AS (SELECT DISTINCT doc_id, sh FROM (${DedupQueries.shingleSqlRel})), " +
      "hx AS (SELECT doc_id, r.i AS perm, md5(r.i::VARCHAR || ':' || sh) AS h " +
      "FROM sh, unnest(range(16)) AS r(i)), " +
      "mh AS (SELECT doc_id, perm, min(h) AS m FROM hx GROUP BY doc_id, perm), " +
      "bd AS (SELECT doc_id, perm // 4 AS band, string_agg(m, '_' ORDER BY perm) AS sig " +
      "FROM mh GROUP BY doc_id, perm // 4), " +
      "surv1 AS (SELECT d.doc_id, md5(d.text) AS fp FROM documents d WHERE d.doc_id % 10 = 0 " +
      "AND NOT EXISTS (SELECT 1 FROM documents e WHERE e.doc_id % 5 <> 0 " +
      "AND md5(e.text) = md5(d.text))), " +
      "nd1 AS (SELECT DISTINCT i.doc_id FROM bd i JOIN bd e " +
      "ON i.band = e.band AND i.sig = e.sig AND e.doc_id % 5 <> 0 " +
      "WHERE i.doc_id IN (SELECT doc_id FROM surv1)), " +
      "acc1 AS (SELECT s.doc_id, s.fp FROM surv1 s WHERE NOT EXISTS " +
      "(SELECT 1 FROM nd1 WHERE nd1.doc_id = s.doc_id) " +
      "QUALIFY row_number() OVER (PARTITION BY s.fp ORDER BY s.doc_id) = 1), " +
      "surv2 AS (SELECT d.doc_id, md5(d.text) AS fp FROM documents d WHERE d.doc_id % 10 = 5 " +
      "AND NOT EXISTS (SELECT 1 FROM documents e WHERE (e.doc_id % 5 <> 0 " +
      "OR e.doc_id IN (SELECT doc_id FROM acc1)) AND md5(e.text) = md5(d.text))), " +
      "nd2 AS (SELECT DISTINCT i.doc_id FROM bd i JOIN bd e " +
      "ON i.band = e.band AND i.sig = e.sig " +
      "WHERE (e.doc_id % 5 <> 0 OR e.doc_id IN (SELECT doc_id FROM acc1)) " +
      "AND i.doc_id IN (SELECT doc_id FROM surv2)), " +
      "acc2 AS (SELECT s.doc_id, s.fp FROM surv2 s WHERE NOT EXISTS " +
      "(SELECT 1 FROM nd2 WHERE nd2.doc_id = s.doc_id) " +
      "QUALIFY row_number() OVER (PARTITION BY s.fp ORDER BY s.doc_id) = 1)"

  /** One batch's model/sketch-store statistics over a doc set `ds`
    * (doc_id, text, lang, source), normalized to (store, k1, n,
    * batch_id). Each CTE chain is a copy of its PROVEN oracle sibling:
    * nb from quality_classifier_model's, lang from
    * lang_classifier_model's, bpe from bpe_merges' word counts, sketch
    * from source_overlap_minhash's md5(i:sh) minima, kmv from
    * distinct_kmv's 64-smallest distinct hash60s. `pq` gates code-row
    * MEMBERSHIP (the code values depend on the hash-projection
    * embedding, which DuckDB cannot mirror).
    */
  private def modelStateBatchSql(ds: String, b: Int): String = {
    val tokBucketSql =
      "CAST(list_reduce([strpos('0123456789abcdef', x) - 1 for x in " +
        "regexp_extract_all(substr(md5(tok), 1, 4), '.')], (a,b) -> a*16 + b) % 64 AS INT)"
    val bucketSql = graft.functions.TextSql.bucketSql()
    val tokensSql = graft.functions.TextSql.tokens("lower(text)")
    s"SELECT store, k1, n, CAST($b AS BIGINT) AS batch_id FROM (" +
      s"WITH ds AS ($ds), " +
      s"tk AS (SELECT doc_id, unnest($tokensSql) AS tok FROM ds), " +
      s"lb AS (SELECT doc_id, CAST(100 * count(*) FILTER (tok IN " +
      s"${graft.functions.TextSql.StopwordsSql}) >= 7 * count(*) AS INT) AS y, " +
      s"$bucketSql < 80 AS tr FROM tk GROUP BY doc_id), " +
      s"nbcc AS (SELECT $tokBucketSql AS b, " +
      "CAST(count(*) FILTER (y = 1) AS BIGINT) AS c1, " +
      "CAST(count(*) FILTER (y = 0) AS BIGINT) AS c0 " +
      "FROM tk JOIN lb USING (doc_id) WHERE tr GROUP BY 1), " +
      "nbpr AS (SELECT CAST(count(*) FILTER (y = 1) AS BIGINT) AS n1, " +
      "CAST(count(*) FILTER (y = 0) AS BIGINT) AS n0 FROM lb WHERE tr), " +
      s"llb AS (SELECT doc_id, lang, $bucketSql < 80 AS tr FROM ds), " +
      s"lcc AS (SELECT llb.lang, $tokBucketSql AS b, CAST(count(*) AS BIGINT) AS c " +
      "FROM tk JOIN llb USING (doc_id) WHERE llb.tr GROUP BY 1, 2), " +
      "lpr AS (SELECT lang, CAST(count(*) AS BIGINT) AS np FROM llb WHERE tr GROUP BY 1), " +
      "bpe AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1), " +
      s"dsh AS (SELECT source, unnest(${graft.functions.TextSql.shingles("toks")}) AS sh " +
      s"FROM (SELECT source, ${graft.functions.TextSql.tokens("text")} AS toks FROM ds)), " +
      "ssh AS (SELECT DISTINCT source, sh FROM dsh), " +
      "smh AS (SELECT source, r.i AS perm, min(md5(r.i::VARCHAR || ':' || sh)) AS m " +
      "FROM ssh, unnest(range(16)) AS r(i) GROUP BY 1, 2), " +
      "kh AS (SELECT DISTINCT source, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM dsh), " +
      "kmv AS (SELECT source, h FROM (SELECT source, h, " +
      "row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM kh) " +
      s"WHERE rn <= ${graft.functions.KmvAggregator.K}) " +
      "SELECT 'nbc1' AS store, CAST(b AS VARCHAR) AS k1, c1 AS n FROM nbcc " +
      "UNION ALL SELECT 'nbc0', CAST(b AS VARCHAR), c0 FROM nbcc " +
      "UNION ALL SELECT 'nbp', 'n1', n1 FROM nbpr " +
      "UNION ALL SELECT 'nbp', 'n0', n0 FROM nbpr " +
      "UNION ALL SELECT 'langc', lang || '|' || CAST(b AS VARCHAR), c FROM lcc " +
      "UNION ALL SELECT 'langp', lang, np FROM lpr " +
      "UNION ALL SELECT 'bpe', word, cnt FROM bpe " +
      "UNION ALL SELECT 'sketch', source || '|' || CAST(perm AS VARCHAR) || '|' || m, " +
      "CAST(0 AS BIGINT) FROM smh " +
      "UNION ALL SELECT 'kmv', source, h FROM kmv " +
      "UNION ALL SELECT 'pq', CAST(doc_id AS VARCHAR), CAST(0 AS BIGINT) FROM ds " +
      "UNION ALL SELECT 'lsh', CAST(doc_id AS VARCHAR), CAST(0 AS BIGINT) FROM ds" +
      ")"
  }

  private val modelStateDocCols = "doc_id, text, lang, source"

  /** relay_code_state's oracle: re-derive the PQ codes and LSH
    * signatures of every stored vector (init ∪ acc1 ∪ acc2 doc texts →
    * md5-projection floats) in closed form. Codebook entry (m, j) is
    * the m-th 16-dim subvector of doc (101+j)'s embedding (the
    * deterministic slice AnnPq.codebooks builds — ensureIdxRelay
    * pre-filters to 101..104, so K = 4 contiguous entries); a vector's
    * code c_m is the j minimizing the sequential-fold squared L2 (ties
    * toward smaller j — the struct-min contract). The signature is the
    * 8 md5("p:j")-parity plane dots thresholded at > 0, same fold
    * order as the UDF (the proven ann_lsh_topk mirror, rebuilt here
    * from the public plane matrix).
    */
  private def relayCodeSql: String = {
    val proj = graft.functions.VectorSql
    val sigExpr = (0 until graft.operators.AnnQueries.NumPlanes).map { p =>
      val plane = graft.operators.AnnQueries.planesFor(graft.operators.AnnQueries.NumPlanes)(p)
        .map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
      s"(CASE WHEN list_reduce([CAST(emb[i+1] AS DOUBLE) * ($plane)[i+1] " +
        s"for i in range(64)], (x,y) -> x+y) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val diff = "(CAST(s2.sv[i+1] AS DOUBLE) - CAST(c.cb[i+1] AS DOUBLE))"
    s"WITH $relayAccCtes, " +
      "sd AS (SELECT doc_id, text, CAST(0 AS BIGINT) AS batch_id FROM documents WHERE doc_id % 5 <> 0 " +
      "UNION ALL SELECT d.doc_id, d.text, 1 FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM acc1) " +
      "UNION ALL SELECT d.doc_id, d.text, 2 FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM acc2)), " +
      s"xs AS (SELECT doc_id, batch_id, ${proj.md5ProjComponents("text")} AS x FROM sd), " +
      s"ev AS (SELECT doc_id, batch_id, ${proj.md5ProjNormalize("x")} AS emb FROM xs), " +
      s"cbx AS (SELECT doc_id - 101 AS j, ${proj.md5ProjComponents("text")} AS x " +
      "FROM documents WHERE doc_id BETWEEN 101 AND 104), " +
      s"cbe AS (SELECT j, ${proj.md5ProjNormalize("x")} AS emb FROM cbx), " +
      "cb AS (SELECT mm.m AS m, cbe.j, list_slice(cbe.emb, mm.m * 16 + 1, mm.m * 16 + 16) AS cb " +
      "FROM cbe, unnest(range(4)) AS mm(m)), " +
      "sv AS (SELECT doc_id, batch_id, mm.m AS m, " +
      "list_slice(emb, mm.m * 16 + 1, mm.m * 16 + 16) AS sv " +
      "FROM ev, unnest(range(4)) AS mm(m)), " +
      "dist AS (SELECT s2.doc_id, s2.batch_id, s2.m, c.j, " +
      s"list_reduce([$diff * $diff for i in range(16)], (x,y) -> x+y) AS d2 " +
      "FROM sv s2 JOIN cb c ON s2.m = c.m), " +
      "pick AS (SELECT doc_id, batch_id, m, j FROM (" +
      "SELECT doc_id, batch_id, m, j, row_number() OVER " +
      "(PARTITION BY doc_id, batch_id, m ORDER BY d2, j) AS rn FROM dist) WHERE rn = 1), " +
      "codes AS (SELECT doc_id, batch_id, " +
      "CAST(max(CASE WHEN m = 0 THEN j END) AS VARCHAR) AS c0, " +
      "CAST(max(CASE WHEN m = 1 THEN j END) AS VARCHAR) AS c1, " +
      "CAST(max(CASE WHEN m = 2 THEN j END) AS VARCHAR) AS c2, " +
      "CAST(max(CASE WHEN m = 3 THEN j END) AS VARCHAR) AS c3 " +
      "FROM pick GROUP BY doc_id, batch_id), " +
      s"sigs AS (SELECT doc_id, batch_id, $sigExpr AS sig FROM ev) " +
      "SELECT store, k1, batch_id FROM (" +
      "SELECT 'pq' AS store, CAST(doc_id AS VARCHAR) || '|' || c0 || '|' || c1 || " +
      "'|' || c2 || '|' || c3 AS k1, batch_id FROM codes " +
      "UNION ALL SELECT 'lsh', CAST(doc_id AS VARCHAR) || '|' || CAST(sig AS VARCHAR), " +
      "batch_id FROM sigs" +
      ") ORDER BY store, k1, batch_id"
  }

  // SQL mirrors of the int8 quantization helpers (dim 64, fold order =
  // Spark's) — the same one-liners AnnQueries' inline int8 oracles use,
  // here applied to md5-projection vectors re-derived from doc text.
  private def i8Norm(a: String) = s"sqrt(${graft.functions.VectorSql.dot(a, a, 64)})"
  private def i8Max(a: String, n: String) =
    s"list_reduce([abs(CAST($a[i+1] AS DOUBLE) / $n) for i in range(64)], (x,y) -> greatest(x,y))"
  private def i8Quant(a: String, n: String, m: String) =
    s"[floor(CAST($a[i+1] AS DOUBLE) / $n / $m * 127.0 + 0.5) for i in range(64)]"

  /** relay_int8_topk's oracle: the store's doc set is init ∪ acc1 ∪
    * acc2 (the same survivor CTEs every relay gate shares); each doc's
    * md5-projection embedding, int8 codes and scales are re-derived in
    * closed form; all (query, candidate) pairs are ranked by the exact
    * integer dot — no centroid replay needed because nprobe = k probes
    * every cell.
    */
  private def relayInt8Sql: String = {
    val qVals = RelayInt8QueryTexts.zipWithIndex.map { case (t, i) =>
      s"(CAST(${-(i + 1)} AS BIGINT), '$t')"
    }.mkString(", ")
    val proj = graft.functions.VectorSql
    s"WITH $relayAccCtes, " +
      "sd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0 " +
      "UNION ALL SELECT d.doc_id, d.text FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM acc1) " +
      "UNION ALL SELECT d.doc_id, d.text FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM acc2)), " +
      s"px AS (SELECT doc_id, ${proj.md5ProjComponents("text")} AS x FROM sd), " +
      s"pe AS (SELECT doc_id AS vec_id, ${proj.md5ProjNormalize("x")} AS emb FROM px), " +
      s"p1 AS (SELECT vec_id, emb, ${i8Norm("emb")} AS pn FROM pe), " +
      "p2 AS (SELECT * FROM p1 WHERE pn > 0), " +
      s"p3 AS (SELECT *, ${i8Max("emb", "pn")} AS pm FROM p2), " +
      s"p4 AS (SELECT vec_id, ${i8Quant("emb", "pn", "pm")} AS pq, pm / 127.0 AS sp FROM p3), " +
      s"qt AS (SELECT * FROM (VALUES $qVals) AS t(q_id, qtext)), " +
      s"qx AS (SELECT q_id, ${proj.md5ProjComponents("qtext")} AS x FROM qt), " +
      s"qe AS (SELECT q_id, ${proj.md5ProjNormalize("x")} AS qv FROM qx), " +
      s"q1 AS (SELECT q_id, qv, ${i8Norm("qv")} AS qn FROM qe), " +
      "q2 AS (SELECT * FROM q1 WHERE qn > 0), " +
      s"q3 AS (SELECT *, ${i8Max("qv", "qn")} AS qm FROM q2), " +
      s"q AS (SELECT q_id, ${i8Quant("qv", "qn", "qm")} AS qq, qm / 127.0 AS sq FROM q3), " +
      "sc AS (SELECT q.q_id, p4.vec_id, " +
      "CAST(list_reduce([p4.pq[i+1] * q.qq[i+1] for i in range(64)], (x,y) -> x+y) AS BIGINT) AS idot, " +
      "p4.sp, q.sq FROM p4, q) " +
      "SELECT q_id, vec_id, rnk, idot, score8 FROM (" +
      "SELECT q_id, vec_id, idot, round(idot * sp * sq, 6) AS score8, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY round(idot * sp * sq, 6) DESC, vec_id) AS INT) AS rnk " +
      "FROM sc) WHERE rnk <= 10 ORDER BY q_id, rnk"
  }

  /** The relay-state membership relation shared by `relay_index_state`
    * (initBatch = 0, the un-compacted layout), `relay_bucketed_state`
    * (same), and `relay_compacted_state` (initBatch = 1 — the
    * compactEvery=2 cadence folds the strictly-earlier partitions
    * {0, 1} into their max before epoch 2 runs, so init rows sit
    * beside acc1's under batch 1).
    */
  private def relayStateSql(initBatch: Int): String =
    s"WITH $relayAccCtes " +
      "SELECT * FROM (" +
      s"SELECT 'fp' AS store, fp AS k1, CAST($initBatch AS BIGINT) AS batch_id FROM " +
      "(SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0) " +
      "UNION ALL SELECT 'fp', fp, 1 FROM acc1 " +
      "UNION ALL SELECT 'fp', fp, 2 FROM acc2 " +
      s"UNION ALL SELECT 'bands', CAST(band AS VARCHAR) || '|' || sig, $initBatch FROM " +
      "(SELECT DISTINCT band, sig FROM bd WHERE doc_id % 5 <> 0) " +
      "UNION ALL SELECT 'bands', CAST(band AS VARCHAR) || '|' || sig, 1 FROM " +
      "(SELECT DISTINCT band, sig FROM bd WHERE doc_id IN (SELECT doc_id FROM acc1)) " +
      "UNION ALL SELECT 'bands', CAST(band AS VARCHAR) || '|' || sig, 2 FROM " +
      "(SELECT DISTINCT band, sig FROM bd WHERE doc_id IN (SELECT doc_id FROM acc2)) " +
      s"UNION ALL SELECT 'cells', CAST(doc_id AS VARCHAR), $initBatch " +
      "FROM documents WHERE doc_id % 5 <> 0 " +
      "UNION ALL SELECT 'cells', CAST(doc_id AS VARCHAR), 1 FROM acc1 " +
      "UNION ALL SELECT 'cells', CAST(doc_id AS VARCHAR), 2 FROM acc2" +
      ") ORDER BY store, k1, batch_id"

  private val oraclesBase: Map[String, String] = Map(
    "relay_model_state" ->
      (s"WITH $relayAccCtes " +
        "SELECT * FROM (" +
        modelStateBatchSql(
          s"SELECT $modelStateDocCols FROM documents WHERE doc_id % 5 <> 0", 0) +
        " UNION ALL " +
        modelStateBatchSql(
          s"SELECT $modelStateDocCols FROM documents " +
            "WHERE doc_id IN (SELECT doc_id FROM acc1)", 1) +
        " UNION ALL " +
        modelStateBatchSql(
          s"SELECT $modelStateDocCols FROM documents " +
            "WHERE doc_id IN (SELECT doc_id FROM acc2)", 2) +
        ") ORDER BY store, k1, n, batch_id"),
    "shard_export_manifest" ->
      ("SELECT doc_id % 8 AS shard, count(*) AS n_rows, " +
        "min(doc_id) AS min_key, max(doc_id) AS max_key " +
        "FROM documents GROUP BY 1 ORDER BY shard"),
    "p14_dimension_table" ->
      ("SELECT provider, model, dim FROM (VALUES " +
        "('Local (Ollama)', 'nomic-embed-text', 768), " +
        "('Local (Ollama)', 'mxbai-embed-large', 1024), " +
        "('Local (Ollama)', 'all-minilm', 384), " +
        "('Local (Ollama)', 'snowflake-arctic-embed', 1024), " +
        "('Local (Ollama)', 'mystery-model', 768), " +
        "('OpenRouter', 'openai/text-embedding-3-small', 1536), " +
        "('OpenRouter', 'openai/text-embedding-3-large', 3072), " +
        "('OpenRouter', 'openai/text-embedding-ada-002', 1536), " +
        "('OpenRouter', 'cohere/embed-english-v3.0', 1024), " +
        "('OpenRouter', 'cohere/embed-multilingual-v3.0', 1024), " +
        "('OpenRouter', 'cohere/embed-english-light-v3.0', 384), " +
        "('OpenRouter', 'voyageai/voyage-3-large', 1024), " +
        "('OpenRouter', 'voyageai/voyage-3.5-lite', 1024), " +
        "('OpenRouter', 'voyageai/voyage-3', 1024), " +
        "('OpenRouter', 'qwen/qwen3-embedding-8b', 4096), " +
        "('OpenRouter', 'qwen/qwen3-embedding-4b', 2048), " +
        "('OpenRouter', 'alibaba/gte-qwen2-7b-instruct', 3584), " +
        "('OpenRouter', 'mystery-model', 1536), " +
        "('Smart', 'openai/text-embedding-3-large', 3072), " +
        "('Smart', 'all-minilm', 384), " +
        "('Smart', 'mystery-model', 1536)" +
        ") AS t(provider, model, dim) ORDER BY provider, model"),
    "pipeline_e2e" ->
      (s"WITH c AS ($chunkRel), " +
        s"e AS (SELECT doc_id, chunk_index, chunk_text, $ctxExpr AS ctx, " +
        "count(*) OVER (PARTITION BY doc_id) AS total_chunks " +
        s"FROM (SELECT *, $headExpr AS head FROM c)) " +
        "SELECT doc_id, chunk_index, total_chunks, " +
        "md5(doc_id::VARCHAR || ':' || chunk_index::VARCHAR) AS point_id, " +
        "ctx AS context_prefix, " +
        "CASE WHEN ctx = '' THEN chunk_text ELSE ctx || chr(10) || chr(10) || chunk_text END AS embedded_text, " +
        s"$langExpr AS detected_languages " +
        "FROM e ORDER BY doc_id, chunk_index"),
    "pipeline_embed" ->
      (s"WITH c AS ($chunkRel) " +
        "SELECT doc_id, chunk_index, " +
        "md5(doc_id::VARCHAR || ':' || chunk_index::VARCHAR) AS point_id, " +
        "64 AS dim, 1.0 AS norm FROM c ORDER BY doc_id, chunk_index"),
    // the streaming relay's landed partitions == the batch pipeline over
    // the same corpus, plus the single micro-batch id the sink stamped
    "relay_replay_points" ->
      (s"WITH c AS ($chunkRel) " +
        "SELECT doc_id, chunk_index, " +
        "md5(doc_id::VARCHAR || ':' || chunk_index::VARCHAR) AS point_id, " +
        "64 AS dim, 1.0 AS norm, CAST(0 AS BIGINT) AS batch_id " +
        "FROM c ORDER BY doc_id, chunk_index"),
    // the stored index tables after init (batch 0) + TWO relay cycles:
    // the same minhash/band CTEs the proven dedup_incremental oracle
    // uses (DedupQueries.shingleSqlRel), replayed twice — batch 2's
    // existing side is init ∪ batch 1's accept, which is exactly the
    // cross-batch visibility the relay must provide — composed to the
    // per-store (k1, batch_id) membership relation
    "relay_index_state" -> relayStateSql(initBatch = 0),
    // the SAME relation after the in-stream compactEvery=2 fold: the
    // epoch-2 cadence folds strictly-earlier partitions {0, 1} into
    // their max (1) BEFORE processing, so init rows land at batch 1
    // beside acc1's (disjoint by the accept semantics — acc1 fps are
    // anti-joined and its bands semi-join-excluded against init) and
    // acc2 stays at 2. A fold that ran at the wrong epoch, folded the
    // wrong ids, moved the current epoch's partition, or changed any
    // ROW while moving it hash-mismatches.
    "relay_compacted_state" -> relayStateSql(initBatch = 1),
    // batch sessionization (lag/gap/prefix-sum) + the three-way batch
    // attribution: a non-final session closes event-driven in the
    // batch holding its SUCCESSOR's first event (file 1 => 0, file 2
    // => 1); a final session times out in batch 1 iff its close
    // instant ceil((last+gap)/1000)+1 ms is STRICTLY before the
    // post-batch-0 watermark (only reachable for file-1-only finals —
    // an extended session's target exceeds that watermark by
    // construction), else in the no-data batch 2 iff strictly before
    // the final watermark; later finals stay in state and never land
    "session_replay" ->
      ("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "b AS (SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT)) // 2 AS split, " +
        "CAST(max(us) AS BIGINT) AS mx FROM ev), " +
        "w1 AS (SELECT CAST(max(us) AS BIGINT) // 1000 - 600000 AS w FROM ev " +
        "WHERE us <= (SELECT split FROM b)), " +
        "w2 AS (SELECT mx // 1000 - 600000 AS w FROM b), " +
        "o AS (SELECT user_id, event_id, us, " +
        "lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus FROM ev), " +
        "g AS (SELECT user_id, us, sum(CASE WHEN pus IS NULL OR us - pus > 1800000000 " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM o), " +
        "sess AS (SELECT user_id, sid, CAST(min(us) AS BIGINT) AS session_start, " +
        "CAST(max(us) AS BIGINT) AS last_us, CAST(count(*) AS BIGINT) AS n_events " +
        "FROM g GROUP BY user_id, sid), " +
        "sx AS (SELECT *, lead(session_start) OVER (PARTITION BY user_id ORDER BY sid) " +
        "AS next_first FROM sess) " +
        "SELECT user_id, session_start, n_events, batch_id FROM (" +
        "SELECT user_id, session_start, n_events, " +
        "CASE WHEN next_first IS NOT NULL THEN " +
        "(CASE WHEN next_first <= (SELECT split FROM b) THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(1 AS BIGINT) END) " +
        // STRICT <, not <=: Spark fires EventTimeTimeout only when the
        // stored timeoutTimestamp is strictly below the eviction
        // watermark (ADVICE r17 — a target landing exactly ON the
        // watermark defers to the next batch / never fires)
        "WHEN (last_us + 1800000000) // 1000 + 1 < (SELECT w FROM w1) " +
        "THEN CAST(1 AS BIGINT) " +
        "WHEN (last_us + 1800000000) // 1000 + 1 < (SELECT w FROM w2) " +
        "THEN CAST(2 AS BIGINT) ELSE NULL END AS batch_id FROM sx) " +
        "WHERE batch_id IS NOT NULL ORDER BY user_id, session_start"),
    // the greedy repeat-cycle fold as a recursive cycle chain: cycle k
    // restarts at the first view AT OR AFTER cycle k-1's purchase (the
    // (ts, type) sort resolves the tie toward the view), later steps
    // strictly after the prior step's time; partial last cycles emit
    // their reached prefix; batch = which corpus half holds the step's
    // accepted event (the timeout batch only evicts, never emits)
    // (scalar subqueries, not a LATERAL chain: DuckDB's recursive part
    // silently drops the row when a nested LATERAL's aggregate is NULL
    // on an empty slice — the trailing PARTIAL cycle vanished; the
    // re-nested scalar form keeps the NULL-aggregate row)
    "funnel_advance_replay" ->
      ("WITH RECURSIVE ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "b AS (SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT)) // 2 AS split FROM ev), " +
        "cyc AS (" +
        "SELECT user_id, 0 AS k, CAST(NULL AS BIGINT) AS t1, CAST(NULL AS BIGINT) AS t2, " +
        "CAST(-1 AS BIGINT) AS t3 FROM (SELECT DISTINCT user_id FROM ev) " +
        "UNION ALL " +
        "SELECT user_id, k + 1, " +
        "(SELECT CAST(min(us) AS BIGINT) FROM ev e WHERE e.user_id = cyc.user_id " +
        "AND event_type = 'view' AND us >= cyc.t3), " +
        "(SELECT CAST(min(us) AS BIGINT) FROM ev e WHERE e.user_id = cyc.user_id " +
        "AND event_type = 'click' AND us > " +
        "(SELECT min(us) FROM ev e2 WHERE e2.user_id = cyc.user_id " +
        "AND event_type = 'view' AND us >= cyc.t3)), " +
        "(SELECT CAST(min(us) AS BIGINT) FROM ev e WHERE e.user_id = cyc.user_id " +
        "AND event_type = 'purchase' AND us > " +
        "(SELECT min(us) FROM ev e2 WHERE e2.user_id = cyc.user_id " +
        "AND event_type = 'click' AND us > " +
        "(SELECT min(us) FROM ev e3 WHERE e3.user_id = cyc.user_id " +
        "AND event_type = 'view' AND us >= cyc.t3))) " +
        "FROM cyc WHERE cyc.t3 IS NOT NULL AND " +
        "(SELECT min(us) FROM ev e WHERE e.user_id = cyc.user_id " +
        "AND event_type = 'view' AND us >= cyc.t3) IS NOT NULL) " +
        "SELECT user_id, step, step_type, ts_us, " +
        "CASE WHEN ts_us <= (SELECT split FROM b) THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(1 AS BIGINT) END AS batch_id FROM (" +
        "SELECT user_id, CAST(1 AS INT) AS step, 'view' AS step_type, t1 AS ts_us " +
        "FROM cyc WHERE k > 0 AND t1 IS NOT NULL " +
        "UNION ALL SELECT user_id, CAST(2 AS INT), 'click', t2 " +
        "FROM cyc WHERE k > 0 AND t2 IS NOT NULL " +
        "UNION ALL SELECT user_id, CAST(3 AS INT), 'purchase', t3 " +
        "FROM cyc WHERE k > 0 AND t3 IS NOT NULL" +
        ") ORDER BY user_id, ts_us"),
    // grouped(50) over the canonical order ⇒ batch b covers rows
    // [50b, 50b+49] with a partial tail — replayed via row_number
    "a5_batch_bounds" ->
      (s"WITH c AS ($chunkRel), " +
        "o AS (SELECT doc_id, chunk_index, " +
        "row_number() OVER (ORDER BY doc_id, chunk_index) - 1 AS rn FROM c) " +
        "SELECT rn // 50 AS embed_batch, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(min(doc_id * 10000 + chunk_index) AS BIGINT) AS first_key, " +
        "CAST(max(doc_id * 10000 + chunk_index) AS BIGINT) AS last_key " +
        "FROM o GROUP BY 1 ORDER BY 1"),
    "pipeline_ledger" ->
      ("SELECT doc_id AS source_drive_file, source AS file_title, " +
        "CASE WHEN length(trim(text)) = 0 THEN 'Failed' " +
        "WHEN n_chars > 52428800 THEN 'Failed' ELSE 'Completed' END AS status, " +
        "CASE WHEN length(trim(text)) = 0 THEN 'empty document' " +
        "WHEN n_chars > 52428800 THEN 'file too large' END AS error_message, " +
        "CASE WHEN length(trim(text)) > 0 AND n_chars <= 52428800 THEN (length(text) - 1) // 160 + 1 ELSE 0 END AS total_chunks, " +
        "CASE WHEN length(trim(text)) > 0 AND n_chars <= 52428800 THEN 100.0 ELSE 0.0 END AS progress_percent " +
        "FROM documents ORDER BY source_drive_file"),
    "pipeline_ledger_stages" ->
      ("WITH base AS (SELECT doc_id, source, CASE WHEN length(trim(text)) = 0 THEN 'empty' " +
        "WHEN n_chars IS NULL THEN 'unknown' " +
        "WHEN n_chars > 52428800 THEN 'large' ELSE 'ok' END AS k FROM documents), " +
        "st AS (SELECT doc_id, source, k, r.i AS stage_seq FROM base, " +
        "unnest(range(CASE k WHEN 'ok' THEN 7 WHEN 'empty' THEN 3 ELSE 2 END)) AS r(i)) " +
        "SELECT doc_id AS source_drive_file, source AS file_title, " +
        "CAST(stage_seq AS BIGINT) AS stage_seq, " +
        "CASE WHEN (k = 'empty' AND stage_seq = 2) OR (k IN ('large','unknown') AND stage_seq = 1) THEN 'Failed' " +
        "ELSE ['Queued','Extracting Text','Chunking','Enriching Context','Embedding'," +
        "'Storing Vectors','Completed'][CAST(stage_seq AS INT) + 1] END AS status, " +
        "CASE WHEN k = 'empty' AND stage_seq = 2 THEN 15.0 " +
        "WHEN k IN ('large','unknown') AND stage_seq = 1 THEN 0.0 " +
        "ELSE [0.0,15.0,30.0,45.0,80.0,95.0,100.0][CAST(stage_seq AS INT) + 1] END AS progress_percent, " +
        "CASE WHEN k = 'empty' AND stage_seq = 2 THEN 'empty document' " +
        "WHEN k = 'unknown' AND stage_seq = 1 THEN 'unknown file size' " +
        "WHEN k = 'large' AND stage_seq = 1 THEN 'file too large' END AS error_message " +
        "FROM st ORDER BY source_drive_file, stage_seq"),
    "pipeline_progress" ->
      ("WITH led AS (SELECT doc_id AS source_drive_file, " +
        "(length(text) - 1) // 160 + 1 AS total_chunks FROM documents " +
        "WHERE length(trim(text)) > 0 AND n_chars <= 52428800), " +
        "b AS (SELECT source_drive_file, total_chunks, CAST(g.i AS BIGINT) + 1 AS batch_no " +
        "FROM led, unnest(range((total_chunks + 1) // 2)) AS g(i)) " +
        "SELECT source_drive_file, batch_no, " +
        "CAST(least(batch_no * 2, total_chunks) AS BIGINT) AS processed_chunks, " +
        "CAST(total_chunks AS BIGINT) AS total_chunks, " +
        "CAST(floor(CAST(least(batch_no * 2, total_chunks) AS DOUBLE) / " +
        "CAST(total_chunks AS DOUBLE) * 80.0) AS BIGINT) AS progress_percent " +
        "FROM b ORDER BY source_drive_file, batch_no"),
    // closed form of the bounded sweep history: with m = (id + r0) % 3 the
    // first successful attempt is sweep j = (m = 0 ? 3 : 3 - m); a job
    // seeded retry_count 1 that needs sweep 3 exhausts eligibility first
    "t3_retry_sweep" ->
      ("WITH base AS (SELECT doc_id, doc_id % 4 = 0 AS failed, " +
        "CASE WHEN doc_id % 4 = 0 THEN (doc_id % 8) // 4 ELSE 0 END AS r0 FROM documents), " +
        "fin AS (SELECT doc_id, r0, CASE WHEN (doc_id + r0) % 3 = 0 THEN 3 " +
        "ELSE 3 - (doc_id + r0) % 3 END AS j FROM base WHERE failed) " +
        "SELECT doc_id, CASE WHEN r0 = 1 AND j = 3 THEN 'Failed' ELSE 'Completed' END AS status, " +
        "CAST(CASE WHEN r0 = 1 AND j = 3 THEN 3 ELSE r0 + j - 1 END AS BIGINT) AS retry_count FROM fin " +
        "UNION ALL SELECT doc_id, 'Completed' AS status, CAST(0 AS BIGINT) AS retry_count " +
        "FROM base WHERE NOT failed ORDER BY doc_id"),
    "health_check" ->
      ("SELECT * FROM (" +
        "SELECT 'collection:embeddings_dim' AS component, " +
        "min(len(embedding)) = max(len(embedding)) AS ok, 'uniform_dim' AS detail FROM embeddings " +
        "UNION ALL SELECT 'embedding_provider', true, 'dim=64' " +
        "UNION ALL SELECT 'table:documents', count(*) > 0, 'readable' FROM documents " +
        "UNION ALL SELECT 'table:embeddings', count(*) > 0, 'readable' FROM embeddings" +
        ") ORDER BY component"),
    "collection_merge" ->
      ("SELECT d.doc_id, s.start // 160 AS chunk_index, " +
        "md5(d.doc_id::VARCHAR || ':' || (s.start // 160)::VARCHAR) AS point_id, " +
        "CAST(length(substr(d.text, s.start + 1, 200)) AS BIGINT) AS character_count " +
        "FROM (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 2) d, " +
        "unnest(generate_series(0, length(d.text) - 1, 160)) AS s(start) " +
        "WHERE length(trim(d.text)) > 0 ORDER BY doc_id, chunk_index"),
    "k3_cascade_delete" ->
      (s"WITH c AS ($chunkRel) " +
        "SELECT doc_id AS source_drive_file, chunk_index, " +
        "md5(doc_id::VARCHAR || ':' || chunk_index::VARCHAR) AS point_id " +
        "FROM c WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE lang = 'zh') " +
        "ORDER BY source_drive_file, chunk_index"),
    // the lifecycle law, derived DIRECTLY from the v2 snapshot: chunk it
    // (the proven pipeline_e2e CTEs over the % 5 <> 2 docs), embed each
    // chunk's embedded_text with the bit-replayable md5 projection,
    // RLS-filter, dense top-12 by the same rounded cosine — what a
    // fresh full-pipeline run on v2 must serve, which the relay-log +
    // store composition must equal exactly
    "flagship_lifecycle" ->
      ("WITH nd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 2 " +
        "AND length(trim(text)) > 0 AND n_chars <= 52428800), " +
        "c AS (SELECT doc_id, text, s.start // 160 AS chunk_index, " +
        "substr(text, s.start + 1, 200) AS chunk_text FROM nd d, " +
        "unnest(generate_series(0, greatest(length(d.text) - 1, 0), 160)) AS s(start)), " +
        s"e AS (SELECT doc_id, chunk_index, CASE WHEN ctx = '' THEN chunk_text " +
        "ELSE ctx || chr(10) || chr(10) || chunk_text END AS et FROM " +
        s"(SELECT *, $ctxExpr AS ctx FROM (SELECT *, $headExpr AS head FROM c))), " +
        s"xs AS (SELECT doc_id, chunk_index, " +
        s"${graft.functions.VectorSql.md5ProjComponents("et")} AS x FROM e), " +
        "ev AS (SELECT doc_id, chunk_index, " +
        s"${graft.functions.VectorSql.md5ProjNormalize("x")} AS emb FROM xs), " +
        s"qx AS (SELECT ${graft.functions.VectorSql.md5ProjComponents(s"'$FlagshipQueryText'")} AS x), " +
        s"q AS (SELECT ${graft.functions.VectorSql.md5ProjNormalize("x")} AS qv FROM qx), " +
        "acc AS (SELECT doc_id FROM documents WHERE lang IN ('en', 'de') OR source = 'src_3'), " +
        "sc AS (SELECT e.doc_id, e.chunk_index, " +
        "md5(e.doc_id::VARCHAR || ':' || e.chunk_index::VARCHAR) AS point_id, " +
        s"${graft.functions.VectorSql.rankedCosineScore("e.emb", "q.qv")} AS score " +
        "FROM ev e, q WHERE e.doc_id IN (SELECT doc_id FROM acc)) " +
        "SELECT point_id, doc_id, chunk_index, score FROM sc " +
        "ORDER BY score DESC, point_id LIMIT 12")
  )

  /** The late-data gates reuse their base queries' oracles VERBATIM:
    * a correct stream drops the provably-late third batch, so the
    * landed relation must be identical to the two-batch run — any
    * accepted late event, resurrected session/funnel cycle, or
    * timeout-target drift hash-mismatches against the unchanged oracle.
    */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "session_replay_late" -> oraclesBase("session_replay"),
    "funnel_advance_late" -> oraclesBase("funnel_advance_replay"),
    // the bucketed store must land the SAME per-batch state as the dir
    // store — one relation, two physical backings
    "relay_bucketed_state" -> oraclesBase("relay_index_state"),
    "relay_int8_topk" -> relayInt8Sql,
    "relay_code_state" -> relayCodeSql,
    // the staging math in closed form (see the query comment): per-batch
    // input counts from the midpoint split, drops only in the late batch
    // — and there, everything; identical for both operator families
    // (same events corpus, same split)
    "late_drop_metrics" ->
      ("WITH ev AS (SELECT epoch_us(ts) AS us FROM events), " +
        "b AS (SELECT (CAST(min(us) AS BIGINT) + CAST(max(us) AS BIGINT)) // 2 AS split FROM ev), " +
        "m AS (SELECT CAST(max(us) AS BIGINT) AS mx1 FROM ev WHERE us <= (SELECT split FROM b)), " +
        "cnt AS (SELECT " +
        "CAST(count(*) FILTER (us <= (SELECT split FROM b)) AS BIGINT) AS n1, " +
        "CAST(count(*) FILTER (us > (SELECT split FROM b)) AS BIGINT) AS n2, " +
        s"CAST(count(*) FILTER (us <= (SELECT mx1 FROM m) - ${RelayFixtures.LateMarginMicros}) AS BIGINT) AS nl " +
        "FROM ev) " +
        "SELECT op, batch_id, rows_input, rows_dropped FROM (" +
        "SELECT 'session' AS op, CAST(0 AS BIGINT) AS batch_id, n1 AS rows_input, " +
        "CAST(0 AS BIGINT) AS rows_dropped FROM cnt " +
        "UNION ALL SELECT 'session', 1, n2, 0 FROM cnt " +
        "UNION ALL SELECT 'session', 2, nl, nl FROM cnt " +
        "UNION ALL SELECT 'funnel', 0, n1, 0 FROM cnt " +
        "UNION ALL SELECT 'funnel', 1, n2, 0 FROM cnt " +
        "UNION ALL SELECT 'funnel', 2, nl, nl FROM cnt" +
        ") ORDER BY op, batch_id"))
}
