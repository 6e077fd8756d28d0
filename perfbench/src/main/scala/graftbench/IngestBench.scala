package graftbench

import java.io.File

import graft.BatchSink
import graft.pipeline.{EmbeddingProvider, HashProjectionEmbedder, IngestPipeline}
import graft.search.SearchService
import graft.text.RecursiveChunker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** `ingest`: uploads arrive in a closed loop (one client; the next batch
  * lands when the previous one is searchable). In the traced run an
  * open-loop reader also searches the growing store, one query per batch.
  */
object IngestBench {
  val K = 10
  val OverFetch = 5
  val SharedFile = "[02468]\\.[a-z]+$"
  /** Query texts checked against the brute force on the finished store,
    * each under RLS and as an admin.
    */
  val SearchChecks = 1

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val warm = Batch.list(ctx.inputDir, ctx.manifest.get("warm"))
    val timed = Batch.list(ctx.inputDir, ctx.manifest.get("timed"))
    val readerTexts = {
      val it = ctx.manifest.get("reader_queries").elements()
      val b = Vector.newBuilder[String]; while (it.hasNext) b += it.next().asText; b.result()
    }

    // set-up: JIT warm-up on a disjoint corpus, through the relay the
    // timed batches use (its start-up is set-up too). The background
    // reader runs in the traced run only: its read path is still warming
    // up at this point and spread the untraced ingest figures ±17 %.
    val relay = new Relay(spark, ctx.work("timed"))
    val reader = if (ctx.trace) Some(new Reader(spark, relay.store, readerTexts, ctx)) else None
    warm.foreach { b =>
      relay.ingest(relay.land(b))
      reader.foreach(_.due())
    }
    ctx.out.set("setup_end_ms", Harness.nowMs)
    reader.foreach(_.record())

    val t0 = System.nanoTime()
    // a fixed number of batches (about one per second of --seconds on a
    // 4-core box), so every run and seed does the same amount of work;
    // the traced run splits them: untraced, listeners, each stage as its
    // own action
    val n = ctx.manifest.get("timed_batches").asInt
    val phases = if (ctx.trace) Seq("plain" -> 4, "listen" -> 4, "stages" -> 3) else Seq("plain" -> n)
    var next = 0
    var landedFiles = 0L
    var layers = Map.empty[String, Double]
    val split = reader.map(_ => new SplitSearch(spark, ctx.work("reader_stages")))
    phases.foreach { case (phase, count) =>
      val trace = if (phase == "listen") Some(new Trace(spark)) else None
      trace.foreach(_.start())
      val stages = if (phase == "stages") Some(new Stages(spark, ctx, relay)) else None
      reader.foreach(_.split = stages.flatMap(_ => split))
      val ops = count.toLong
      val lag0 = reader.map(_.lagSamples).getOrElse(0)
      timed.slice(next, next + count).foreach { b =>
        next += 1
        val tLand = System.nanoTime()
        val cpuLand = Harness.processCpuS
        try {
          val landed = relay.land(b)
          reader.foreach(_.due())
          stages match {
            case Some(s) => s.ingest(landed, next)
            case None => relay.ingest(landed)
          }
          val ms = (System.nanoTime() - tLand) / 1e6
          ctx.out.sample(s"batch_ms.$phase", ms)
          if (phase == "plain") {
            ctx.out.sample("batch_ms", ms)
            ctx.out.sample("batch_cpu_ms", (Harness.processCpuS - cpuLand) * 1000)
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            ctx.out.fail(s"batch ${b.dir}: $e")
        }
        landedFiles += b.files.size
      }
      trace.foreach(t => layers ++= t.stop(ops, ctx.cores, reader.map(_.lagSince(lag0)).getOrElse(0.0)))
      stages.foreach(s => layers ++= s.layers(ops))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    ctx.out.set("timed_end_ms", Harness.nowMs)
    reader.foreach(_.stop())
    split.foreach(sp => layers ++= sp.layers)
    relay.query.processAllAvailable()
    relay.stop()

    val out = ctx.out
    out.set("ops", landedFiles)
    out.set("elapsed_s", elapsed)
    out.set("files_per_batch", timed.head.files.size)
    val (storeFiles, storeBytes) = Harness.dataBytes(relay.store)
    val points = spark.read.parquet(relay.store).count()
    out.set("store_bytes", storeBytes)
    out.set("points", points)

    out.set("ledger_vs_points_mismatch_files", check(spark, ctx, timed.take(next), relay))
    checkSearch(spark, ctx, relay.store, readerTexts.take(SearchChecks))
    layers += "store.files" -> storeFiles.toDouble
    layers += "store.bytes" -> storeBytes.toDouble
    reader.foreach(_.checkAll())
    val readerMs = out.samples("reader_ms")
    layers += "search.reader_p50_ms" -> Harness.median(readerMs)
    if (ctx.trace) out.set("layers", layers)
  }

  /** Every landed file's points against the reference chunker applied to
    * the text the generator encoded, and every file's ledger row against
    * the ledger's documented fixed-stride count, floor((len - 1) / stride)
    * + 1 over the extracted text. The relay chunks recursively, so the two
    * counts differ where the recursive chunker cuts at a separator; that
    * is the ledger's definition, not a failure. Returns how many files
    * differ.
    */
  private def check(spark: SparkSession, ctx: Ctx, batches: Seq[Batch], relay: Relay): Int = {
    case class Landed(doc: Long, idx: Long, total: Long, pointId: String, original: String)
    val rows = spark.read.parquet(relay.store)
      .select("source_title", "source_drive_file", "chunk_index", "total_chunks", "point_id", "original_text")
      .collect()
    val byFile = rows.groupBy(r => Relay.fileName(r.getString(0))).map { case (f, rs) =>
      f -> rs.map(r => Landed(r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
        .sortBy(_.idx).toVector
    }
    val staged = new File(relay.relayIn + "_stages")
    val extracted = spark.read.schema(Relay.DocSchema).parquet(
      (relay.relayIn +: (if (staged.exists) Seq(staged.getPath) else Nil)): _*)
    val textOf = extracted.select("source", "text").collect()
      .map(r => Relay.fileName(r.getString(0)) -> r.getString(1)).toMap
    val ledger = IngestPipeline.ledger(extracted, Relay.Settings)
      .select("file_title", "status", "total_chunks").collect()
      .groupBy(r => Relay.fileName(r.getString(0)))
    val stride = Relay.Settings.chunkSize - Relay.Settings.chunkOverlap
    var ledgerMismatch = 0
    for (b <- batches; u <- b.files) {
      val got = byFile.getOrElse(u.name, Vector.empty)
      val ok =
        if (u.corrupt) got.isEmpty
        else {
          val consistent = got.nonEmpty &&
            got.map(_.idx) == got.indices.map(_.toLong) &&
            got.forall(p => p.total == got.size &&
              p.pointId == Harness.md5Hex(s"${p.doc}:${p.idx}"))
          u.text match {
            case Some(t) =>
              consistent && got.map(_.original) == RecursiveChunker.chunk(t, Relay.Settings.chunkSize,
                Relay.Settings.chunkOverlap)
            case None => consistent // image text comes from the OCR/vision providers
          }
        }
      ctx.out.check(ok, s"ingest ${u.name} (${u.fmt}, corrupt=${u.corrupt}): ${got.size} points")
      val entries = ledger.getOrElse(u.name, Array.empty)
      val ledgerOk =
        if (u.corrupt) entries.forall(r => r.getString(1) == "Failed" && r.getLong(2) == 0L) // dropped or Failed
        else textOf.get(u.name).exists { t =>
          val expected = (t.codePointCount(0, t.length) - 1) / stride + 1
          entries.length == 1 && entries(0).getString(1) == "Completed" && entries(0).getLong(2) == expected
        }
      ctx.out.check(ledgerOk,
        s"ledger ${u.name} (corrupt=${u.corrupt}): ${entries.map(r => s"${r.getString(1)}/${r.getLong(2)}").mkString(",")}")
      if (!u.corrupt && entries.exists(_.getLong(2) != got.size)) ledgerMismatch += 1
    }
    ledgerMismatch
  }

  /** Queries the finished store with `texts`, under RLS and as an admin,
    * and checks each answer against the plain-Scala brute force.
    */
  private def checkSearch(spark: SparkSession, ctx: Ctx, store: String, texts: Seq[String]): Unit = {
    val v = Relay.vectors(spark, store)
    val points = v.select("vec_id", "embedding", "text").collect()
      .map(r => Point(r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2)))
    val reference = new Reference(points)
    val sharedDf = v.filter(col("source_title").rlike(SharedFile)).select("vec_id")
    val shared = sharedDf.collect().map(_.getLong(0)).toSet
    for (text <- texts; admin <- Seq(false, true)) {
      val got = SearchService.search(v, sharedDf, Relay.queryRel(spark, text), K, OverFetch,
        roles = if (admin) SplitSearch.Admin else Nil)
        .select("vec_id", "score", "rerank_score").collect()
        .map(r => Hit(r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val ref = reference.search(if (admin) None else Some(shared), Relay.queryVector(text), text, K, OverFetch)
      ctx.out.check(reference.same(got, ref),
        s"search admin=$admin '$text': engine=${got.map(_.id)} reference=${ref.map(_.id)}")
    }
  }

  /** Open-loop reader: one search is due when each batch lands, queued
    * behind earlier ones without waiting for ingest, and timed from when
    * it was due, so a stall shows in every later query. Tying the read
    * rate to batches rather than to the clock keeps the read/write mix the
    * same in every run.
    */
  final class Reader(spark: SparkSession, store: String, texts: Vector[String], ctx: Ctx) {
    private val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    @volatile private var recording = false
    /** Set in the traced run's stages phase: each query also runs split. */
    @volatile var split: Option[SplitSearch] = None
    private val lags = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    private val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Hit])]()
    private var i = 0

    /** From now on every query is recorded. */
    def record(): Unit = recording = true

    def lagSamples: Int = lags.size
    def lagSince(from: Int): Double = {
      val xs = lags.toArray.drop(from).map(_.asInstanceOf[Double])
      Harness.median(xs.toSeq)
    }

    /** A query due now. */
    def due(): Unit = {
      val text = texts(i % texts.size)
      i += 1
      val due = System.nanoTime()
      val rec = recording
      val sp = split
      pool.submit(new Runnable { def run(): Unit = query(text, due, rec, sp) })
    }

    /** `sp`: the split form this query also runs; its time is the split's
      * and is left out of `reader_ms`.
      */
    private def query(text: String, due: Long, rec: Boolean, sp: Option[SplitSearch]): Unit = {
      if (rec) lags.add((System.nanoTime() - due) / 1e6)
      try {
        val v = Relay.vectors(spark, store)
        // RLS: the reader may see the even-numbered files of each batch
        val shared = v.filter(col("source_title").rlike(SharedFile)).select("vec_id")
        sp.foreach(_.search(v, shared, shared.count(), text, K, OverFetch))
        val df = SearchService.search(v, shared, Relay.queryRel(spark, text), K, OverFetch)
          .select("vec_id", "score", "rerank_score", "source_title")
        val hits = sp.map(_.planThenRun(df)).getOrElse(df.collect())
        if (rec && sp.isEmpty) ctx.out.sample("reader_ms", (System.nanoTime() - due) / 1e6)
        val ok = hits.length <= K && hits.forall(r => SharedFile.r.findFirstIn(r.getString(3)).nonEmpty)
        results.add(text -> hits.map(r => Hit(r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq)
        ctx.out.check(ok, s"reader query '$text'")
      } catch {
        case scala.util.control.NonFatal(e) =>
          ctx.out.attempted.incrementAndGet(); ctx.out.fail(s"reader query '$text': $e")
      }
    }

    /** Waits for every queued query. */
    def stop(): Unit = {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    }

    /** Reader answers must be ordered the way search orders them. */
    def checkAll(): Unit = results.forEach { case (text, hits) =>
      val sortedOk = hits.zip(hits.drop(1)).forall { case (a, b) =>
        a.rerank > b.rerank || (a.rerank == b.rerank && (a.score > b.score || (a.score == b.score && a.id < b.id)))
      }
      if (!sortedOk) ctx.out.fail(s"reader query '$text' returned rows out of order")
    }
  }

  /** The traced run's per-stage form of one batch: every stage is its own
    * action over the previous stage's checkpointed parquet, writing into
    * the same store and ledger as the relay.
    */
  final class Stages(spark: SparkSession, ctx: Ctx, relay: Relay) {
    private val calls: LongAccumulator = spark.sparkContext.longAccumulator("embed_calls")
    private val texts: LongAccumulator = spark.sparkContext.longAccumulator("embed_texts")
    private val t = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    private val ckptRoot = ctx.work("stages")
    private val Formats = Seq("pdf" -> "*.pdf", "docx" -> "*.docx", "text" -> "*.{txt,md}",
      "image" -> "*.{png,jpg,jpeg,gif,bmp}")

    private def timed(key: String)(body: => Unit): Unit = { val (_, s) = Harness.secondsOf(body); t(key) += s }

    def ingest(landed: String, seq: Int): Unit = {
      val ck = s"$ckptRoot/b$seq"
      Formats.foreach { case (fmt, glob) =>
        val files = Relay.binaryFiles(spark, landed, Some(glob))
        val n = files.count(); val bytes = if (n == 0) 0L else files.agg(sum("length")).first().getLong(0)
        t("sources.files_in") += n; t("sources.bytes_in") += bytes
        timed(s"sources.extract_${fmt}_s") {
          graft.sources.TextExtraction.extract(files).write.parquet(s"$ck/extract/$fmt")
        }
        t("sources.files_dropped") += n - spark.read.schema(Relay.DocSchema).parquet(s"$ck/extract/$fmt").count()
      }
      val docs = spark.read.schema(Relay.DocSchema).parquet(s"$ck/extract/*")
      timed("text.chunk_s") {
        IngestPipeline.recursiveChunkRel(IngestPipeline.ingestFilter(docs, Relay.Settings),
          Relay.Settings.chunkSize, Relay.Settings.chunkOverlap).write.parquet(s"$ck/chunks")
      }
      val chunks = spark.read.parquet(s"$ck/chunks")
      t("text.chunks_out") += chunks.count()
      timed("pipeline.enrich_s") { IngestPipeline.enrich(chunks, Relay.Settings).write.parquet(s"$ck/enriched") }
      val provider = new CountingEmbedder(new HashProjectionEmbedder(Relay.Dim), calls, texts)
      timed("pipeline.embed_s") {
        IngestPipeline.embedStage(spark.read.parquet(s"$ck/enriched"), provider, Relay.Settings.embedBatchSize)
          .write.parquet(s"$ck/embedded")
      }
      // the same K1 projection IngestPipeline.run ends with
      val points = spark.read.parquet(s"$ck/embedded").select(
        col("point_id"), col("embedding"), col("doc_id").as("source_drive_file"),
        col("source").as("source_title"), col("chunk_index").cast("long").as("chunk_index"),
        col("total_chunks").cast("long").as("total_chunks"),
        substring(col("chunk_text"), 1, Relay.Settings.payloadTextTruncation).as("text"),
        col("chunk_text").as("original_text"), col("context_prefix"), col("detected_languages"))
      val batchId = 1000000L + seq
      timed("pipeline.sink_s") { BatchSink.writeBatch(points, batchId, relay.store, full = false) }
      timed("pipeline.ledger_s") {
        BatchSink.writeBatch(IngestPipeline.ledgerStages(docs, Relay.Settings), batchId, relay.ledger, full = false)
      }
      // keep the relay input complete for the ledger comparison
      docs.write.mode("append").parquet(relay.relayIn + "_stages")
    }

    def layers(ops: Long): Map[String, Double] = {
      val n = math.max(1L, ops).toDouble
      val per = t.map { case (k, v) => k -> v / n }.toMap
      val extract = Formats.map(f => per.getOrElse(s"sources.extract_${f._1}_s", 0.0)).sum
      per ++ Map(
        "sources.extract_s" -> extract,
        "sources.extract_text_s" -> per.getOrElse("sources.extract_text_s", 0.0),
        "pipeline.embed_calls" -> calls.value / n,
        "pipeline.embed_texts" -> texts.value / n)
    }
  }
}

/** Counts provider calls and texts around the real embedder. */
final class CountingEmbedder(inner: EmbeddingProvider, calls: LongAccumulator, texts: LongAccumulator)
    extends EmbeddingProvider {
  def dimension: Int = inner.dimension
  def embed(xs: Seq[String]): Seq[Array[Float]] = {
    calls.add(1); texts.add(xs.size.toLong); inner.embed(xs)
  }
}
