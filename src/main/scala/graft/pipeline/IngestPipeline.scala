package graft.pipeline

import graft.PipelineSettings
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flagship ingestion lineage (SURVEY.md §3.1) as ONE declarative
  * DataFrame pipeline instead of the reference's 8-commit status machine
  * (reference: frappe_data_pipelines/tasks/process_embedding.py:16-295):
  *
  * {{{
  * files → ingest filters (F1/F2/F10) → chunk (G1) → enrich (P10/P11)
  *       → embed (P12/P13, mapPartitions batch=50) → point ids (T6)
  *       → vector-store rows (K1 payload schema)
  * }}}
  *
  * Scale design: filter → chunk → enrich → embed is one narrow stage
  * with no exchange, so it runs on every input partition. Each chunker
  * emits its document's `total_chunks` next to the chunks it explodes
  * (a per-row fact, not a window over doc_id); the only shuffle is an
  * optional sink partitioning. Providers are instantiated once per
  * partition (connection reuse) and batched at
  * [[PipelineSettings.embedBatchSize]] (reference batch=50,
  * process_embedding.py:356). Point ids are content-addressed
  * (`md5(doc:index)`) so retries are idempotent — a deliberate
  * improvement over the reference's fresh uuid4 per attempt, which
  * duplicates points on retry (SURVEY §2.9 T6).
  */
object IngestPipeline {

  /** Vector-store row schema (the K1 payload contract mirrors
    * tasks/process_embedding.py:387-399).
    */
  val pointSchema: StructType = StructType(Seq(
    StructField("point_id", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("source_drive_file", LongType),
    StructField("source_title", StringType),
    StructField("chunk_index", LongType),
    StructField("total_chunks", LongType),
    StructField("text", StringType),          // truncated payload copy
    StructField("original_text", StringType),
    StructField("context_prefix", StringType),
    StructField("detected_languages", StringType)
  ))

  /** THE F10/F2 predicates with their null discipline — ONE definition
    * behind [[ingestFilter]], [[ledger]] and [[ledgerStages]] (review
    * finding r15: three hand copies of these expressions had already
    * drifted once — the r14 null-text-Completed bug — and remained a
    * standing three-way hazard). `emptyText` is TRUE for null text;
    * `tooLarge` is TRUE for null size (unknown size fails the gate).
    */
  private[pipeline] def emptyTextPred = coalesce(length(trim(col("text"))), lit(0)) === 0
  private[pipeline] def tooLargePred(settings: PipelineSettings) =
    !coalesce(col("n_chars") <= settings.maxFileSizeMb.toLong * 1024 * 1024, lit(false))

  /** Ingest filters F2/F10 (F1/F3 have no analog columns on the test
    * corpus; they compose the same way).
    */
  def ingestFilter(files: DataFrame, settings: PipelineSettings): DataFrame =
    files
      .filter(!emptyTextPred)                // F10
      .filter(!tooLargePred(settings))       // F2

  /** Start offset of the last fixed-stride chunk of `text` (0 when the
    * text is empty or null: such a document still gets one chunk).
    */
  private def lastChunkStart = greatest(length(col("text")) - 1, lit(0)).cast("long")

  /** Chunks the fixed-stride chunker cuts from `text`: the size of its
    * start sequence, `floor(max(len - 1, 0) / stride) + 1`.
    */
  private def fixedChunkTotal(stride: Int) = (floor(lastChunkStart / stride) + 1).cast("long")

  /** Fixed-stride chunk relation — fully native (posexplode over a
    * sequence), SQL-mirrorable for the oracle gate.
    */
  def fixedChunkRel(files: DataFrame, size: Int = 200, overlap: Int = 40): DataFrame = {
    requireChunkGeometry(size, overlap)
    val stride = size - overlap
    files.select(
      col("doc_id"), col("source"), col("text"), fixedChunkTotal(stride).as("total_chunks"),
      posexplode(sequence(lit(0L), lastChunkStart, lit(stride.toLong)))
        .as(Seq("chunk_index", "start")))
      .select(col("doc_id"), col("source"), col("text"), col("total_chunks"),
        col("chunk_index").cast("long").as("chunk_index"),
        col("text").substr(col("start") + 1, lit(size)).as("chunk_text"))
  }

  /** Chunk geometry validation, shared by every chunk-parameterized
    * surface: stride = size - overlap must be positive, or the fixed
    * form's `sequence(..., step = 0)` dies as an opaque executor error
    * and [[ledger]]'s formula divides by zero into floored garbage —
    * two different failure modes for the same misconfiguration
    * (review finding r14). Fail loudly at the call site instead.
    */
  private def requireChunkGeometry(size: Int, overlap: Int): Unit = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"chunk overlap must be in [0, size): got overlap=$overlap, size=$size")
  }

  /** Recursive (G1) chunk relation — compiled generator UDF. */
  def recursiveChunkRel(files: DataFrame, size: Int = 200, overlap: Int = 40): DataFrame = {
    requireChunkGeometry(size, overlap)
    udfChunkRel(files, graft.text.RecursiveChunker.chunk(_, size, overlap))
  }

  /** Chunk relation of a row-at-a-time chunker, called once per document:
    * its chunk array feeds both `total_chunks` (the array's size) and
    * the posexplode.
    */
  private[pipeline] def udfChunkRel(files: DataFrame, chunker: String => Seq[String]): DataFrame = {
    val chunkUdf = udf(chunker)
    files.select(col("doc_id"), col("source"), col("text"), chunkUdf(col("text")).as("chunks"))
      .select(col("doc_id"), col("source"), col("text"),
        size(col("chunks")).cast("long").as("total_chunks"),
        posexplode(col("chunks")).as(Seq("chunk_index", "chunk_text")))
      .withColumn("chunk_index", col("chunk_index").cast("long"))
  }

  /** Enrichment stage over a chunk relation that carries each row's
    * document `total_chunks` (A4): context prefix (P10 stub),
    * embedded-text concat (P11), content-addressed point ids (T6),
    * language flags (P4/P17).
    */
  def enrich(
      chunkRel: DataFrame,
      settings: PipelineSettings = PipelineSettings.default,
      context: ContextProvider = new HeadlineContextProvider): DataFrame = {
    val ctxUdf = udf((head: String, chunk: String) => context.contextFor(head, chunk))
    chunkRel
      .withColumn("context_prefix",
        ctxUdf(substring(col("text"), 1, settings.contextDocTruncation), col("chunk_text")))
      .withColumn("embedded_text",                                             // P11
        when(col("context_prefix") === "", col("chunk_text"))
          .otherwise(concat_ws("\n\n", col("context_prefix"), col("chunk_text"))))
      .withColumn("point_id",                                                  // T6
        md5(concat(col("doc_id").cast("string"), lit(":"), col("chunk_index").cast("string"))
          .cast("binary")))
      .withColumn("detected_languages", TextOps.detectedLanguagesCsv(col("chunk_text")))
      .drop("text")
  }

  /** Embed stage: mapPartitions with per-partition provider instance and
    * order-preserving batches (P12/P13/A5). Output adds `embedding`.
    */
  /** `tagBatches = true` appends `embed_batch` — the 0-based ordinal of
    * the provider call that embedded the row WITHIN ITS PARTITION
    * (A5's observable surface: `grouped(batchSize)` batches consecutive
    * rows with a partial tail). Partition-relative by nature; callers
    * wanting a deterministic relation pin the layout first (the
    * `a5_batch_bounds` query canonicalizes to one sorted partition —
    * which is also why A5 is an execution detail, not a logical
    * operator: production batch ids depend on the physical layout).
    */
  def embedStage(
      chunks: DataFrame,
      provider: EmbeddingProvider = new HashProjectionEmbedder(64),
      batchSize: Int = PipelineSettings.default.embedBatchSize,
      tagBatches: Boolean = false): DataFrame = {
    require(batchSize >= 1, s"embedStage: batchSize must be >= 1, got $batchSize")
    val inSchema = chunks.schema
    val outSchema = {
      val withVec = inSchema.add("embedding", ArrayType(FloatType, containsNull = false))
      if (tagBatches) withVec.add("embed_batch", org.apache.spark.sql.types.LongType,
        nullable = false)
      else withVec
    }
    val textIdx = inSchema.fieldIndex("embedded_text")
    // Dataset.mapPartitions (not .rdd.mapPartitions): stays a single
    // MapPartitions node inside the Dataset plan, so Catalyst keeps
    // optimizing the rest of the lineage and no RDD<->DF round trip is
    // paid. The external-call stage itself can't be codegen'd regardless.
    chunks.mapPartitions { rows =>
      rows.grouped(batchSize).zipWithIndex.flatMap { case (batch, bi) =>
        val vecs = provider.embed(batch.map(_.getString(textIdx)))
        // the provider is a public seam: an implementation returning
        // the wrong arity (partial response, server-side dedup) would
        // otherwise be TRUNCATED against the batch by the zip — rows
        // silently vanishing from the vector store (review finding r14)
        require(vecs.size == batch.size,
          s"EmbeddingProvider returned ${vecs.size} vectors for a batch of ${batch.size} texts")
        batch.lazyZip(vecs).map { (r, v) =>
          val base = r.toSeq :+ v.toSeq
          Row.fromSeq(if (tagBatches) base :+ bi.toLong else base)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Full lineage to vector-store rows (K1 schema). `fixedChunker` swaps
    * the G1 recursive chunker for the SQL-mirrorable fixed-stride form
    * (used by the oracle-gated query variant). Chunk geometry comes
    * from [[PipelineSettings.chunkSize]]/[[PipelineSettings.chunkOverlap]]
    * — previously dead config the chunkers' own defaults shadowed
    * (review finding r14): a caller passing the reference's 1000/200
    * got 200/40 silently. The suite's small-doc geometry is
    * [[PipelineSettings.smallDocs]], passed explicitly by the oracle
    * queries.
    */
  def run(
      files: DataFrame,
      settings: PipelineSettings = PipelineSettings.default,
      provider: EmbeddingProvider = new HashProjectionEmbedder(64),
      fixedChunker: Boolean = false): DataFrame = {
    val filtered = ingestFilter(files, settings)
    val rel =
      if (fixedChunker) fixedChunkRel(filtered, settings.chunkSize, settings.chunkOverlap)
      else recursiveChunkRel(filtered, settings.chunkSize, settings.chunkOverlap)
    val enriched = enrich(rel, settings)
    embedStage(enriched, provider, settings.embedBatchSize)
      .select(
        col("point_id"),
        col("embedding"),
        col("doc_id").as("source_drive_file"),
        col("source").as("source_title"),
        col("chunk_index").cast("long").as("chunk_index"),
        col("total_chunks").cast("long").as("total_chunks"),
        substring(col("chunk_text"), 1, settings.payloadTextTruncation).as("text"), // P15
        col("chunk_text").as("original_text"),
        col("context_prefix"),
        col("detected_languages"))
  }

  /** Job ledger (T2/T5 as data, not control flow): one row per input
    * file with terminal status and counters (A4). `Failed` captures the
    * filter reason the reference would have error-logged. Chunk totals
    * are [[fixedChunkRel]]'s own count (floor((len-1)/stride)+1), so the
    * whole ledger stays native-expression and SQL-mirrorable. They are a
    * prediction, not an observation: they equal the totals of
    * `run(files, fixedChunker = true)` only. The default `run(files)`
    * chunks recursively, and its totals differ wherever the recursive
    * chunker packs a document into a different number of chunks (about
    * a quarter of the benchmark's ingest uploads). A ledger observed
    * from the real run is ROADMAP item 5.
    */
  def ledger(
      files: DataFrame,
      settings: PipelineSettings = PipelineSettings.default,
      chunkSize: Option[Int] = None,
      chunkOverlap: Option[Int] = None): DataFrame = {
    // geometry defaults FROM SETTINGS (ADVICE r14): run() takes chunk
    // geometry from settings, so ledger(files) and
    // run(files, fixedChunker = true) under defaults count chunks under
    // the SAME geometry — independent parameter defaults (200/40) had
    // the two silently disagree once run() switched to settings
    val cs = chunkSize.getOrElse(settings.chunkSize)
    val co = chunkOverlap.getOrElse(settings.chunkOverlap)
    requireChunkGeometry(cs, co)
    val stride = cs - co
    // NULL discipline mirrors ingestFilter EXACTLY via the ONE shared
    // predicate pair (r14 finding: a hand copy drifted and a null-text
    // file reported Completed; r15 extracted the predicates so the
    // three surfaces cannot drift again): a file is Completed iff the
    // filter would pass it.
    val emptyText = emptyTextPred
    val tooLarge = tooLargePred(settings)
    files.select(
      col("doc_id").as("source_drive_file"),
      col("source").as("file_title"),
      when(emptyText, lit("Failed"))
        .when(tooLarge, lit("Failed"))
        .otherwise(lit("Completed")).as("status"),
      when(emptyText, lit("empty document"))
        .when(col("n_chars").isNull, lit("unknown file size"))
        .when(tooLarge, lit("file too large"))
        .otherwise(lit(null).cast("string")).as("error_message"),
      // chunk counts ONLY for files run() actually chunks (review
      // finding r15: a too-large/unknown-size file reported a positive
      // total_chunks for work that never happened — run() filters it
      // out and ledgerStages fails it before 'Chunking'; summing the
      // ledger's counter overcounted)
      when(!emptyText && !tooLarge, fixedChunkTotal(stride))
        .otherwise(lit(0L)).as("total_chunks"))
      .withColumn("progress_percent",
        when(col("status") === "Completed", lit(100.0)).otherwise(lit(0.0)))
  }

  /** Per-batch embed progress counters: the reference's embed loop
    * writes `processed_chunks = min(i + batch_size, n)` and
    * `progress_percent = int(processed / n * 80)` after every provider
    * batch (process_embedding.py:358-367, batch_size 50) — mid-stage
    * granularity the milestone [[ledgerStages]] deliberately omits.
    * Modeled batch-engine-honestly as one row per (file, batch) of the
    * counter values the reference would have committed after that batch
    * landed: no mutation, the whole loop is a single explode over a
    * per-file batch range (corpus-linear, no shuffle). The percent is
    * the reference's own float-then-truncate (int() == floor for
    * positive), computed in double in BOTH engines so the oracle is
    * bit-identical; it tops out at 80 exactly like the loop.
    */
  def embedProgress(
      files: DataFrame,
      settings: PipelineSettings = PipelineSettings.default,
      chunkSize: Option[Int] = None,
      chunkOverlap: Option[Int] = None,
      batchSize: Int = 50): DataFrame = {
    require(batchSize >= 1, s"embedProgress: batchSize must be >= 1, got $batchSize")
    val b = batchSize.toLong
    ledger(files, settings, chunkSize, chunkOverlap)
      .filter(col("status") === "Completed")
      .select(col("source_drive_file"), col("total_chunks"))
      .withColumn("batch_no",
        explode(sequence(lit(1L),
          floor((col("total_chunks") + (b - 1)) / b).cast("long"))))
      .withColumn("processed_chunks", least(col("batch_no") * b, col("total_chunks")))
      .select(col("source_drive_file"), col("batch_no"), col("processed_chunks"),
        col("total_chunks"),
        floor(col("processed_chunks").cast("double") /
          col("total_chunks").cast("double") * 80.0).cast("long").as("progress_percent"))
  }

  /** The reference's granular job state machine (T2) as data: status
    * history rows per file, mirroring the eight-option Select
    * (embedding_job.json:60-67 — Queued → Extracting Text → Chunking →
    * Enriching Context → Embedding → Storing Vectors → Completed, plus
    * Failed) and the save-per-transition flow (process_embedding.py:
    * 36-67). Progress percents echo the reference's milestones (embed
    * loop tops out at 80, process_embedding.py:366). A file that fails
    * keeps the stages it reached, then a Failed row at the point of
    * failure with the captured error (T5): empty documents die during
    * text extraction, oversized files at the pre-extraction gate.
    * Native expressions only — one explode, no shuffle.
    */
  val StageMilestones: Seq[(String, Double)] = Seq(
    "Queued" -> 0.0, "Extracting Text" -> 15.0, "Chunking" -> 30.0,
    "Enriching Context" -> 45.0, "Embedding" -> 80.0,
    "Storing Vectors" -> 95.0, "Completed" -> 100.0)

  def ledgerStages(
      files: DataFrame,
      settings: PipelineSettings = PipelineSettings.default): DataFrame = {
    def stage(seq: Int, status: String, progress: Double) =
      struct(lit(seq.toLong).as("stage_seq"), lit(status).as("status"),
        lit(progress).as("progress_percent"),
        lit(null).cast("string").as("error_message"))
    def failed(seq: Int, progress: Double, error: String) =
      struct(lit(seq.toLong).as("stage_seq"), lit("Failed").as("status"),
        lit(progress).as("progress_percent"), lit(error).as("error_message"))
    val okArr = array(StageMilestones.zipWithIndex.map {
      case ((name, pct), i) => stage(i, name, pct)
    }: _*)
    val emptyArr = array(stage(0, "Queued", 0.0), stage(1, "Extracting Text", 15.0),
      failed(2, 15.0, "empty document"))
    val largeArr = array(stage(0, "Queued", 0.0), failed(1, 0.0, "file too large"))
    // unknown-size files get the SAME reason the ledger reports (review
    // finding r15: this surface said 'file too large' where ledger said
    // 'unknown file size' for the same input)
    val unknownArr = array(stage(0, "Queued", 0.0), failed(1, 0.0, "unknown file size"))
    files.select(
      col("doc_id").as("source_drive_file"), col("source").as("file_title"),
      explode(
        // same null discipline as ledger, via the ONE shared predicates
        when(emptyTextPred, emptyArr)
          .when(col("n_chars").isNull, unknownArr)
          .when(tooLargePred(settings), largeArr)
          .otherwise(okArr)).as("st"))
      .select(col("source_drive_file"), col("file_title"),
        col("st.stage_seq"), col("st.status"),
        col("st.progress_percent"), col("st.error_message"))
  }

  /** T3 retry orchestration (reference: process_embedding.py:518-544 —
    * hourly sweep re-queues Failed jobs with retry_count < 3; a failed
    * attempt increments retry_count, process_embedding.py:68-75). One
    * sweep = filter (F5) → re-queue → replay the attempt. The attempt
    * outcome is a seam (`succeeds(id, attemptNo)`) so tests/oracles can
    * replay deterministic histories; re-running a job is idempotent
    * because point ids are content-addressed (T6).
    */
  def retrySweep(
      ledger: DataFrame,
      maxRetries: Int = 3,
      succeeds: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): DataFrame = {
    val eligible = col("status") === "Failed" && col("retry_count") < maxRetries
    val attempt = col("retry_count") + 1
    val ok = succeeds(col("source_drive_file"), attempt)
    ledger
      .withColumn("next_status",
        when(eligible, when(ok, lit("Completed")).otherwise(lit("Failed")))
          .otherwise(col("status")))
      .withColumn("next_retry",
        when(eligible && !ok, col("retry_count") + 1).otherwise(col("retry_count")))
      .drop("status", "retry_count")
      .withColumnRenamed("next_status", "status")
      .withColumnRenamed("next_retry", "retry_count")
  }

  /** Bounded retry loop: maxRetries sweeps composed as ONE declarative
    * plan — the sweep count is static (a job failing every attempt is
    * swept at most maxRetries times), so unlike iterative convergence
    * loops this needs no per-round driver action at any scale.
    */
  def retryLoop(
      ledger: DataFrame,
      maxRetries: Int = 3,
      succeeds: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): DataFrame =
    (1 to maxRetries).foldLeft(ledger)((l, _) => retrySweep(l, maxRetries, succeeds))

  /** K3 cascade delete: Delta-style DELETE WHERE as a partition rewrite —
    * returns the surviving rows (caller overwrites the table with them).
    */
  def cascadeDelete(points: DataFrame, deletedFileIds: Dataset[java.lang.Long]): DataFrame =
    points.join(
      broadcast(deletedFileIds.toDF("deleted_id")),
      points("source_drive_file") === col("deleted_id"),
      "left_anti")
}
