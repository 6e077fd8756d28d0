package graft.operators

import graft.Tables
import graft.pipeline.{EmbeddingProvider, HashProjectionEmbedder, IngestPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The fixture plumbing the relay gates in [[PipelineQueries]] share:
  * marker-guarded set-up steps, the staged landing files, the one-pass
  * ANN init and the bounded-replay run. Every gate call starts its
  * stream; the checkpoint makes a repeat call a run that reads no input,
  * which is the exactly-once property the gates claim.
  */
private[operators] object RelayFixtures {

  /** Runs `body` unless `base/marker` exists, and writes the marker only
    * after `body` returns, so a crash mid-way re-runs the whole step.
    * Every guarded step must therefore be safe to re-run over its own
    * partial output (full overwrites and re-entrant staging are).
    */
  def once(s: SparkSession, base: String, marker: String)(body: => Unit): Unit = {
    val mark = new org.apache.hadoop.fs.Path(s"$base/$marker")
    val fs = mark.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(mark)) {
      body
      fs.create(mark, true).close()
    }
  }

  /** The maintenance relays' increments: the 20 % of `docs` outside the
    * init corpus as two mtime-ordered landing files (doc_id % 10 == 0,
    * then % 10 == 5), so `maxFilesPerTrigger = 1` makes them batches 1
    * and 2.
    */
  def stageIncrements(s: SparkSession, docs: DataFrame, inDir: String): Unit = {
    val now = System.currentTimeMillis()
    TmpDirs.stageLandingFile(s, docs.filter(col("doc_id") % 10 === 0),
      s"$inDir/in1.parquet", now - 20000)
    TmpDirs.stageLandingFile(s, docs.filter(col("doc_id") % 10 === 5),
      s"$inDir/in2.parquet", now - 10000)
  }

  /** One embed pass over `existing` feeds both the k-means iterations
    * and `AnnIndex.init` at `annDir` (checkpointed, so the k-means
    * actions do not re-run the embed). Returns the embeddings
    * (vec_id, embedding) for the stores that init from them too.
    */
  def initAnn(existing: DataFrame, annDir: String,
              provider: EmbeddingProvider = new HashProjectionEmbedder(64)): DataFrame = {
    val emb = IngestPipeline.embedStage(
        existing.select(col("doc_id"), col("text").as("embedded_text")), provider)
      .select(col("doc_id").as("vec_id"), col("embedding"))
      .localCheckpoint()
    AnnIndex.init(emb, annDir,
      quantizer = Some(AnnIndex.kmeans(emb, k = 8, iters = 2)))
    emb
  }

  /** The watermark delay both bounded-replay gates pass to their
    * operators, and the late-file margin DERIVED from it (review
    * finding r18: two magic 1.2e9 literals silently hard-coupled to
    * the operators' default delay). The margin is 2× the delay because
    * of a MEASURED Spark semantic (pinned by the late gates failing
    * without it, and by EventStreamsSpec's file-regime case): the
    * late-INPUT filter in batch N uses the watermark of batch N-1
    * while timeout EVICTION uses batch N's — one batch of lag. An
    * event within one delay of file 1's max would SURVIVE batch 2's
    * filter (it beats the post-batch-0 watermark), extend a pending
    * session and re-arm its timer past the frozen final watermark; an
    * event ≥ 2× the delay behind file 1's max is late under BOTH
    * watermarks, with margin for ms rounding.
    */
  val ReplayWatermarkDelay = "10 minutes"
  private val ReplayDelayMicros = 600000000L
  val LateMarginMicros = 2L * ReplayDelayMicros

  /** The staging discipline both bounded-replay gates share: split the
    * projected events at their time-range midpoint into two
    * event-time-ordered landing files (pinned mtimes,
    * maxFilesPerTrigger = 1 ⇒ one micro-batch each); with `lateFile`,
    * stage a THIRD file of events ≥ [[LateMarginMicros]] behind file
    * 1's max — the deliberate late-data batch the stream must drop.
    * Staged once per salted base. Returns the landing dir.
    */
  private def stageSplitLanding(s: SparkSession, base: String,
                                ev: DataFrame, lateFile: Boolean): String = {
    val inDir = base + "/in"
    once(s, base, "_STAGED") {
      val mm = ev.agg(min(col("tsMicros")), max(col("tsMicros"))).head()
      val split = (mm.getLong(0) + mm.getLong(1)) / 2
      val now = System.currentTimeMillis()
      val file1 = ev.filter(col("tsMicros") <= split)
      TmpDirs.stageLandingFile(s, file1, s"$inDir/ev1.parquet", now - 30000)
      TmpDirs.stageLandingFile(s, ev.filter(col("tsMicros") > split),
        s"$inDir/ev2.parquet", now - 20000)
      if (lateFile) {
        val mx1 = file1.agg(max(col("tsMicros"))).head().getLong(0)
        val late = ev.filter(col("tsMicros") <= mx1 - LateMarginMicros)
        // ADVICE r18: on a corpus whose event span is under the margin
        // this set is empty and the late gate would pass VACUOUSLY —
        // landing the same rows as the base gate while never exercising
        // the drop arm. Fail loudly instead of silently testing nothing.
        require(!late.isEmpty,
          "stageSplitLanding: no event is >= " + LateMarginMicros +
            "us behind file 1's max — the corpus event span is too " +
            "narrow to stage a provably-late batch; the late-drop gate " +
            "would be vacuous on this corpus")
        TmpDirs.stageLandingFile(s, late, s"$inDir/ev3_late.parquet", now - 10000)
      }
    }
    inDir
  }

  /** The bounded-replay gates' one body: the events projected to
    * `schema`'s columns (`tsMicros` from `ts`), [[stageSplitLanding]],
    * the streamed `operator` with every emission landed under its
    * micro-batch id, and [[flushLateDropMetrics]]. Returns the landed
    * relation for the caller's projection.
    */
  def replayLanded(s: SparkSession, d: String, family: String, lateFile: Boolean,
                   schema: String)(operator: DataFrame => Dataset[_]): DataFrame = {
    val base = TmpDirs.salted(s, family, d)
    val cols = StructType.fromDDL(schema).fieldNames.toSeq.filter(_ != "tsMicros").map(col)
    val inDir = stageSplitLanding(s, base, Tables.events(s, d)
      .select(cols :+ unix_micros(col("ts")).as("tsMicros"): _*), lateFile)
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1L)
      .parquet(inDir)
    val q = operator(stream).toDF()
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        graft.BatchSink.writeBatch(b, batchId, base + "/out", full = false)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    flushLateDropMetrics(s, q, base)
    s.read.parquet(base + "/out")
  }

  /** Persist each DATA micro-batch's watermark-drop counter next to the
    * landed output (VERDICT r19 ask #4 — the late gates PROVE drops
    * happen, production wants to SEE them; same accumulator→flush→
    * queryable-relation shape as hotKeyDropMetrics/`hot_key_drops`).
    * Source: the engine's own `numRowsDroppedByWatermark` from each
    * StreamingQueryProgress (the one stateful operator per stream).
    * Flushed only by the run that actually processed input — a rerun's
    * AvailableNow finds no new files, reports no data batches, and must
    * not clobber the recorded history with an empty relation. No-data
    * watermark-advance batches are excluded: they can't drop rows and
    * whether one runs is an engine scheduling detail, not an operator
    * property.
    */
  private def flushLateDropMetrics(s: SparkSession, q: StreamingQuery, base: String): Unit = {
    import s.implicits._
    val dataBatches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    if (dataBatches.nonEmpty)
      dataBatches.map(p => (p.batchId, p.numInputRows,
          p.stateOperators.headOption.fold(0L)(_.numRowsDroppedByWatermark)))
        .toDF("batch_id", "rows_input", "rows_dropped")
        .coalesce(1).write.mode("overwrite").parquet(base + "/metrics")
  }
}
