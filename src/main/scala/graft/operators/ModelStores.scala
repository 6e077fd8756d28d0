package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted TRAINED-ARTIFACT stores (VERDICT r10 #6): the NB quality
  * classifier and the BPE tokenizer were relations derived inline per
  * query; these stores fold their SUFFICIENT STATISTICS per accepted
  * batch with the same `batch_id`-partition idempotent-overwrite
  * discipline as [[SourceSketch]]/[[DistinctSketch]], so a streaming
  * corpus maintains both models incrementally and serves scoring from
  * the stored artifact — no corpus rescan per train.
  *
  * Both statistics are exact monoids over disjoint doc batches:
  *  - NB: per-bucket class token counts and per-class doc priors are
  *    per-doc sums (labels are functions of the doc's own tokens), so
  *    batch sums fold to the union's counts exactly;
  *  - BPE: the merge loop is sequential, but it consumes only the
  *    word-frequency table — counts sum across batches, and the (tiny)
  *    top-V + merge derivation replays at read time from the folded
  *    counts. Storing FULL per-batch vocab counts (not per-batch
  *    top-V) is what keeps the fold exact: top-V of a union is not the
  *    fold of per-batch top-Vs.
  *
  * ModelStoresSpec pins stored == inline for both artifacts, re-add
  * idempotency, and compaction invariance.
  */
object NbModelStore {
  private def B = CurationQueries.NbBuckets

  /** Per-batch sufficient statistics from a SHARED labels relation —
    * the write path derives both tables from one tokenize+label pass
    * instead of two.
    */
  private def countsFrom(toks: DataFrame, lb: DataFrame): DataFrame =
    CurationQueries.nbCountsFrom(toks, lb) // the one shared aggregate

  private def priorsFrom(lb: DataFrame): DataFrame =
    lb.filter(col("tr"))
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0"))

  /** Per-batch bucketed class token counts over this batch's TRAIN
    * docs: rows (b, c1, c0).
    */
  def counts(docs: DataFrame): DataFrame = {
    val toks = CurationQueries.docTokensOf(docs)
    countsFrom(toks, CurationQueries.nbLabels(toks))
  }

  /** Per-batch class priors over TRAIN docs: one row (n1, n0). */
  def priors(docs: DataFrame): DataFrame =
    priorsFrom(CurationQueries.nbLabels(CurationQueries.docTokensOf(docs)))

  private def writeBoth(docs: DataFrame, dir: String, batchId: Long,
                        full: Boolean): Unit = {
    // one tokenize+label pass feeds both statistic writes: the labels
    // relation (doc-count-sized) is pinned, so the priors write never
    // re-scans the batch and the counts write re-tokenizes once
    val toks = CurationQueries.docTokensOf(docs)
    val lb = CurationQueries.nbLabels(toks).localCheckpoint()
    graft.BatchSink.writeBatch(countsFrom(toks, lb), batchId, s"$dir/counts", full)
    graft.BatchSink.writeBatch(priorsFrom(lb), batchId, s"$dir/priors", full)
  }

  def init(docs: DataFrame, dir: String): Unit =
    writeBoth(docs, dir, 0L, full = true)

  def addBatch(docs: DataFrame, dir: String, batchId: Long): Unit =
    writeBoth(docs, dir, batchId, full = false)

  /** Folded class counts (heals a torn compact swap first). */
  def readCounts(spark: SparkSession, dir: String): DataFrame =
    foldCounts(graft.BatchSink.readHealed(spark, s"$dir/counts"))

  def readPriors(spark: SparkSession, dir: String): DataFrame =
    foldPriors(graft.BatchSink.readHealed(spark, s"$dir/priors"))

  /** The served model — same schema and smoothing as the oracled
    * `quality_classifier_model` relation, derived from the STORE.
    */
  def model(spark: SparkSession, dir: String): DataFrame =
    CurationQueries.nbModelFrom(readCounts(spark, dir))

  /** Score any docs relation FROM the stored artifact — the serving
    * path: one broadcast of the 64-row model + the priors row, no
    * training subtree in the plan. Unrounded log-odds are re-derived
    * from the stored integer counts, so stored scoring is bit-identical
    * to the inline `quality_classifier` scores.
    */
  def score(spark: SparkSession, dir: String, docs: DataFrame): DataFrame = {
    // the ONE scoring tail (CurationQueries.nbScoreFrom — review finding
    // r15: this body was a verbatim copy that could drift from the
    // inline classifier and silently break the bit-identical guarantee)
    val bt = CurationQueries.docTokensOf(docs)
      .select(col("doc_id"), CurationQueries.tokBucket(col("tok"), B).as("b"))
    CurationQueries.nbScoreFrom(bt, readCounts(spark, dir), readPriors(spark, dir))
  }

  /** The sum-monoid normal forms of the two statistics tables: what
    * the reads compute, and what the compactions fold to.
    */
  private def foldCounts(rows: DataFrame): DataFrame =
    rows.groupBy(col("b")).agg(sum(col("c1")).as("c1"), sum(col("c0")).as("c0"))
  private def foldPriors(rows: DataFrame): DataFrame =
    rows.agg(coalesce(sum(col("n1")), lit(0L)).as("n1"),
      coalesce(sum(col("n0")), lit(0L)).as("n0"))

  /** The store's [[graft.BatchStore]] declaration: both statistics
    * tables, each folded through its sums, fed the accepted survivors.
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore("NbModelStore.init",
      Seq(graft.BatchTable.Monoid(s"$dir/counts", foldCounts),
        graft.BatchTable.Monoid(s"$dir/priors", foldPriors)),
      graft.BatchStore.Survivors, (docs, batchId) => addBatch(docs, dir, batchId))

  /** MONOID compaction (r15): fold partitions through the sums, so the
    * counts table stays ≤64 rows and priors ONE row regardless of batch
    * count (the row-identity fold grew linearly). Quiesced form.
    */
  def compact(spark: SparkSession, dir: String): Unit = store(dir).compact(spark)
}

/** Persisted language-ID NB statistics (VERDICT r12 ask #1) — the same
  * per-batch sum-monoid discipline as [[NbModelStore]], over the
  * multi-class sufficient statistics: per-(lang, bucket) TRAIN token
  * counts and per-lang TRAIN doc priors. Both are per-doc sums (the
  * label is the doc's own lang column), so batch partitions fold to the
  * union's statistics exactly; serving (the dense model table and the
  * per-doc argmax scores) goes through the SAME
  * [[CurationQueries.langDenseModel]]/[[CurationQueries.langScoreDocs]]
  * definitions as the oracled inline queries — one math, two backings.
  */
object LangModelStore {

  /** This batch's per-(lang, bucket) TRAIN token counts. */
  def counts(docs: DataFrame): DataFrame = CurationQueries.langCountsOf(docs)

  /** This batch's per-lang TRAIN doc priors. */
  def priors(docs: DataFrame): DataFrame = CurationQueries.langPriorsOf(docs)

  private def writeBoth(docs: DataFrame, dir: String, batchId: Long,
                        full: Boolean): Unit = {
    graft.BatchSink.writeBatch(counts(docs), batchId, s"$dir/counts", full)
    graft.BatchSink.writeBatch(priors(docs), batchId, s"$dir/priors", full)
  }

  def init(docs: DataFrame, dir: String): Unit =
    writeBoth(docs, dir, 0L, full = true)

  def addBatch(docs: DataFrame, dir: String, batchId: Long): Unit =
    writeBoth(docs, dir, batchId, full = false)

  /** Folded (lang, b, c) counts (heals a torn compact swap first). */
  def readCounts(spark: SparkSession, dir: String): DataFrame =
    foldCounts(graft.BatchSink.readHealed(spark, s"$dir/counts"))

  /** Folded per-lang priors. */
  def readPriors(spark: SparkSession, dir: String): DataFrame =
    foldPriors(graft.BatchSink.readHealed(spark, s"$dir/priors"))

  /** The served model — same schema, smoothing, and ordering as the
    * oracled `lang_classifier_model` relation, derived from the STORE.
    */
  def model(spark: SparkSession, dir: String): DataFrame =
    CurationQueries.langDenseModel(readCounts(spark, dir))
      .select(col("lang"), col("b"), col("c"),
        round(CurationQueries.langLogLik(col("c"), col("ntl")), 6).as("log_lik"))
      .orderBy("lang", "b")

  /** Score any docs relation FROM the stored statistics — identical
    * math to the inline `lang_classifier` (doc_id, pred_lang, score).
    */
  def score(spark: SparkSession, dir: String, docs: DataFrame): DataFrame =
    CurationQueries.langScoreDocs(docs, readCounts(spark, dir), readPriors(spark, dir))

  /** Sum-monoid normal forms (the reads and the compactions). */
  private def foldCounts(rows: DataFrame): DataFrame =
    rows.groupBy(col("lang"), col("b")).agg(sum(col("c")).as("c"))
  private def foldPriors(rows: DataFrame): DataFrame =
    rows.groupBy(col("lang")).agg(sum(col("np")).as("np"))

  /** The store's [[graft.BatchStore]] declaration — see
    * [[NbModelStore.store]].
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore("LangModelStore.init",
      Seq(graft.BatchTable.Monoid(s"$dir/counts", foldCounts),
        graft.BatchTable.Monoid(s"$dir/priors", foldPriors)),
      graft.BatchStore.Survivors, (docs, batchId) => addBatch(docs, dir, batchId))

  /** MONOID compaction (r15) — see [[NbModelStore.compact]]. */
  def compact(spark: SparkSession, dir: String): Unit = store(dir).compact(spark)
}

/** Persisted BPE word-frequency statistics; see [[NbModelStore]] doc. */
object BpeStatsStore {

  /** This batch's FULL vocab word counts: rows (word, cnt). */
  def counts(docs: DataFrame): DataFrame =
    CurationQueries.bpeWordsOf(docs)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  def init(docs: DataFrame, dir: String): Unit =
    graft.BatchSink.writeBatch(counts(docs), 0L, dir, full = true)

  def addBatch(docs: DataFrame, dir: String, batchId: Long): Unit =
    graft.BatchSink.writeBatch(counts(docs), batchId, dir, full = false)

  /** Folded vocab counts (heals a torn compact swap first). */
  def read(spark: SparkSession, dir: String): DataFrame =
    foldRows(graft.BatchSink.readHealed(spark, dir))

  /** Replay the (driver-side, vocab-capped) merge loop from the stored
    * counts — the same sufficient-statistic collect the inline trainer
    * does, now off the store instead of a corpus scan.
    */
  def merges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val top = read(spark, dir)
      .orderBy(col("cnt").desc, col("word"))
      .limit(graft.text.BpeTokenizer.VocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.text.BpeTokenizer.train(top)
  }

  /** The served merge table — same schema as the oracled `bpe_merges`
    * relation.
    */
  def mergesRel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    merges(spark, dir).zipWithIndex
      .map { case ((p1, p2), i) => (i + 1, p1, p2) }
      .toDF("merge_rank", "lhs", "rhs")
      .orderBy("merge_rank")
  }

  /** Sum-monoid normal form (the read and the compactions). */
  private def foldRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))

  /** The store's [[graft.BatchStore]] declaration: the vocab table,
    * folded through its sums, fed the accepted survivors.
    */
  def store(dir: String): graft.BatchStore =
    graft.BatchStore("BpeStatsStore.init", Seq(graft.BatchTable.Monoid(dir, foldRows)),
      graft.BatchStore.Survivors, (docs, batchId) => addBatch(docs, dir, batchId))

  /** MONOID compaction (r15): the vocab table folds to one row per
    * distinct word regardless of batch count. Quiesced form.
    */
  def compact(spark: SparkSession, dir: String): Unit = store(dir).compact(spark)
}
