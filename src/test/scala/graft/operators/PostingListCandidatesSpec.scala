package graft.operators

import graft.Tables
import graft.operators.TableAssertions.assertSameTable
import graft.pipeline.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shingle base's rare-shingle candidates come from one posting-list
  * pass (`groupBy(sh)` → df + sorted doc list → pairs and n_rare). Its
  * `cand` and `stats` must be row-identical to the self-join form it
  * replaced, kept here as the reference: rare set by df ≤ DfCap, the
  * rare rows joined back, `n_rare` counted per doc, and candidates from
  * the `shRare ⋈ shRare` self-join on sh.
  */
class PostingListCandidatesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The self-join reference over the base's (doc_id, shs, n_sh) rows. */
  private def reference(docsSh: DataFrame): (DataFrame, DataFrame) = {
    val sh = docsSh.select(col("doc_id"), explode(col("shs")).as("sh"))
    val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= DedupQueries.DfCap).select(col("sh"))
    val shRare = sh.join(rare, Seq("sh"))
    val nRare = shRare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    val stats = docsSh.select(col("doc_id"), col("n_sh"))
      .join(nRare, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"), coalesce(col("n_rare"), lit(0L)).as("n_rare"))
    val cand = shRare.select(col("doc_id").as("doc_a"), col("sh"))
      .join(shRare.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_rare"))
    (cand, stats)
  }

  private def assertMatchesReference(docs: DataFrame, what: String): Unit = {
    val base = DedupQueries.buildShingleBase(docs)
    val (refCand, refStats) = reference(base.docsSh)
    assert(base.cand.columns.toSeq === Seq("doc_a", "doc_b", "shared_rare"))
    assert(base.stats.columns.toSeq === Seq("doc_id", "n_sh", "n_rare"))
    assertSameTable(base.cand, refCand, s"$what: cand")
    assertSameTable(base.stats, refStats, s"$what: stats")
  }

  private def docsOf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, t) => (id, Option(t)) }.toDF("doc_id", "text")
  }

  test("sf0.001 and sf0.01: cand and stats equal the self-join reference") {
    // the test corpora of TESTDATA.md, under the home directory
    val testdata = new java.io.File(sys.props("user.home"), "testdata")
    for (sf <- Seq("sf0.001", "sf0.01"))
      assertMatchesReference(Tables.documents(spark, new java.io.File(testdata, sf).getPath), sf)
  }

  test("df exactly DfCap pairs; DfCap + 1 does not") {
    val cap = DedupQueries.DfCap
    // "a b c" in docs 1..cap (rare at the cap), "x y z" in docs
    // 100..100+cap (one over the cap), each doc padded with its own words
    val atCap = (1 to cap).map(i => i.toLong -> s"a b c u$i w$i")
    val overCap = (0 to cap).map(i => (100L + i) -> s"x y z p$i q$i")
    val docs = docsOf(atCap ++ overCap)
    assertMatchesReference(docs, "df cap boundary")
    val cand = DedupQueries.buildShingleBase(docs).cand
    assert(cand.count() === cap * (cap - 1) / 2, "every at-cap pair, no over-cap pair")
    assert(cand.filter(col("doc_a") >= 100).count() === 0)
  }

  test("duplicate doc rows, null and empty text") {
    val docs = docsOf(Seq(
      1L -> "a b c d e", 1L -> "a b c d e", 2L -> "z a b c d", 3L -> "a b c q r",
      4L -> null, 5L -> "", 6L -> "one two", 7L -> "b c d e f"))
    assertMatchesReference(docs, "crafted")
    // doc 1 twice: every shared rare shingle counts once per copy
    val c12 = DedupQueries.buildShingleBase(docs).cand
      .filter(col("doc_a") === 1 && col("doc_b") === 2).collect()
    assert(c12.map(_.getLong(2)).toSeq === Seq(4L), "2 shared shingles x 2 copies of doc 1")
  }
}
