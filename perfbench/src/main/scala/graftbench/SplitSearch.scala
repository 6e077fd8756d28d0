package graftbench

import scala.collection.mutable

import graft.search.SearchService
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The traced run's form of `SearchService.search`: RLS, dense
  * top-(k·overFetch) and rerank as three actions, each over the previous
  * one's parquet checkpoint; and the whole query planned, then executed.
  */
final class SplitSearch(spark: SparkSession, root: String) {
  private val t = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val noIds = Relay.idRel(spark, Array.empty)

  def search(vectors: DataFrame, ids: DataFrame, idCount: Long, text: String, k: Int,
             overFetch: Int): Unit = synchronized {
    val dir = s"$root/q${t("n").toInt}"
    t("n") += 1
    val (_, rlsS) = Harness.secondsOf(SearchService.rlsFilter(vectors, ids).write.parquet(s"$dir/rls"))
    val gated = spark.read.parquet(s"$dir/rls")
    val q = Relay.queryRel(spark, text)
    val (_, denseS) = Harness.secondsOf(SearchService.denseTopK(gated, q, k * overFetch).write.parquet(s"$dir/dense"))
    // rerank: search() over the candidates alone, RLS already applied
    val (rows, rerankS) = Harness.secondsOf(
      SearchService.search(spark.read.parquet(s"$dir/dense").drop("qv", "q_text", "score"), noIds, q, k,
        overFetch, roles = SplitSearch.Admin).collect())
    val scored = gated.count()
    t("search.rls_s") += rlsS; t("search.dense_topk_s") += denseS; t("search.rerank_s") += rerankS
    t("search.rows_scored_per_query") += scored
    t("search.rls_ids_per_query") += idCount
    t("returned") += rows.length
  }

  /** Plans `df`, then executes it, timing each. */
  def planThenRun(df: DataFrame): Array[Row] = {
    val (_, planS) = Harness.secondsOf(df.queryExecution.executedPlan)
    val (rows, execS) = Harness.secondsOf(df.collect())
    synchronized { t("search.plan_ms") += planS * 1000; t("search.exec_ms") += execS * 1000; t("planned") += 1 }
    rows
  }

  def layers: Map[String, Double] = synchronized {
    val n = math.max(1.0, t("n"))
    val planned = math.max(1.0, t("planned"))
    Map(
      "search.plan_ms" -> t("search.plan_ms") / planned,
      "search.exec_ms" -> t("search.exec_ms") / planned,
      "search.rls_s" -> t("search.rls_s") / n,
      "search.dense_topk_s" -> t("search.dense_topk_s") / n,
      "search.rerank_s" -> t("search.rerank_s") / n,
      "search.rows_scored_per_query" -> t("search.rows_scored_per_query") / n,
      "search.rls_ids_per_query" -> t("search.rls_ids_per_query") / n,
      "search.useful_ratio" ->
        (if (t("search.rows_scored_per_query") == 0) 0.0 else t("returned") / t("search.rows_scored_per_query")))
  }
}

object SplitSearch {
  /** The role that skips RLS: the rerank step reads gated rows only. */
  val Admin = Seq("Administrator")
}
