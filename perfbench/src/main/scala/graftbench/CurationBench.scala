package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.operators._

/** `curation`: a fixed, named list of operator-suite jobs, each fully
  * materialized as parquet (the output the check reads), on a corpus
  * whose derived artifacts start cold. JIT warm-up runs the same list on
  * the small corpus first.
  */
object CurationBench {
  /** The jobs: every module, and the jobs that build derived artifacts
    * (dedup shingle base, bloom index, ANN codebook).
    */
  val Jobs: Seq[String] = Seq(
    "dedup_artifact_build", "substring_dedup", "bloom_index_build", "curation_e2e",
    "ann_codebook_build", "mm_phash_pairs", "mm_resize", "token_count")

  val Modules: Seq[(String, Map[String, _])] = Seq(
    "dedup" -> DedupQueries.queries, "curation" -> CurationQueries.queries, "ann" -> AnnQueries.queries,
    "multimodal" -> MultimodalQueries.queries, "text" -> TextQueries.queries)

  def module(job: String): String = Modules.find(_._2.contains(job)).map(_._1)
    .getOrElse(throw new IllegalArgumentException(s"$job is in no operator module"))

  /** A private view of a testdata scale: a directory of links to its
    * tables. Derived-artifact caches key on the corpus path, so a fresh
    * path is a cold corpus.
    */
  private def corpusLink(src: String, dst: String): String = {
    new File(dst).mkdirs()
    Option(new File(src).listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      Files.createSymbolicLink(Paths.get(dst, f.getName), f.toPath.toAbsolutePath)
    }
    dst
  }

  /** Runs one job to completion, writing every output row and column as
    * parquet under `out`; returns its seconds.
    */
  private def runJob(ctx: Ctx, job: String, dir: String, out: String): Option[Double] =
    try {
      val (_, s) = Harness.secondsOf(
        SparkEntry.queries(job)(ctx.spark, dir).write.mode("overwrite").parquet(s"$out/$job"))
      System.err.println(f"[bench] $job%-22s ${s * 1000}%8.0f ms  ($dir)")
      Some(s)
    } catch {
      case scala.util.control.NonFatal(e) => ctx.out.fail(s"$job on $dir: $e"); None
    }

  def run(ctx: Ctx): Unit = {
    val missing = Jobs.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown jobs: ${missing.mkString(", ")}")
    Jobs.foreach(module)
    val warm = corpusLink(s"${ctx.testdata}/sf0.01", s"${ctx.workDir}/corpus_warm")
    // JIT warm-up: the list twice on the small corpus
    val warmOut = ctx.work("warm_out")
    for (_ <- 1 to 2; j <- Jobs) runJob(ctx, j, warm, warmOut)
    ctx.out.set("setup_end_ms", Harness.nowMs)

    val order = new scala.util.Random(ctx.manifest.get("order_seed").asLong).shuffle(Jobs)
    val passes = if (ctx.trace) Seq("plain", "listen") else Seq("plain")
    val cpu0 = Harness.processCpuS
    var layers = Map.empty[String, Double]
    var elapsed = 0.0
    passes.foreach { pass =>
      val dir = corpusLink(s"${ctx.testdata}/sf0.1", s"${ctx.workDir}/corpus_$pass")
      val out = ctx.work(s"out_$pass")
      val trace = if (pass == "listen") Some(new Trace(ctx.spark)) else None
      trace.foreach(_.start())
      val bySum = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      order.foreach { job =>
        runJob(ctx, job, dir, out).foreach { s =>
          ctx.out.sample(s"job_ms.$pass", s * 1000)
          if (pass == "plain") { ctx.out.sample("job_ms", s * 1000); elapsed += s }
          bySum(module(job)) += s
        }
      }
      trace.foreach { t =>
        layers ++= t.stop(order.size, ctx.cores, 0.0)
        Modules.foreach { case (m, _) => layers += s"operators.${m}_s" -> bySum(m) }
      }
    }
    ctx.out.set("cpu_s", Harness.processCpuS - cpu0)
    ctx.out.set("timed_end_ms", Harness.nowMs)
    ctx.out.set("elapsed_s", elapsed)
    ctx.out.set("ops", order.size.toLong)
    // run.py checks the timed outputs against each job's DuckDB oracle
    ctx.out.set("oracle_sql", Jobs.flatMap(j => SparkEntry.oracleSql.get(j).map(j -> _)).toMap)
    ctx.out.set("curation_out", s"${ctx.workDir}/out_plain")
    if (ctx.trace) ctx.out.set("layers", layers)
  }
}
