package graftbench

import java.io.File

import graft.GraftSession

/** Entry point of one benchmark run. Argument: the run's config JSON,
  * written by run.py. Writes the run's raw measurements to the config's
  * `result` path; run.py turns them into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Harness.readJson(args(0))
    val workDir = cfg.get("work_dir").asText
    val cores = cfg.get("cores").asInt
    val spark = GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, Harness.readJson(cfg.get("manifest").asText), cfg.get("input_dir").asText,
      workDir, cfg.get("testdata").asText, cfg.get("seconds").asDouble, cfg.get("trace").asBoolean, cores)
    ctx.out.set("session_ms", Harness.nowMs)
    try {
      cfg.get("workload").asText match {
        case "ingest" => IngestBench.run(ctx)
        case "curation" => CurationBench.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.out.set("checked_ms", Harness.nowMs)
      Harness.writeString(cfg.get("result").asText, ctx.out.toJson)
    } finally spark.stop()
  }
}
