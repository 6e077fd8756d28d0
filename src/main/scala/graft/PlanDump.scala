package graft

import java.nio.file.{Files, Paths}

/** Optimization-round measurement tools (guide §1).
  *
  * [[PlanDump]] writes `.explain("formatted")` output for named queries
  * (default: all of [[SparkEntry.queries]]) to `<outDir>/<name>.txt` —
  * the plan evidence committed under plans/r19/.
  *
  * [[TimeQueries]] times named queries with the bench's own timer
  * ([[Bench.time]], after [[Bench.warmUp]]), printing one line per
  * query — the fast inner loop for before/after numbers without a full
  * 222-query pass.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.PlanDump <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.local()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
            System.err.println(s"[plandump] wrote $name (${txt.length} chars)")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}

object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: graft.TimeQueries <sfDir> [query ...]")
    val sfDir = args(0)
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    Bench.warmUp(spark, sfDir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[time] unknown query: $name")
        case Some(fn) => println(f"[time] $name%-34s ${Bench.time(spark, sfDir, name, fn)}")
      }
    }
    spark.stop()
  }
}
