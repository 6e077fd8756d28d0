package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement tools (guide §1).
  *
  * [[PlanDump]] writes `.explain("formatted")` output for named queries
  * (default: all of [[SparkEntry.queries]]) to `<outDir>/<name>.txt` —
  * the plan evidence committed under plans/r19/.
  *
  * [[TimeQueries]] times named queries with the bench's own timer
  * ([[Bench.time]], after [[Bench.warmUp]] and one untimed run of each
  * named query on the sf0.001 corpus), printing one line per query — the
  * fast inner loop for before/after numbers without a full 222-query
  * pass. An unknown name fails the run.
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

  /** Runs each named query once, untimed, on a fresh path linking the
    * tables of the `sf0.001` corpus beside `sfDir` (when there is one),
    * so the codegen cache, the JIT and the session's machinery are warm
    * before the first timed query. Derived-artifact caches key on the
    * corpus path, so the timed corpus stays cold. Code that only gets
    * hot at the timed scale still warms during the timed runs.
    */
  def warmUp(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val small = new File(new File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    if (!small.isDirectory) return
    val link = Files.createTempDirectory("graft-warm").toFile
    try {
      small.listFiles().foreach(f =>
        Files.createSymbolicLink(new File(link, f.getName).toPath, f.toPath.toAbsolutePath))
      names.distinct.foreach { name =>
        try SparkEntry.queries(name)(spark, link.getPath).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[time] warm-up $name failed: ${e.getMessage}") }
      }
    } finally {
      link.listFiles().foreach(_.delete()) // the links only, never their targets
      link.delete()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: graft.TimeQueries <sfDir> [query ...]")
    val sfDir = args(0)
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local()
    Bench.warmUp(spark, sfDir)
    warmUp(spark, sfDir, names)
    names.foreach { name =>
      println(f"[time] $name%-34s ${Bench.time(spark, sfDir, name, SparkEntry.queries(name))}")
    }
    spark.stop()
  }
}
