package graft

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.time]] must run the work a query's user gets: every
  * projected kernel on every row, in each of its [[Bench.Runs]] runs,
  * and must see each run's codegen compiles.
  */
class BenchTimerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the timer runs a projected UDF on every row of every run; count() runs it on none") {
    val n = 50
    val calls = spark.sparkContext.longAccumulator("bench-timer-udf")
    val kernel = udf { (x: Long) => calls.add(1); x * 2 }
    val query = (s: org.apache.spark.sql.SparkSession, _: String) =>
      s.range(n).select(kernel(col("id")).as("y"))
    // a row count prunes the projection, so the kernel never runs
    assert(query(spark, "").count() == n)
    assert(calls.value == 0)
    val t = Bench.time(spark, "/unused", "udf", query)
    assert(!t.failed && t.walls.size == Bench.Runs)
    assert(calls.value == Bench.Runs.toLong * n)
  }

  test("the timer counts each run's compiles: run 1 compiles the query, runs 2 and 3 reuse it") {
    // a literal no earlier plan used makes run 1's classes new to the
    // JVM-wide cache; range() is whole-stage codegen'd, where a local
    // relation would be folded at planning time
    val salt = System.nanoTime()
    val t = Bench.time(spark, "/unused", "compiles",
      (s, _) => s.range(100).select((col("id") * lit(salt) + lit(salt)).as("y")))
    assert(!t.failed && t.compiles.size == Bench.Runs && t.compileMs.size == Bench.Runs)
    assert(t.compiles.head > 0 && t.compileMs.head > 0, s"the compile probe is not live: $t")
    assert(t.compiles.tail.forall(_ == 0), s"runs 2 and 3 recompiled: $t")
    // the history line carries them beside the runs
    val hist = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Bench.lines(Seq("q" -> t), "/unused", "ts")._2)
    assert((0 until Bench.Runs).map(hist.get("compiles").get("q").get(_).asLong) == t.compiles)
  }

  test("a query that throws in any run counts as failed") {
    var calls = 0
    val t = Bench.time(spark, "/unused", "flaky", (s, _) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second run")
      s.range(3).toDF()
    })
    assert(t.failed)
    assert(t.walls.size == 1)
  }
}
