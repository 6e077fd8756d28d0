package graft

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.time]] must run the work a query's user gets: every
  * projected kernel on every row, in each of its [[Bench.Runs]] runs.
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
