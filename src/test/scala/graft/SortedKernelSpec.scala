package graft

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.sortedKernel]] must equal `kernel(df).orderBy(keys)` in rows
  * AND order, while running the kernel exactly once per row — the
  * trailing-`orderBy` form runs it again inside the range sampler,
  * which is the work the helper exists to remove.
  */
class SortedKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A per-row kernel whose every call is counted. Boxed inputs, so the
    * null-key row reaches the UDF too.
    */
  private def counted(): (DataFrame => DataFrame, () => Long) = {
    val calls = spark.sparkContext.longAccumulator("kernel-calls")
    val f = udf { (k: java.lang.Long, v: String) =>
      calls.add(1)
      s"$k:${Option(v).map(_.length).getOrElse(-1)}"
    }
    (_.select(col("k"), f(col("k"), col("v")).as("out")), () => calls.sum)
  }

  /** `n` rows over 3 input partitions, keys unique and out of order. */
  private def input(n: Int, withNull: Boolean = false): DataFrame = {
    val rows = spark.range(0, n, 1, 3)
      .select(((col("id") * 7919) % 1009).as("k"), concat(lit("v"), col("id")).as("v"))
    if (withNull) rows.unionByName(spark.range(1).select(lit(null).cast("long").as("k"),
      lit("null-key").as("v")))
    else rows
  }

  private def check(df: DataFrame, n: Long): Unit = {
    val (kernel, calls) = counted()
    val got = Tables.sortedKernel(df, Seq("k"))(kernel).collect().toSeq
    assert(calls() === n, s"kernel ran ${calls()} times for $n rows")
    val (refKernel, _) = counted()
    val want = refKernel(df).orderBy("k").collect().toSeq
    assert(got === want, "rows or order differ from kernel(df).orderBy(keys)")
  }

  test("one kernel call per row; rows and order equal kernel(df).orderBy(keys)") {
    check(input(500, withNull = true), 501L)
  }

  test("empty input and fewer rows than partitions") {
    check(input(0), 0L)
    val fewer = spark.sparkContext.defaultParallelism - 1
    assert(fewer >= 1)
    check(input(fewer), fewer.toLong)
  }

  test("positive control: the trailing-orderBy form runs the kernel more than once per row") {
    val (kernel, calls) = counted()
    kernel(input(500)).orderBy("k").collect()
    assert(calls() > 500L, s"the reference form ran the kernel ${calls()} times")
  }
}
