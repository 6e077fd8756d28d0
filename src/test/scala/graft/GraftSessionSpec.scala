package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 cluster-safety fix: [[GraftSession.builder]] must stay
  * cluster-agnostic — in particular it must NEVER set
  * `spark.sql.shuffle.partitions` (sizing it to the driver's core count
  * ran a 400-core cluster ~50× under-parallelized, and AQE only
  * coalesces DOWN). A refactor that re-pins the knob fails here, not in
  * production. The builder's options are read via the private `options`
  * map — the only way to inspect a Builder without creating a session
  * (tests share one session; a second getOrCreate would just return it).
  */
class GraftSessionSpec extends AnyFunSuite {

  private def builderOptions(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] = {
    // SparkSession.Builder keeps settings in a private mutable map named
    // "options" (stable across Spark 3.x/4.x); fail loudly if that ever
    // moves so the spec gets updated rather than silently passing
    val field = classOf[org.apache.spark.sql.SparkSession.Builder]
      .getSuperclass // sql.SparkSessionBuilder in Spark 4
    val candidates = (Seq(classOf[org.apache.spark.sql.SparkSession.Builder]) ++
      Option(field).toSeq)
      .flatMap(c => c.getDeclaredFields.toSeq)
      .filter(f => f.getName.endsWith("options"))
    assert(candidates.nonEmpty, "SparkSession.Builder no longer has an 'options' field — update this spec")
    val f = candidates.head
    f.setAccessible(true)
    f.get(b).asInstanceOf[scala.collection.mutable.Map[String, String]].toMap
  }

  test("builder() does not pin spark.sql.shuffle.partitions (cluster-agnostic)") {
    val opts = builderOptions(GraftSession.builder())
    assert(!opts.contains("spark.sql.shuffle.partitions"),
      s"builder() re-pinned the shuffle partition count: $opts — r15 regression")
    // and it DOES set what is true on every deployment
    assert(opts.get("spark.sql.adaptive.enabled").contains("true"))
    assert(opts.get("spark.sql.files.maxPartitionBytes").contains("134217728"))
    assert(opts("spark.sql.extensions").contains("GraftExtensions"))
    assert(opts.get("spark.hadoop.fs.file.impl").contains(classOf[ForkFreeLocalFileSystem].getName))
    assert(opts.get("spark.hadoop.fs.AbstractFileSystem.file.impl")
      .contains(classOf[ForkFreeLocalFs].getName))
  }

}
