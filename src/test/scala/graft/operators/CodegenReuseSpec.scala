package graft.operators

import java.io.File
import java.nio.file.{Files, Path}

import graft.SparkEntry
import graft.pipeline.SparkTestSession
import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
import org.scalatest.funsuite.AnyFunSuite

/** A session built with the engine's defaults compiles each generated
  * class once. The curation jobs of the repo benchmark generate about 250
  * distinct classes, more than Spark's default class cache of 100 holds,
  * so at that default a second pass over them recompiles nearly every
  * class. With [[graft.GraftSession.codegenCacheConf]] a second pass on
  * a fresh corpus (a new path, so every derived artifact is rebuilt
  * cold) compiles at most a handful.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The benchmark's curation job list. */
  private val Jobs = Seq(
    "dedup_artifact_build", "substring_dedup", "bloom_index_build", "curation_e2e",
    "ann_codebook_build", "mm_phash_pairs", "mm_resize", "token_count")

  /** A fresh path whose entries link to the tables of `src`. */
  private def corpusLink(src: String, dst: Path): String = {
    new File(src).listFiles().foreach(f => Files.createSymbolicLink(dst.resolve(f.getName), f.toPath))
    dst.toString
  }

  /** Each job written in full as parquet; returns each job's compiles. */
  private def pass(dir: String, out: String): Seq[(String, Long)] = Jobs.map { job =>
    val c0 = METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(job)(spark, dir).write.mode("overwrite").parquet(s"$out/$job")
    job -> (METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("a second pass of the curation jobs on a cold corpus reuses their compiled classes") {
    val root = Files.createTempDirectory("graft-codegen-reuse")
    def link(name: String) = corpusLink("/root/testdata/sf0.001", Files.createDirectory(root.resolve(name)))
    val first = pass(link("corpus1"), s"$root/out1")
    assert(first.map(_._2).sum > 0, "the compile probe is not live")
    val second = pass(link("corpus2"), s"$root/out2")
    // a handful may be new: `substring_dedup` sometimes gets a different
    // adaptive plan on its second run and compiles 6 classes; at Spark's
    // default cache size this pass recompiles about 250
    assert(second.map(_._2).sum <= 8, s"recompiled in the second pass: ${second.filter(_._2 > 0)}")
  }
}
