package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off ×N scale probe (VERDICT r19 ask #2): measure how the
  * heaviest suite queries scale when the corpus is replicated Nx, and
  * bank the ratios as the first EMPIRICAL evidence behind the
  * plan-shape scale claims. Linear-time queries should land at ratio
  * ≈ N (plus fixed overheads that make small-corpus ratios < N);
  * anything demanding ratio >> N on a 10× corpus has a superlinear
  * term the plan guards missed.
  *
  * Corpus construction (derived-corpus discipline — no new testdata):
  * replica i of `documents` shifts doc_id by i·10^7 and appends a
  * replica-unique suffix to text, so exact fingerprints and most
  * shingles stay distinct and dedup candidate structure scales
  * linearly instead of creating 10 planted copies of every doc (which
  * would square the in-bucket pair space BY CONSTRUCTION and measure
  * the fixture, not the operator). `embeddings` replicas shift vec_id
  * and perturb each component with a small deterministic md5-derived
  * delta, keeping replicas near — but not at — the original point so
  * k-means cells and IVF/PQ code paths see 10× genuinely distinct
  * vectors. Replica 0 is the original corpus byte-for-byte, so
  * id-pinned fixtures (centroid slices, query ids < 10) keep working.
  *
  * Times each query with [[Bench.time]] at ×1 and ×N in ONE warm
  * session (the session-cached artifacts make this the warm-path ratio
  * — the honest comparison, since both scales get the same treatment)
  * and prints one JSON line: {"metric":"scale_probe","factor":N,
  * "queries":{name:{"x1":s,"xN":s,"ratio":r}},...}. Results are banked
  * in PLANS.md.
  */
object ScaleProbe {

  /** doc_id/vec_id replica shift — far above any testdata id. */
  private val IdOffset = 10000000L

  /** The 11 heaviest/most-scale-critical queries named by VERDICT r19
    * ask #2: the dedup family's candidate-structure queries, the
    * trained-classifier trio, semantic dedup, PQ search, and the
    * source-overlap sketch.
    */
  val DefaultQueries: Seq[String] = Seq(
    "substring_dedup", "dedup_bloom_prefilter", "contamination_check",
    "mm_phash_pairs", "dedup_simhash_pairs", "lang_classifier",
    "lang_classifier_model", "lang_confusion_trained", "semdedup",
    "ann_ivf_pq", "source_overlap")

  /** Replicate documents + embeddings (the only tables the probe
    * queries read) into `out`, skipping work if the marker exists.
    */
  def buildCorpus(spark: SparkSession, sfDir: String, out: String, factor: Int): Unit = {
    val done = new org.apache.hadoop.fs.Path(out + "/_BUILT_" + factor)
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return
    val docs = Tables.documents(spark, sfDir)
    val docReplicas = (0 until factor).map { i =>
      if (i == 0) docs
      else {
        // salt every 4th TOKEN with the replica index, then append a
        // replica-unique tail: a tail alone leaves replicas within
        // simhash hamming ≤ 3 of their original (2 tokens of ~110
        // barely move a majority-vote fingerprint), planting a
        // QUADRATIC true near-dup set that measures the fixture, not
        // the operator (the r19 probe's first dedup_simhash_pairs
        // ratios were exactly this artifact); ~25% salted tokens move
        // every fingerprint family far enough that the dup structure
        // per replica matches the original corpus
        val salted = concat_ws(" ", transform(split(col("text"), " "),
          (w, j) => when(j % 4 === lit(0), concat(w, lit(i.toString))).otherwise(w)))
        val t = concat(salted, lit(s" r$i "), col("doc_id").cast("string"))
        docs.select(
          (col("doc_id") + lit(i * IdOffset)).as("doc_id"),
          col("source"), col("lang"),
          length(t).cast("long").as("n_chars"),
          t.as("text"))
      }
    }
    docReplicas.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(out + "/documents.parquet")
    val emb = Tables.embeddings(spark, sfDir)
    val embReplicas = (0 until factor).map { i =>
      if (i == 0) emb
      else {
        // deterministic per-(replica, vector, component) delta in
        // [-0.01, 0.01]: keeps the replica NEAR the original (same
        // neighborhood structure) but distinct (no degenerate
        // duplicate-vector blocks)
        val noisy = transform(col("embedding"), (v, j) =>
          (v.cast("double") + (conv(substring(md5(concat(
              lit(i), lit(":"), col("vec_id"), lit(":"), j)), 1, 6), 16, 10)
            .cast("double") / lit(16777215.0) - lit(0.5)) * lit(0.02))
            .cast("float"))
        emb.select(
          (col("vec_id") + lit(i * IdOffset)).as("vec_id"),
          noisy.as("embedding"), col("label"))
      }
    }
    embReplicas.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(out + "/embeddings.parquet")
    fs.create(done, true).close()
  }

  /** (cold, warm) seconds from [[Bench.time]]: run 1 — which pays any
    * per-corpus artifact build — and the minimum. Both matter: the warm
    * ratio is the steady-state read path, the cold ratio charges
    * index/model construction to the scale that builds it. -1 when the
    * query failed.
    */
  private def coldWarm(spark: SparkSession, dir: String,
                       fn: (SparkSession, String) => DataFrame, name: String): (Double, Double) = {
    val t = Bench.time(spark, dir, name, fn)
    if (t.failed) (-1.0, -1.0) else (t.walls.head, t.min)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      System.getProperty("java.io.tmpdir") + "/graft-scaleprobe-" + factor + "x-" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val names = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val spark = GraftSession.local()
    buildCorpus(spark, sfDir, out, factor)
    // warm both scan paths so neither scale is charged session startup
    Seq(sfDir, out).foreach { d =>
      Tables.documents(spark, d).count(); Tables.embeddings(spark, d).count()
    }
    val rows = names.map { name =>
      val fn = SparkEntry.queries(name)
      val (c1, x1) = coldWarm(spark, sfDir, fn, name)
      val (cn, xn) = coldWarm(spark, out, fn, name)
      val ratio = if (x1 > 0 && xn > 0) xn / x1 else -1.0
      val coldRatio = if (c1 > 0 && cn > 0) cn / c1 else -1.0
      System.err.println(f"[scaleprobe] $name%-24s x1=$x1%7.2fs x$factor=$xn%7.2fs " +
        f"warm_ratio=$ratio%6.2f cold=$c1%7.2fs/$cn%7.2fs cold_ratio=$coldRatio%6.2f")
      (name, x1, xn, ratio, c1, cn, coldRatio)
    }
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qjson = rows.map { case (n, x1, xn, r, c1, cn, cr) =>
      s""""$n":{"x1":${f(x1)},"x$factor":${f(xn)},"ratio":${f(r)},""" +
        s""""cold_x1":${f(c1)},"cold_x$factor":${f(cn)},"cold_ratio":${f(cr)}}"""
    }.mkString(",")
    println(s"""{"metric":"scale_probe","factor":$factor,"sf":"$sfDir","queries":{$qjson}}""")
    spark.stop()
  }
}
