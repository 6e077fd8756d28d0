package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Everything one workload run needs: the session, its inputs and its
  * private scratch directories.
  */
final class Ctx(
    val spark: SparkSession,
    val manifest: JsonNode,
    val inputDir: String,
    val workDir: String,
    val testdata: String,
    val seconds: Double,
    val trace: Boolean,
    val cores: Int) {
  val out = new Recorder
  def work(name: String): String = { val d = s"$workDir/$name"; new File(d).mkdirs(); d }
}

/** Raw measurements of one run, written as JSON for run.py to reduce. */
final class Recorder {
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  private val errors = mutable.ArrayBuffer.empty[String]

  def set(k: String, v: Any): Unit = synchronized { values(k) = v }
  def sample(k: String, v: Double): Unit = synchronized {
    series.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  }
  def samples(k: String): Seq[Double] = synchronized { series.get(k).map(_.toVector).getOrElse(Vector.empty) }
  def fail(what: String): Unit = synchronized {
    failed.incrementAndGet()
    if (errors.size < 20) errors += what
    System.err.println(s"[bench] FAILED: $what")
  }
  /** One checked operation: counts it, and counts it failed when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }

  def toJson: String = synchronized {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    values.foreach { case (k, v) => root.set[JsonNode](k, m.valueToTree[JsonNode](box(v))) }
    val s = root.putObject("series")
    series.foreach { case (k, xs) => val a = s.putArray(k); xs.foreach(x => a.add(x)) }
    root.put("attempted", attempted.get)
    root.put("failed", failed.get)
    val e = root.putArray("errors"); errors.foreach(e.add)
    m.writeValueAsString(root)
  }
  private def box(v: Any): AnyRef = v match {
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case s: Seq[_] => s.map(box).asJava
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> box(x) }.asJava
    case null => null
    case o => o.toString
  }
}

object Harness {
  def nowMs: Long = System.currentTimeMillis()

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds of this JVM, every thread (tasks, JIT, GC). */
  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcPauseS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Bytes of data files under a store directory (hidden and marker files excluded). */
  def dataBytes(dir: String): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) { files += 1; bytes += f.length }
    walk(new File(dir))
    (files, bytes)
  }

  def readJson(path: String): JsonNode =
    new ObjectMapper().readTree(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))

  def writeString(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}
