package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.PipelineSettings
import graft.pipeline.HashProjectionEmbedder
import graft.sources.TextExtraction
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** One upload as the generator described it. `text` is the exact text a
  * correct extractor returns (None for images and corrupt files).
  */
final case class Upload(name: String, fmt: String, corrupt: Boolean, text: Option[String])

final case class Batch(dir: String, files: Vector[Upload])

object Batch {
  def list(inputDir: String, node: JsonNode): Vector[Batch] =
    node.elements().asScala.map { b =>
      Batch(s"$inputDir/${b.get("dir").asText}", b.get("files").elements().asScala.map { f =>
        Upload(f.get("name").asText, f.get("fmt").asText, f.get("corrupt").asBoolean,
          Option(f.get("text")).filterNot(_.isNull).map(_.asText))
      }.toVector)
    }.toVector
}

/** The write path as a user deploys it: files land in a directory, are
  * scanned as `binaryFile`, extracted, appended to the input of an
  * `EventStreams.ingestRelay` (reference 1000/200 chunk geometry,
  * `HashProjectionEmbedder`, job ledger on), and are searchable once the
  * relay has processed everything available.
  */
final class Relay(spark: SparkSession, root: String) {
  val landing = s"$root/landing"
  val relayIn = s"$root/relay_in"
  val store = s"$root/store"
  val ledger = s"$root/ledger"
  private val checkpoint = s"$root/checkpoint"
  Seq(landing, relayIn).foreach(d => new File(d).mkdirs())

  val query: StreamingQuery = EventStreams.ingestRelay(spark, relayIn, store, checkpoint,
    settings = Relay.Settings, provider = new HashProjectionEmbedder(Relay.Dim),
    ledgerDir = Some(ledger), schema = Some(Relay.DocSchema))

  /** Moves a generated batch into the landing area; returns its new path. */
  def land(batch: Batch): String = {
    val to = new File(landing, new File(batch.dir).getName)
    require(new File(batch.dir).renameTo(to), s"cannot land ${batch.dir}")
    to.getPath
  }

  /** Extract a landed directory into the relay input and wait until the
    * relay has made it searchable.
    */
  def ingest(landedDir: String): Unit = {
    Relay.extract(spark, landedDir).write.mode("append").parquet(relayIn)
    query.processAllAvailable()
  }

  def stop(): Unit = query.stop()
}

object Relay {
  val Settings: PipelineSettings = PipelineSettings.default // 1000/200, batch 50
  val Dim = 64
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType), StructField("n_chars", LongType)))

  def binaryFiles(spark: SparkSession, dir: String, glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.foreach(g => r.option("pathGlobFilter", g))
    r.load(dir)
  }

  def extract(spark: SparkSession, dir: String): DataFrame =
    TextExtraction.extract(binaryFiles(spark, dir))

  /** The store as the read path sees it: one row per point, with a
    * 64-bit id derived from the content-addressed point id.
    */
  def vectors(spark: SparkSession, store: String): DataFrame =
    spark.read.parquet(store).select(
      xxhash64(col("point_id")).as("vec_id"), col("embedding"), col("text"),
      col("source_drive_file").as("source_document"), col("source_title"))

  private val embedder = new HashProjectionEmbedder(Dim)
  val QuerySchema: StructType = StructType(Seq(
    StructField("qv", ArrayType(FloatType, containsNull = false)), StructField("q_text", StringType)))

  def queryVector(text: String): Array[Float] = embedder.embed(Seq(text)).head

  def queryRel(spark: SparkSession, text: String): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(queryVector(text).toSeq, text)), QuerySchema)

  val IdSchema: StructType = StructType(Seq(StructField("vec_id", LongType, nullable = false)))

  def idRel(spark: SparkSession, ids: Array[Long]): DataFrame =
    spark.createDataFrame(ids.toSeq.map(i => Row(i)).asJava, IdSchema)

  def fileName(source: String): String = source.substring(source.lastIndexOf('/') + 1)
}
