package graft.sources

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S5 over real bytes: the pure-JDK DOCX codec (ZIP + WordprocessingML)
  * and the binaryFile → extract → chunk lineage over .docx fixture
  * files on disk — the reference's front-door ingest
  * (text_extraction.py:95-102) with a JVM codec instead of python-docx.
  */
class DocxCodecSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("roundtrip: single paragraph is identity") {
    val t = "alpha beta gamma delta"
    assert(DocxCodec.extractText(DocxCodec.write(Seq(t))) == t)
  }

  test("multi-paragraph join is \\n\\n and blank paragraphs are dropped") {
    val got = DocxCodec.extractText(DocxCodec.write(Seq("first para", "   ", "second para")))
    assert(got == "first para\n\nsecond para")
  }

  test("xml special characters survive the roundtrip") {
    val t = "a < b && c > d \"quoted\" 'single'"
    assert(DocxCodec.extractText(DocxCodec.write(Seq(t))) == t)
  }

  test("w:tab and w:br map to tab and newline (python-docx run semantics)") {
    // hand-built document.xml — the writer never emits tabs/breaks, but
    // real-world docx files do and the extractor must handle them
    val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    val doc =
      s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>""" +
        """<w:p><w:r><w:t>col1</w:t><w:tab/><w:t>col2</w:t><w:br/><w:t>line2</w:t></w:r></w:p>""" +
        """</w:body></w:document>"""
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(doc.getBytes("UTF-8")); zip.closeEntry(); zip.close()
    assert(DocxCodec.extractText(bos.toByteArray) == "col1\tcol2\nline2")
  }

  /** A .docx holding only the given `word/document.xml`. */
  private def docxOf(documentXml: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(documentXml.getBytes("UTF-8")); zip.closeEntry(); zip.close()
    bos.toByteArray
  }

  test("an external entity in document.xml is never expanded") {
    // XXE: an upload must not read the extracting host's files. The
    // parser either refuses the reference (the file drops as corrupt)
    // or leaves it unexpanded; run twice so a reused per-thread parser
    // factory is covered as well as a fresh one.
    val secret = java.nio.file.Files.createTempFile("graft-xxe", ".txt")
    java.nio.file.Files.write(secret, "xxe-secret-payload".getBytes("UTF-8"))
    val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    val doc =
      s"""<?xml version="1.0"?><!DOCTYPE w:document [<!ENTITY xxe SYSTEM "${secret.toUri}">]>""" +
        s"""<w:document xmlns:w="$W"><w:body>""" +
        """<w:p><w:r><w:t>before &xxe; after</w:t></w:r></w:p></w:body></w:document>"""
    for (_ <- 1 to 2) {
      scala.util.Try(DocxCodec.extractText(docxOf(doc))).foreach { text =>
        assert(!text.contains("xxe-secret-payload"), s"entity expanded: $text")
      }
    }
    assert(DocxCodec.extractText(DocxCodec.write(Seq("after the entity"))) == "after the entity")
  }

  test("extraction from several threads at once equals sequential extraction") {
    val rnd = new scala.util.Random(11)
    val docs = (1 to 200).map { i =>
      DocxCodec.write(Seq.fill(1 + rnd.nextInt(4))(
        s"doc $i " + Seq.fill(1 + rnd.nextInt(30))(rnd.alphanumeric.take(6).mkString).mkString(" ")))
    }
    val sequential = docs.map(DocxCodec.extractText)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = docs.map(d => pool.submit(() => DocxCodec.extractText(d)))
      assert(tasks.map(_.get()) == sequential)
    } finally pool.shutdown()
  }

  test("seeded fuzz: 300 random strings (xml specials/tabs/unicode) round-trip") {
    // no '\n' in the pool: the "\n\n" paragraph join makes embedded
    // newlines content-ambiguous by the format's own contract
    val rnd = new scala.util.Random(7)
    // whole code points — see PdfCodecSpec fuzz note on surrogate pairs
    val pool = Vector("a", "b", " ", "X", "Y", "0", "9", "<", ">", "&", "\"", "'", "\t", "é", "ü", "中", "𝄞")
    for (i <- 1 to 300) {
      val t = (0 until 1 + rnd.nextInt(120)).map(_ => pool(rnd.nextInt(pool.length))).mkString
      if (t.trim.nonEmpty)
        assert(DocxCodec.extractText(DocxCodec.write(Seq(t))) == t, s"fuzz case $i: ${t.take(40)}")
    }
  }

  test("zip without word/document.xml is REFUSED, not extracted as empty") {
    // r14: returning "" here let a mis-packaged archive pass the ingest
    // not-null filter as an empty-text row — silent data loss the
    // corrupt-file log never recorded; the dispatch's row-local guard
    // now turns this throw into a logged drop
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    zip.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    zip.write("x".getBytes("UTF-8")); zip.closeEntry(); zip.close()
    val ex = intercept[IllegalArgumentException] {
      DocxCodec.extractText(bos.toByteArray)
    }
    assert(ex.getMessage.contains("word/document.xml"))
  }

  test("binaryFile source over real .docx fixtures -> extract -> chunk lineage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docx")
    java.nio.file.Files.write(dir.resolve("a.docx"),
      DocxCodec.write(Seq("alpha beta gamma", "delta epsilon")))
    java.nio.file.Files.write(dir.resolve("b.docx"),
      DocxCodec.write(Seq("single body")))
    val extractUdf = udf { (bytes: Array[Byte]) => DocxCodec.extractText(bytes) }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.docx")
      .load(dir.toString)
    val docs = files
      .select(col("path"), extractUdf(col("content")).as("text"))
      .withColumn("doc_id", abs(hash(col("path"))).cast("long"))
      .withColumn("source", col("path"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = docs.select(col("text")).collect().map(_.getString(0)).toSet
    assert(got == Set("alpha beta gamma\n\ndelta epsilon", "single body"))
    // the extracted relation drives the same ingest lineage as parquet
    val points = graft.pipeline.IngestPipeline.run(docs)
    assert(points.count() == 2)
    assert(points.select(col("original_text")).collect()
      .map(_.getString(0)).forall(t => t.nonEmpty))
  }
}
