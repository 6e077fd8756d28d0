package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

/** S5 — real DOCX reading over real bytes, pure JDK (`java.util.zip` +
  * StAX), no external codec. A .docx is a ZIP whose `word/document.xml`
  * holds WordprocessingML; text extraction mirrors the reference's
  * python-docx usage exactly (services/text_extraction.py:95-102):
  * paragraph text = concatenated `<w:t>` runs (`<w:tab/>` → '\t',
  * `<w:br/>`/`<w:cr/>` → '\n'), blank paragraphs dropped, paragraphs
  * joined with "\n\n".
  *
  * The writer emits a minimal valid OOXML package so specs and queries
  * can round-trip REAL zip+xml bytes end-to-end — the decode path never
  * sees the strings that produced them, only the archive.
  */
object DocxCodec extends Serializable {

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
      |</Types>""".stripMargin

  private val Rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
      |</Relationships>""".stripMargin

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      // a literal CR in element content is NORMALIZED to \n by every
      // conforming XML parser — the round-trip would silently corrupt;
      // the character reference survives parsing as a real \r
      // (review finding r15)
      case '\r' => sb.append("&#xD;")
      // XML 1.0 cannot represent these AT ALL (not even as character
      // references): emitting them raw makes extractText throw a
      // well-formedness error on our own writer's output — drop them,
      // the only lossless-wrt-XML option
      case c if c < ' ' && c != '\t' && c != '\n' => ()
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Build a real .docx archive: one `<w:p>` per paragraph. */
  def write(paragraphs: Seq[String]): Array[Byte] = {
    val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    val body = paragraphs.map { p =>
      s"""<w:p><w:r><w:t xml:space="preserve">${xmlEscape(p)}</w:t></w:r></w:p>"""
    }.mkString
    val doc =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos, StandardCharsets.UTF_8)
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    entry("[Content_Types].xml", ContentTypes)
    entry("_rels/.rels", Rels)
    entry("word/document.xml", doc)
    zip.close()
    bos.toByteArray
  }

  /** Max characters accumulated from one document.xml — the zip-bomb
    * guard (review finding r14): deflate compresses runs ~1000:1, so a
    * ~1 MB crafted archive could inflate into multi-GB of <w:t> text
    * and OOM the executor — an Error the row-local NonFatal guard in
    * TextExtraction cannot contain. 64M chars (~128 MB heap) is far
    * past any real document; past it the file is treated as corrupt
    * (thrown → logged → dropped row).
    */
  private val MaxExtractedChars = 64 * 1024 * 1024

  /** Extract text from real .docx bytes (reference semantics above).
    * An archive WITHOUT `word/document.xml` throws (review finding
    * r14: returning "" let such a package pass the not-null ingest
    * filter as an empty-text row — silent data loss the corrupt-file
    * log never recorded; the main-part name is the fixed OOXML default
    * — a package relocating it via _rels/.rels is treated as corrupt,
    * a documented divergence from a full rels resolver).
    */
  def extractText(bytes: Array[Byte]): String = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes), StandardCharsets.UTF_8)
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (e.getName == "word/document.xml") return parseDocumentXml(zin)
        e = zin.getNextEntry
      }
      throw new IllegalArgumentException(
        "DocxCodec: no word/document.xml in archive — not a usable .docx")
    } finally zin.close()
  }

  private val WNs = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
  private val McNs = "http://schemas.openxmlformats.org/markup-compatibility/2006"

  /** One configured StAX factory per thread (factories are not
    * thread-safe, and `newInstance` repeats a JAXP service lookup over
    * the classpath on every call). DTDs and external entities stay off.
    */
  private val xmlFactory = ThreadLocal.withInitial[javax.xml.stream.XMLInputFactory] { () =>
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** Parse body paragraphs the way python-docx's `document.paragraphs`
    * does (review finding r15 — the bare local-name match diverged on
    * real Word output): only elements in the WORDPROCESSINGML namespace
    * count (DrawingML `a:t` / OMML `m:t` runs are not paragraph text);
    * `mc:Fallback` subtrees are SKIPPED (Word writes every shape as
    * mc:AlternateContent with the same text in Choice and Fallback —
    * counting both extracts it twice); and only BODY-LEVEL `w:p`
    * elements (depth document>body>p) open a paragraph, so table-cell
    * paragraphs don't leak in (python-docx's `document.paragraphs` is
    * body-level only). Remaining documented divergence: text nested
    * inside a kept mc:Choice (a textbox's inner paragraphs) lands in
    * the ENCLOSING body paragraph, where python-docx's run-level xpath
    * drops it — acceptable for an extractor whose job is "all the
    * body's text once".
    */
  private def parseDocumentXml(in: java.io.InputStream): String = {
    val r = xmlFactory.get.createXMLStreamReader(in)
    val paragraphs = Vector.newBuilder[String]
    val cur = new StringBuilder
    var total = 0L // across ALL paragraphs — the per-p buffer resets
    var inT = false
    var inP = false
    var depth = 0
    var skipDepth = -1 // depth of the mc:Fallback being skipped, -1 = not skipping
    import javax.xml.stream.XMLStreamConstants._
    while (r.hasNext) {
      r.next() match {
        case START_ELEMENT =>
          depth += 1
          if (skipDepth < 0) {
            val ns = Option(r.getNamespaceURI).getOrElse("")
            if (ns == McNs && r.getLocalName == "Fallback") skipDepth = depth
            else if (ns == WNs) r.getLocalName match {
              case "p" if depth == 3 => inP = true; cur.clear()
              case "t" if inP => inT = true
              case "tab" if inP => cur.append('\t')
              case "br" | "cr" if inP => cur.append('\n')
              case _ => ()
            }
          }
        case END_ELEMENT =>
          if (skipDepth == depth) skipDepth = -1
          else if (skipDepth < 0 && Option(r.getNamespaceURI).getOrElse("") == WNs)
            r.getLocalName match {
              case "p" if depth == 3 =>
                if (cur.toString.trim.nonEmpty) paragraphs += cur.toString
                inP = false
              case "t" => inT = false
              case _ => ()
            }
          depth -= 1
        case CHARACTERS | CDATA if inT && skipDepth < 0 =>
          total += r.getTextLength
          if (total > MaxExtractedChars)
            throw new IllegalArgumentException(
              s"DocxCodec: document.xml inflates past $MaxExtractedChars chars — zip bomb?")
          cur.append(r.getText)
        case _ => ()
      }
    }
    r.close()
    paragraphs.result().mkString("\n\n")
  }
}
