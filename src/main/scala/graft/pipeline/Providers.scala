package graft.pipeline

/** External-model provider seams (SURVEY.md §7.1). The reference hides
  * Ollama/OpenRouter/Cohere behind small classes with a common shape
  * (reference: frappe_data_pipelines/services/embedding_service.py:72-83
  * — the EmbeddingProvider ABC); we mirror that with traits whose
  * deterministic local implementations keep the whole pipeline hermetic
  * and oracle-checkable. HTTP adapters would implement the same traits
  * and are deliberately NOT on the correctness path.
  *
  * All implementations must be Serializable: instances are constructed
  * once per partition inside `mapPartitions` (connection-reuse pattern,
  * reference: services/qdrant_service.py:13-49 lazy singletons).
  */
/** P14 dimension resolver: (provider, model) → embedding dimension via
  * static tables with per-provider defaults (reference:
  * frappe_data_pipelines/services/embedding_service.py:15-69 —
  * OLLAMA_DIMENSIONS / OPENROUTER_DIMENSIONS / DEFAULT_DIMENSION and
  * get_model_dimension's fallback ladder, including the smart-pipeline
  * any-provider lookup). Emitted as the oracled `p14_dimension_table`
  * relation so table edits are hash-gated, not just spec-covered.
  */
object ModelDimensions {
  val ollama: Map[String, Int] = Map(
    "nomic-embed-text" -> 768,
    "mxbai-embed-large" -> 1024,
    "all-minilm" -> 384,
    "snowflake-arctic-embed" -> 1024)

  val openRouter: Map[String, Int] = Map(
    "openai/text-embedding-3-small" -> 1536,
    "openai/text-embedding-3-large" -> 3072,
    "openai/text-embedding-ada-002" -> 1536,
    "cohere/embed-english-v3.0" -> 1024,
    "cohere/embed-multilingual-v3.0" -> 1024,
    "cohere/embed-english-light-v3.0" -> 384,
    "voyageai/voyage-3-large" -> 1024,
    "voyageai/voyage-3.5-lite" -> 1024,
    "voyageai/voyage-3" -> 1024,
    "qwen/qwen3-embedding-8b" -> 4096,
    "qwen/qwen3-embedding-4b" -> 2048,
    "alibaba/gte-qwen2-7b-instruct" -> 3584)

  val defaultDimension: Int = 1536
  val ollamaDefault: Int = 768

  /** The reference's fallback ladder: provider-specific table with a
    * provider default; any other provider (the smart pipeline) checks
    * both tables, OpenRouter first, then the global default.
    */
  def resolve(provider: String, model: String): Int = provider match {
    case "Local (Ollama)" => ollama.getOrElse(model, ollamaDefault)
    case "OpenRouter"     => openRouter.getOrElse(model, defaultDimension)
    case _ =>
      openRouter.get(model)
        .orElse(ollama.get(model))
        .getOrElse(defaultDimension)
  }
}

trait EmbeddingProvider extends Serializable {
  def dimension: Int
  /** Embed a batch; MUST preserve input order (the reference sorts
    * responses by index to restore it — embedding_service.py:172).
    */
  def embed(texts: Seq[String]): Seq[Array[Float]]
}

/** Deterministic md5-projection embedder — the ORACLE-MIRRORABLE
  * provider (r19): component j of text t is an exact dyadic rational
  * derived from 8 hex chars of `md5((j/4) + ":" + t)`, unit-normalized.
  * Every arithmetic step is bit-replayable in DuckDB SQL
  * (`('0x' || substr(md5(...), 1+8*(j%4), 8))::BIGINT / 2147483648.0
  * - 1.0`, sequential `list_reduce` norm, `CAST(... AS FLOAT)`):
  *  - h is an exact integer < 2^32 (exact in double);
  *  - h / 2^31 is a division by a power of two — EXACT, no rounding;
  *  - the norm fold is sequential in index order in both engines;
  *  - the final float cast is round-to-nearest in both.
  * So the float vectors — and everything downstream: cosine scores,
  * int8 codes, integer dots — agree bit-for-bit across engines, which
  * is what lets the flagship-lifecycle and relay-int8 gates check
  * similarity VALUES instead of membership (the HashProjectionEmbedder
  * below mixes with Java overflow arithmetic DuckDB cannot replay).
  * One md5 per 4 components: dim 64 costs 16 digests per text.
  * Zero-norm is impossible: component j is 0 only when its 32-bit
  * slice is exactly 2^31, and a text hitting that for ALL components
  * would be an md5 preimage miracle (any single non-zero component
  * makes the norm positive).
  */
final class Md5ProjectionEmbedder(val dimension: Int = 64) extends EmbeddingProvider {
  require(dimension % 4 == 0, s"Md5ProjectionEmbedder: dimension must be a multiple of 4, got $dimension")
  def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.map { t0 =>
      val t = Option(t0).getOrElse("")
      val x = new Array[Double](dimension)
      var i = 0
      while (i < dimension / 4) {
        md.reset()
        val digest = md.digest((i.toString + ":" + t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var s = 0
        while (s < 4) {
          // 4 big-endian bytes -> uint32, matching the 8-hex-char slice
          val off = s * 4
          val h = ((digest(off) & 0xFFL) << 24) | ((digest(off + 1) & 0xFFL) << 16) |
            ((digest(off + 2) & 0xFFL) << 8) | (digest(off + 3) & 0xFFL)
          x(i * 4 + s) = h / 2147483648.0 - 1.0
          s += 1
        }
        i += 1
      }
      var ss = 0.0
      var j = 0
      while (j < dimension) { ss += x(j) * x(j); j += 1 } // sequential: mirrors list_reduce
      val n = math.sqrt(ss)
      val out = new Array[Float](dimension)
      j = 0
      while (j < dimension) { out(j) = (x(j) / n).toFloat; j += 1 }
      out
    }
  }
}

/** Deterministic hash-projection embedder: token t contributes ±1/k to
  * dimension j by the parity of a 64-bit mix of (token, j). Stable across
  * JVMs (no object hashCode), unit-normalized. Dim default mirrors the
  * reference's fallback dim 384→here 64 to match the test embeddings
  * table width (services/qdrant_service.py:69-84).
  */
final class HashProjectionEmbedder(val dimension: Int = 64) extends EmbeddingProvider {
  /** 64-bit mix with a murmur-style avalanche finalizer. The finalizer is
    * load-bearing: with a plain `base ^ j*phi` the parity bit's j-term
    * cancels in any token-pair XOR, making every token vector ±(one
    * global sign pattern) — balanced texts then embed to exactly zero.
    * The string hash is hoisted so the text is scanned once per token,
    * not once per (token, dimension).
    */
  private def stringHash(s: String): Long = {
    var h = 1125899906842597L // large prime
    var i = 0
    while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
    h
  }
  private def avalanche(base: Long, j: Int): Long = {
    var h = base ^ (j * 0x9E3779B97F4A7C15L)
    h *= 0xC2B2AE3D27D4EB4FL
    h ^= (h >>> 29)
    h *= 0x165667B19E3779F9L
    h ^= (h >>> 32)
    h
  }
  /** Per-instance sign-vector cache: instances live per partition, and a
    * real corpus has a Zipfian vocabulary, so most tokens are repeats.
    * Bounded to keep executor memory flat at scale.
    */
  @transient private lazy val signCache =
    new java.util.HashMap[String, Array[Float]]()
  private val maxCache = 1 << 16
  private def signVector(tok: String): Array[Float] = {
    val hit = signCache.get(tok)
    if (hit != null) return hit
    val base = stringHash(tok)
    val sv = new Array[Float](dimension)
    var j = 0
    while (j < dimension) {
      sv(j) = if ((avalanche(base, j) & 1L) == 0L) 1.0f else -1.0f
      j += 1
    }
    if (signCache.size < maxCache) signCache.put(tok, sv)
    sv
  }
  def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
    val toks = Option(t).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
    val v = new Array[Float](dimension)
    for (tok <- toks) {
      val sv = signVector(tok)
      var j = 0
      while (j < dimension) { v(j) += sv(j); j += 1 }
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }
}

/** Contextual-enrichment seam (reference: services/context_service.py
  * :115-202 — LLM prompt over (document[:32000], chunk) → ≤120-token
  * prefix; failures degrade to ""). The deterministic stub derives the
  * prefix from the document head, mirroring "situate this chunk within
  * the document" without a model.
  */
trait ContextProvider extends Serializable {
  def contextFor(documentHead: String, chunkText: String): String
}

/** `[ctx] ` and the head's first 8 tokens joined by one space: by
  * definition `head.trim.split("\\s+").take(8).mkString(" ")` (ProvidersSpec
  * pins the two equal). The head is up to 32,000 characters and this
  * runs once per chunk, so it reads only as far as the 8th token.
  */
final class HeadlineContextProvider extends ContextProvider {
  def contextFor(documentHead: String, chunkText: String): String = {
    val head = firstTokens(documentHead, 8)
    if (head.isEmpty) "" else s"[ctx] $head"
  }

  /** Tokens split on regex `\s` ([ \t\n\x0B\f\r]); the ends cut as
    * `String.trim` cuts them (every char <= U+0020, control chars too).
    */
  private def firstTokens(s: String, n: Int): String = {
    def isSep(c: Char) = c == ' ' || (c >= '\t' && c <= '\r')
    if (s == null) return ""
    var end = s.length
    while (end > 0 && s.charAt(end - 1) <= ' ') end -= 1
    var i = 0
    while (i < end && s.charAt(i) <= ' ') i += 1
    val out = new java.lang.StringBuilder
    var k = 0
    while (i < end && k < n) {
      val start = i
      while (i < end && !isSep(s.charAt(i))) i += 1
      if (k > 0) out.append(' ')
      out.append(s, start, i)
      k += 1
      while (i < end && isSep(s.charAt(i))) i += 1
    }
    out.toString
  }
}

/** One recognized OCR line (reference: services/ocr_service.py:140-144 —
  * `{'bbox': [[x1,y1],[x2,y2],[x3,y3],[x4,y4]], 'text', 'confidence'}`).
  * As a Spark column this is the judge-specified
  * ArrayType(StructType(bbox, text, confidence)) element.
  */
final case class OcrBox(bbox: Seq[Seq[Double]], text: String, confidence: Double)

/** OCRResult shape (reference: services/ocr_service.py:14-20): combined
  * text in reading order, average line confidence, detected languages,
  * per-line bounding boxes.
  */
final case class OcrResult(
    text: String,
    confidence: Double,
    detected_languages: Seq[String],
    bounding_boxes: Seq[OcrBox])

/** OCR seam (P7) — the reference hides PaddleOCR behind OCRService
  * (services/ocr_service.py:23+); an HTTP/native adapter implements this
  * same trait. The deterministic impl keeps the pipeline hermetic and
  * oracle-checkable.
  */
trait OcrProvider extends Serializable {
  def recognize(imageBytes: Array[Byte]): OcrResult
}

/** Deterministic OCR: decodes the REAL image bytes ([[graft.sources.ImageCodec]])
  * and emits one line per full 8-pixel row band. Line text/confidence are
  * pure arithmetic of the decoded raster (top-left gray, band index), so
  * the whole OCRResult — including the nested bbox geometry — is
  * DuckDB-mirrorable. Confidence = ((gray*7 + 13*i) mod 51 + 50)/100,
  * i.e. in [0.50, 1.00]; the result confidence is the average, computed
  * as an integer sum divided once (exact cross-engine float parity).
  */
final class GridOcrProvider extends OcrProvider {
  def recognize(imageBytes: Array[Byte]): OcrResult =
    recognizeDecoded(graft.sources.ImageCodec.decode(imageBytes))

  /** Fast path over already-decoded metadata — lets a caller that also
    * needs the metadata (MetaVisionProvider) decode the bytes once.
    */
  def recognizeDecoded(m: graft.sources.ImageMeta): OcrResult = {
    if (m.format == "unknown" || m.height < 8) return OcrResult("", 0.0, Nil, Nil)
    val nLines = m.height / 8
    val g = m.topLeftGray
    val boxes = (0 until nLines).map { i =>
      val conf = ((g * 7 + i * 13) % 51 + 50) / 100.0
      OcrBox(
        Seq(Seq(0.0, 8.0 * i), Seq(m.width.toDouble, 8.0 * i),
          Seq(m.width.toDouble, 8.0 * i + 8), Seq(0.0, 8.0 * i + 8)),
        s"line $i: g$g", conf)
    }
    val confSum = (0 until nLines).map(i => (g * 7 + i * 13) % 51 + 50).sum
    OcrResult(
      boxes.map(_.text).mkString("\n"),
      confSum.toDouble / (100.0 * nLines),
      Seq("en"),
      boxes)
  }
}

/** VisualContent shape (reference: services/vision_service.py:15-22):
  * OCR text + LLM description + the combined text that gets embedded,
  * plus detected element tags.
  */
final case class VisualContent(
    ocr_text: String,
    description: String,
    combined: String,
    detected_elements: Seq[String])

/** Vision seam (P8) — the reference's VisionService sends image bytes to
  * an OpenRouter vision model (services/vision_service.py:25-43); an HTTP
  * adapter implements this trait. The deterministic impl derives the
  * description from the real decoded metadata and composes OCR text the
  * way the reference combines OCR + description for embedding.
  */
trait VisionProvider extends Serializable {
  def describe(imageBytes: Array[Byte]): VisualContent
}

final class MetaVisionProvider(ocr: OcrProvider = new GridOcrProvider) extends VisionProvider {
  def describe(imageBytes: Array[Byte]): VisualContent = {
    val m = graft.sources.ImageCodec.decode(imageBytes)
    // decode once per row: the local OCR impl can reuse the decoded
    // metadata; a remote provider still gets the raw bytes
    val o = ocr match {
      case g: GridOcrProvider => g.recognizeDecoded(m)
      case other => other.recognize(imageBytes)
    }
    val description = s"[image ${m.format} ${m.width}x${m.height}]"
    val combined = if (o.text.isEmpty) description else description + "\n" + o.text
    val elements =
      if (o.bounding_boxes.length > 1) Seq("table")
      else if (o.text.nonEmpty) Seq("text")
      else Nil
    VisualContent(o.text, description, combined, elements)
  }
}

/** Reranker seam (reference: services/search_service.py:239-316 — Cohere
  * rerank over k*5 candidates). Deterministic stub: score = Jaccard of
  * word sets, the usual lexical-overlap proxy.
  */
trait Reranker extends Serializable {
  def score(query: String, text: String): Double
}

final class LexicalOverlapReranker extends Reranker {
  def score(query: String, text: String): Double = {
    val q = query.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    if (q.isEmpty || t.isEmpty) 0.0
    else (q & t).size.toDouble / (q | t).size.toDouble
  }
}

/** Batch rerank seam matching the reference's call shape — ONE call
  * over the whole candidate list (search_service.py:270-301 sends
  * `documents=[r.text for r in results]` and gets back indexed
  * scores), not a score per pair. Returns (candidate index, relevance
  * score), best first, at most `topN` entries.
  */
trait BatchReranker extends Serializable {
  def rerank(query: String, documents: Seq[String], topN: Int): Seq[(Int, Double)]
}

/** Any pairwise [[Reranker]] lifted to the batch seam: score each
  * candidate, stable-sort best first (ties keep candidate order — when
  * candidates arrive score-ordered this is exactly the tie-break of
  * [[graft.search.SearchService]]'s inline rerank expression, which
  * the equivalence spec pins).
  */
final class PairwiseBatchReranker(inner: Reranker) extends BatchReranker {
  def rerank(query: String, documents: Seq[String], topN: Int): Seq[(Int, Double)] =
    documents.zipWithIndex
      .map { case (d, i) => (i, inner.score(query, d)) }
      .sortBy { case (i, s) => (-s, i) }
      .take(topN)
}
