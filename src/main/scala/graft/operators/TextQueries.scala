package graft.operators

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text pipeline operators from SURVEY.md §2.3/§2.4 over `documents`,
  * plus the text-analysis extensions (token counting, quality scoring,
  * fingerprinting). Everything here is a native Column expression — the
  * chunk generator is `sequence`+`posexplode` (Catalyst Generator), so
  * whole-stage codegen covers the full pipeline and the generator
  * parallelizes per input row regardless of document size.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** P4 probability path (ocr_service.py:213-224): the heuristic block
    * flags first, then the probabilistic refinement appends codes with
    * P(lang) > 0.3 that the flags missed; 'unknown' when nothing at all
    * matched. The scorer is the stopword-profile equivalent of
    * langdetect (see [[TextOps.StopwordProfiles]]): distinct profile
    * hits normalized across profiles — native array_intersect
    * arithmetic, whole-stage codegen, exact oracle parity. 'en' is
    * never appended: en hits > 0 implies ASCII letters exist, so the
    * block heuristic already flagged it. Takes the docs relation as a
    * parameter so specs can drive the append/unknown branches with
    * crafted inputs the corpus never produces.
    */
  def langProbabilities(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val profs = TextOps.StopwordProfiles
    def h(l: String) = col(s"h_$l")
    val hits = profs.map { case (l, ws) =>
      size(array_intersect(col("toks"), array(ws.map(lit): _*))).as(s"h_$l")
    }
    // `keep` threads passthrough columns (e.g. the declared lang for the
    // confusion audit) so consumers never need a doc_id re-join — at
    // scale that join is a full-corpus shuffle bought for one column
    val kept = keep.map(col)
    val scored = docs
      .select(col("doc_id") +: col("text") +:
        array_distinct(TextOps.tokens(col("text"))).as("toks") +: kept: _*)
      .select(col("doc_id") +: col("text") +: (hits ++ kept): _*)
      .withColumn("total", profs.map { case (l, _) => h(l) }.reduce(_ + _))
      .withColumn("mx", greatest(profs.map { case (l, _) => h(l) }: _*))
    val topLang = when(col("total") === 0, lit("unknown")).otherwise(
      profs.foldRight(lit("unknown")) { case ((l, _), acc) =>
        when(h(l) === col("mx"), lit(l)).otherwise(acc)
      })
    val topProb = when(col("total") === 0, lit(0.0))
      .otherwise(round(col("mx").cast("double") / col("total"), 6))
    val appended = profs.collect { case (l, _) if l != "en" =>
      when(col("total") > 0 && h(l).cast("double") / col("total") > 0.3, lit(l))
    }
    val base = TextOps.detectedLanguagesCsv(col("text"))
    val full = concat_ws(",",
      when(base === "", lit(null)).otherwise(base) +: appended: _*)
    scored.select(col("doc_id") +:
      when(full === "", lit("unknown")).otherwise(full).as("detected_languages") +:
      topLang.as("top_lang") +: topProb.as("top_prob") +: kept: _*)
  }

  /** Fixed-size chunking (G1 contract form): chunks of `size` chars every
    * `size - overlap` chars. chunk_index is carried explicitly (never row
    * order — SURVEY §7.4.2).
    */
  def fixedChunks(docs: DataFrame, size: Int = 200, overlap: Int = 40): DataFrame = {
    val stride = size - overlap
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(
        col("doc_id"),
        col("text"),
        posexplode(sequence(lit(0L), greatest(length(col("text")) - 1, lit(0)).cast("long"), lit(stride.toLong)))
          .as(Seq("chunk_index", "start")))
      .select(
        col("doc_id"),
        col("chunk_index").cast("long").as("chunk_index"),
        col("text").substr(col("start") + 1, lit(size)).as("chunk_text"))
      .withColumn("character_count", length(col("chunk_text")).cast("long"))
  }

  private val chunkSqlBody =
    "FROM documents d, unnest(generate_series(0, length(d.text) - 1, 160)) AS s(start) " +
      "WHERE length(trim(d.text)) > 0"

  import org.apache.spark.sql.expressions.UserDefinedFunction

  /** G2 semantic chunker as a generator UDF (array<struct> + posexplode —
    * SURVEY §2.10: the idiomatic Spark form of a UDTF).
    */
  val semanticChunkUdf: UserDefinedFunction = udf { (text: String) =>
    graft.text.SemanticChunker.chunk(text)
      .map(c => (c.chunkIndex, c.text, c.sectionPath, c.startChar, c.endChar))
  }

  /** G2 at target size 60 — the structured-corpus oracle's setting, so
    * the merge AND packing branches are live on ~100-word docs (see
    * g2_structured_chunks).
    */
  val semanticChunk60Udf: UserDefinedFunction = udf { (text: String) =>
    graft.text.SemanticChunker.chunk(text, 60)
      .map(c => (c.chunkIndex, c.text, c.sectionPath, c.startChar, c.endChar))
  }

  /** G1 recursive character chunker as a generator UDF. The oracled
    * query runs at size=200/overlap=40: every corpus doc is < 1000
    * chars, so the reference's default 1000/200 would never split and
    * the oracle would prove nothing about the packing/overlap logic.
    */
  val recursiveChunkUdf: UserDefinedFunction = udf { (text: String) =>
    graft.text.RecursiveChunker.chunk(text, 200, 40)
  }

  /** G3 hybrid chunker UDF at budget 32 (see g3_hybrid_chunks). */
  val hybridChunkUdf: UserDefinedFunction = udf { (text: String) =>
    graft.text.HybridChunker.chunk(text, 32)
      .map(c => (c.chunkIndex, c.text, c.sectionPath, c.startChar, c.endChar))
  }

  val queries: Map[String, Q] = Map(
    // G2: structure-preserving semantic chunker (chunking_service.py:166-481).
    // On the structure-free test corpus every doc yields one 'Document'
    // chunk — the oracle checks exactly that equivalence; structured
    // inputs are covered by ChunkersSpec goldens.
    "g2_semantic_chunks" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(semanticChunkUdf(col("text"))).as("c"))
        .select(
          col("doc_id"),
          col("c._1").cast("long").as("chunk_index"),
          col("c._2").as("chunk_text"),
          col("c._3").as("section_path"),
          col("c._4").as("start_char"),
          col("c._5").as("end_char"))
        .orderBy("doc_id", "chunk_index")
    }),
    // G2 on a STRUCTURED corpus: headers (markdown #/##, numbered
    // "1.2.", ALL-CAPS) interleaved deterministically with word slices
    // of each doc, at target 60 — so header levels, "A > B > C" section
    // paths, the greedy small-section merge (latest-path quirk), the
    // paragraph packing (size-check-BEFORE-add), AND the offset
    // arithmetic all reach the hash on multi-chunk output (~93% of
    // docs yield >1 chunk). The DuckDB side replays the full pipeline:
    // section detection via the fixed line layout, then the merge and
    // packing greedy folds as recursive CTEs over per-doc section /
    // paragraph lists (prototyped row-exact vs a Python port at all
    // three SFs — tools/proto_g2s.py). Complements g2_semantic_chunks,
    // whose structure-free corpus only exercises the single-section
    // path (reference: chunking_service.py:166-481).
    "g2_structured_chunks" -> ((s, d) => {
      val w = split(col("text"), " ")
      def sl(start: Int, len: Int) = concat_ws(" ", slice(w, start, len))
      val structuredText = concat(
        lit("# Title "), col("doc_id").cast("string"), lit("\n"),
        sl(1, 6), lit("\n## Section One\n"), sl(7, 10), lit("\n\n"), sl(17, 12),
        lit("\n1.2. Numbered\n"), sl(29, 12), lit("\nAPPENDIX NOTES\n"), sl(41, 100000))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(semanticChunk60Udf(structuredText)).as("c"))
        .select(
          col("doc_id"),
          col("c._1").cast("long").as("chunk_index"),
          col("c._2").as("chunk_text"),
          col("c._3").as("section_path"),
          col("c._4").as("start_char"),
          col("c._5").as("end_char"))
        .orderBy("doc_id", "chunk_index")
    }),
    // G1: recursive character chunker (chunking_service.py:127-163 legacy
    // mode; our documented contract). Fully oracled: the DuckDB side
    // re-derives the greedy pack + overlap carry as a recursive CTE over
    // word-piece prefix sums (the corpus has no '\n'/'. ' separators, so
    // the separator ladder lands on ' ' and the chunker is exactly one
    // merge pass — validated piece-for-piece in tools/proto_g1.py).
    "g1_recursive_chunks" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(recursiveChunkUdf(col("text"))).as(Seq("chunk_index", "chunk_text")))
        .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
          col("chunk_text"), length(col("chunk_text")).cast("long").as("character_count"))
        .orderBy("doc_id", "chunk_index")
    }),
    // G3: Docling-style hybrid chunker (chunking_service.py:23-124 —
    // paragraph items → oversize split by token budget → merge_peers),
    // budgeting BPE-ish ceil(len/4) tokens per word. Oracled at
    // maxTokens=32 so the split path is live (corpus docs run to ~110
    // words / ~140 weighted tokens); DuckDB re-derives the weighted
    // windows AND the final-pair merge (the only merge the greedy pass
    // can perform here — see g3Ctes) from the same per-word weights.
    // General multi-paragraph merge_peers → ChunkersSpec.
    "g3_hybrid_chunks" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(hybridChunkUdf(col("text"))).as("c"))
        .select(
          col("doc_id"),
          col("c._1").cast("long").as("chunk_index"),
          col("c._2").as("chunk_text"),
          col("c._3").as("section_path"),
          col("c._4").as("start_char"),
          col("c._5").as("end_char"))
        .orderBy("doc_id", "chunk_index")
    }),
    // The reference's CORE dispatch (process_embedding.py:84-241
    // process_smart_pipeline + chunking_service.py:484 get_chunker):
    // classify each doc (P1 rules), then route it to the matching
    // chunker — structured→G3 hybrid, article→G2 semantic, text→G1
    // recursive, visual→single vision chunk (G5). One plan, four
    // generator branches unioned; each branch's oracle form is already
    // proven by its standalone query, composed here per-strategy.
    "smart_pipeline_chunks" -> ((s, d) => {
      val strategy = when(col("lang") === "zh", "structured")
        .when(col("lang") === "ar", "visual")
        .when(col("lang").isin("de", "fr", "es"), "article")
        .otherwise("text")
      val docs = Tables.documents(s, d).withColumn("strategy", strategy)
      val g1 = docs.filter(col("strategy") === "text")
        .select(col("doc_id"), col("strategy"),
          posexplode(recursiveChunkUdf(col("text"))).as(Seq("chunk_index", "chunk_text")))
        .select(col("doc_id"), col("strategy"),
          col("chunk_index").cast("long").as("chunk_index"), col("chunk_text"))
      val g2 = docs.filter(col("strategy") === "article")
        .select(col("doc_id"), col("strategy"), explode(semanticChunkUdf(col("text"))).as("c"))
        .select(col("doc_id"), col("strategy"),
          col("c._1").cast("long").as("chunk_index"), col("c._2").as("chunk_text"))
      val g3 = docs.filter(col("strategy") === "structured")
        .select(col("doc_id"), col("strategy"), explode(hybridChunkUdf(col("text"))).as("c"))
        .select(col("doc_id"), col("strategy"),
          col("c._1").cast("long").as("chunk_index"), col("c._2").as("chunk_text"))
      val vis = docs.filter(col("strategy") === "visual")
        .select(col("doc_id"), col("strategy"), lit(0L).as("chunk_index"),
          concat(lit("Visual Content: "), col("source")).as("chunk_text"))
      g1.unionByName(g2).unionByName(g3).unionByName(vis)
        .orderBy("doc_id", "chunk_index")
    }),
    // G1 (fixed-size contract) + P16: the flagship scan→filter→generate→project.
    "chunk_fixed" -> ((s, d) => {
      fixedChunks(Tables.documents(s, d)).orderBy("doc_id", "chunk_index")
    }),
    // T6: deterministic point ids — content-addressed, idempotent on retry
    // (improves on the reference's uuid4, qdrant_service.py:101-102).
    "chunk_point_ids" -> ((s, d) => {
      fixedChunks(Tables.documents(s, d))
        .select(
          col("doc_id"),
          col("chunk_index"),
          md5(concat(col("doc_id").cast("string"), lit(":"), col("chunk_index").cast("string"))
            .cast("binary")).as("point_id"))
        .orderBy("doc_id", "chunk_index")
    }),
    // S4: charset-ladder reader over binary payloads
    // (text_extraction.py:78-106). The corpus is valid UTF-8, so the
    // oracle is decode-identity; non-UTF-8 ladders covered in TextOpsSpec.
    "s4_charset_decode" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.charsetLadderUdf(col("text").cast("binary")).as("dec"))
        .select(col("doc_id"), col("dec._1").as("decoded"), col("dec._2").as("encoding"))
        .orderBy("doc_id")
    }),
    // V5: response re-sort — rank within each user's batch, then restore
    // input order (embedding_service.py:172 sorts responses by .index;
    // the rank window is per-key, so it parallelizes by user).
    "v5_resort" -> ((s, d) => {
      val byValue = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, d)
        .withColumn("value_rank", row_number().over(byValue))
        .select(col("event_id"), col("user_id"), col("value_rank"))
        .orderBy("event_id")
    }),
    // P16: character count (document_chunk.py:9-11).
    "p16_char_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("character_count"))
        .orderBy("doc_id")
    }),
    // P15: payload text truncation (process_embedding.py:394).
    "p15_truncate" -> ((s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          substring(col("text"), 1, 100).as("text_trunc"),
          length(substring(col("text"), 1, 100)).cast("long").as("trunc_len"))
        .orderBy("doc_id")
    }),
    // P10 (stub prefix) + P11: embedded_text = context + "\n\n" + chunk
    // (context_service.py:99-103).
    "p11_embed_concat" -> ((s, d) => {
      val ctx = concat(lit("Context for "), col("source"), lit(":"))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          ctx.as("context_prefix"),
          concat_ws("\n\n", ctx, substring(col("text"), 1, 120)).as("embedded_text"))
        .orderBy("doc_id")
    }),
    // P4 probability path — see langProbabilities above.
    "p4_lang_prob" -> ((s, d) =>
      langProbabilities(Tables.documents(s, d)).orderBy("doc_id")),
    // P4/P17: unicode-block language flags, CSV-encoded (ocr_service.py:189-226).
    "p4_lang_flags" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.detectedLanguagesCsv(col("text")).as("detected_languages"))
        .orderBy("doc_id")
    }),
    // P1/P3/P5/P6: strategy classifier + chunk-size suggester + smart gate
    // (decision_agent.py:38-83, 275-299).
    "p1_strategy_classify" -> ((s, d) => {
      val strategy = when(col("lang") === "zh", "structured")
        .when(col("lang") === "ar", "visual")
        .when(col("lang").isin("de", "fr", "es"), "article")
        .otherwise("text")
      val size = when(col("lang") === "zh", 800)
        .when(col("lang") === "ar", 1200)
        .otherwise(1000)
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          strategy.as("strategy"),
          size.as("suggested_chunk_size"),
          (col("n_chars") > 400 || col("lang") === "zh").as("needs_smart"))
        .orderBy("doc_id")
    }),
    // P9: visual-element keyword tagger (vision_service.py:179-208).
    "p9_visual_tagger" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.visualElementsCsv(col("text")).as("visual_elements"))
        .orderBy("doc_id")
    }),
    // Text-analysis extension: quality scoring (length/stopword ratios).
    "quality_score" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("word_count"),
          size(filter(toks, t => t.isin(TextOps.Stopwords: _*))).cast("long").as("stop_cnt"),
          length(array_join(toks, "")).cast("long").as("char_total"))
        .select(
          col("doc_id"),
          col("word_count"),
          round(col("stop_cnt").cast("double") / col("word_count"), 6).as("stop_ratio"),
          round(col("char_total").cast("double") / col("word_count"), 6).as("avg_word_len"),
          (col("word_count") >= 10 &&
            col("stop_cnt").cast("double") / col("word_count") <= 0.5).as("quality_ok"))
        .orderBy("doc_id")
    }),
    // Text-analysis extension: token counting (whitespace + BPE-ish regex).
    "token_count" -> ((s, d) => {
      Tables.sortedKernel(Tables.documents(s, d).select("doc_id", "text", "n_chars"), Seq("doc_id")) {
        _.select(
          col("doc_id"),
          TextOps.wordCount(col("text")).as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("regex_tokens"),
          ceil(col("n_chars") / 4.0).cast("long").as("est_bpe_tokens"))
      }
    }),
    // Text-analysis extension: document fingerprinting (exact-dedup key).
    "fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          md5(col("text").cast("binary")).as("fp"),
          md5(lower(trim(col("text"))).cast("binary")).as("fp_normalized"))
        .orderBy("doc_id")
    }),
    // G4/G5: visual-chunk union (process_embedding.py:156-166) — text chunks
    // unioned with whole-description visual rows.
    "g4_union_visual" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val textChunks = docs.select(
        col("doc_id"),
        substring(col("text"), 1, 200).as("chunk_text"),
        lit(false).as("has_visual_content"))
      val visual = docs.filter(col("lang") === "zh").select(
        col("doc_id"),
        concat(lit("Visual Content: "), col("source")).as("chunk_text"),
        lit(true).as("has_visual_content"))
      textChunks.unionByName(visual).orderBy("doc_id", "has_visual_content")
    })
  )

  /** G1 oracle: the recursive chunker replayed in SQL. On this corpus
    * the separator ladder always lands on ' ' (no '\n\n'/'\n'/'. '
    * anywhere — asserted by tools/proto_g1.py), so pieces are words with
    * the separator attached to the following piece and the whole
    * algorithm is one greedy merge with tail-overlap carry. That merge
    * is a sequential recurrence, expressed here as a recursive CTE over
    * per-doc piece-length prefix sums S:
    *   - a chunk starting at piece `strt` covers pieces strt..j,
    *     j = count of prefix sums ≤ S[strt-1] + size (greedy max);
    *   - the next start is the smallest x with tail total ≤ overlap AND
    *     (total + next piece ≤ size OR total = 0) — the dequeue loop.
    * Chunk text is the contiguous substring between the piece offsets,
    * trimmed (the carried separator space is what trim removes).
    */
  /** The recursive CTE block, parameterized by an extra predicate on
    * `documents` so the same replay serves both the standalone G1 query
    * and the per-strategy branch of smart_pipeline_chunks.
    */
  private def g1Ctes(where: String): String =
    s"""WITH RECURSIVE base AS (
      |  SELECT doc_id, text FROM documents WHERE trim(text) <> '' AND ($where)
      |),
      |pieces AS (
      |  SELECT doc_id, text,
      |    [CASE WHEN i = 1 THEN length(parts[i]) ELSE length(parts[i]) + 1 END
      |     for i in range(1, len(parts) + 1)] AS L
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS parts FROM base WHERE length(text) > 200)
      |),
      |ps AS (
      |  SELECT doc_id, text, L, [CAST(list_sum(L[1:i]) AS BIGINT) for i in range(1, len(L) + 1)] AS S, len(L) AS n
      |  FROM pieces
      |),
      |rec AS (
      |  SELECT doc_id, text, L, S, n, 0 AS idx, 1 AS strt FROM ps
      |  UNION ALL
      |  SELECT doc_id, text, L, S, n, idx + 1,
      |    CAST(list_min([x for x in range(strt + 1, j + 2)
      |      if S[j] - S[x-1] <= 40 AND (S[j] - S[x-1] + L[j+1] <= 200 OR S[j] - S[x-1] = 0)]) AS INT)
      |  FROM (SELECT *, len(list_filter(S, v -> v <= (CASE WHEN strt = 1 THEN 0 ELSE S[strt-1] END) + 200)) AS j
      |        FROM rec) WHERE j < n
      |),
      |long_chunks AS (
      |  SELECT doc_id, idx AS chunk_index,
      |    trim(substr(text, CAST(sprev + 1 AS BIGINT), CAST(S[j] - sprev AS BIGINT))) AS chunk_text
      |  FROM (SELECT *, CASE WHEN strt = 1 THEN 0 ELSE S[strt-1] END AS sprev,
      |          len(list_filter(S, v -> v <= (CASE WHEN strt = 1 THEN 0 ELSE S[strt-1] END) + 200)) AS j
      |        FROM rec)
      |),
      |allc AS (
      |  SELECT doc_id, 0 AS chunk_index, trim(text) AS chunk_text FROM base WHERE length(text) <= 200
      |  UNION ALL SELECT * FROM long_chunks
      |)
      |""".stripMargin

  /** g2_structured_chunks oracle: the full SemanticChunker replay
    * over the constructed 4-section corpus — section rows from the
    * fixed line layout (offsets by length arithmetic), then the
    * greedy small-section merge and the paragraph packing as
    * recursive CTEs folding per-doc lists, with both greedy quirks
    * (merge keeps the LATEST path; packing checks size BEFORE add)
    * mirrored. Prototyped row-exact against a Python port of the
    * Scala chunker at sf0.001/0.01/0.1 (tools/proto_g2s.py).
    */
  private val g2StructuredSql: String =
    """WITH RECURSIVE
      |w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |),
      |parts AS (
      |  SELECT doc_id,
      |    coalesce(array_to_string(list_slice(ws, 1, 6), ' '), '')  AS a,
      |    coalesce(array_to_string(list_slice(ws, 7, 16), ' '), '') AS b,
      |    coalesce(array_to_string(list_slice(ws, 17, 28), ' '), '') AS c,
      |    coalesce(array_to_string(list_slice(ws, 29, 40), ' '), '') AS d,
      |    coalesce(array_to_string(list_slice(ws, 41, 100000), ' '), '') AS e
      |  FROM w
      |),
      |-- section rows: offsets from the fixed line layout (header lens:
      |-- '# Title <id>' = 8+len(id), '## Section One' = 14, '1.2. Numbered' = 13,
      |-- 'APPENDIX NOTES' = 14); each line contributes len+1, final end = pos
      |secs0 AS (
      |  SELECT doc_id,
      |    'Title ' || doc_id AS p1,
      |    8 + length(doc_id::VARCHAR) + 1 AS sa, a, b, c, d, e
      |  FROM parts
      |),
      |secs1 AS (
      |  SELECT doc_id,
      |    [
      |      struct_pack(path := p1, t := a,
      |                  s := sa::BIGINT, e := (sa + length(a) + 1)::BIGINT),
      |      struct_pack(path := p1 || ' > Section One',
      |                  t := CASE WHEN c = '' THEN b ELSE b || chr(10) || chr(10) || c END,
      |                  s := (sa + length(a) + 1 + 15)::BIGINT,
      |                  e := (sa + length(a) + 16 + length(b) + length(c) + 3)::BIGINT),
      |      struct_pack(path := p1 || ' > Section One > 1.2. Numbered', t := d,
      |                  s := (sa + length(a) + 16 + length(b) + length(c) + 3 + 14)::BIGINT,
      |                  e := (sa + length(a) + 16 + length(b) + length(c) + 17 + length(d) + 1)::BIGINT),
      |      struct_pack(path := 'Appendix Notes', t := e,
      |                  s := (sa + length(a) + 16 + length(b) + length(c) + 17 + length(d) + 16)::BIGINT,
      |                  e := (sa + length(a) + 16 + length(b) + length(c) + 17 + length(d) + 16 + length(e) + 1)::BIGINT)
      |    ] AS raw
      |  FROM secs0
      |),
      |secs AS (
      |  SELECT doc_id, s.path AS path, s.t AS t, s.s AS s, s.e AS e,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) AS si,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS k
      |  FROM (
      |    SELECT doc_id, unnest(raw) AS s, generate_subscripts(raw, 1) AS ord
      |    FROM secs1
      |  ) WHERE s.t <> ''
      |),
      |-- greedy small-section merge: fold left, emit when acc >= target
      |m AS (
      |  SELECT doc_id, 1::BIGINT AS i, k, path AS apath, t AS atext,
      |         s AS astart, e AS aend,
      |         []::STRUCT(path VARCHAR, t VARCHAR, s BIGINT, e BIGINT)[] AS done
      |  FROM secs WHERE si = 1
      |  UNION ALL
      |  SELECT m.doc_id, m.i + 1, m.k,
      |    s.path,
      |    CASE WHEN length(m.atext) < 60
      |         THEN m.atext || chr(10) || chr(10) || s.t ELSE s.t END,
      |    CASE WHEN length(m.atext) < 60 THEN m.astart ELSE s.s END,
      |    s.e,
      |    CASE WHEN length(m.atext) < 60 THEN m.done
      |         ELSE list_append(m.done,
      |                struct_pack(path := m.apath, t := m.atext,
      |                            s := m.astart, e := m.aend)) END
      |  FROM m JOIN secs s ON s.doc_id = m.doc_id AND s.si = m.i + 1
      |),
      |merged AS (
      |  SELECT doc_id, ord AS mi, s.path AS path, s.t AS mtext,
      |         s.s AS mstart, s.e AS mend
      |  FROM (
      |    SELECT doc_id, unnest(fin) AS s, generate_subscripts(fin, 1) AS ord
      |    FROM (
      |      SELECT doc_id,
      |        list_append(done, struct_pack(path := apath, t := atext,
      |                                      s := astart, e := aend)) AS fin
      |      FROM m WHERE i = k
      |    )
      |  )
      |),
      |-- packing: sections at/below target pass through; larger ones pack
      |-- paragraphs greedily with the size-check-BEFORE-add quirk
      |small AS (
      |  SELECT doc_id, mi, 1::BIGINT AS ci, mtext AS ctext, path,
      |         mstart AS cs, mend AS ce
      |  FROM merged WHERE length(mtext) <= 60
      |),
      |paras AS (
      |  SELECT doc_id, mi, path, mstart, mend, para, ord AS pi,
      |         COUNT(*) OVER (PARTITION BY doc_id, mi) AS np
      |  FROM (
      |    SELECT doc_id, mi, path, mstart, mend,
      |      unnest(string_split(mtext, chr(10) || chr(10))) AS para,
      |      generate_subscripts(string_split(mtext, chr(10) || chr(10)), 1) AS ord
      |    FROM merged WHERE length(mtext) > 60
      |  )
      |),
      |p AS (
      |  SELECT doc_id, mi, path, mend, 1::BIGINT AS pi, np,
      |         para AS cur, mstart AS curstart,
      |         []::STRUCT(t VARCHAR, s BIGINT, e BIGINT)[] AS done
      |  FROM paras WHERE pi = 1
      |  UNION ALL
      |  SELECT p.doc_id, p.mi, p.path, p.mend, p.pi + 1, p.np,
      |    CASE WHEN length(p.cur) >= 60 THEN q.para
      |         ELSE p.cur || chr(10) || chr(10) || q.para END,
      |    CASE WHEN length(p.cur) >= 60
      |         THEN p.curstart + length(p.cur) ELSE p.curstart END,
      |    CASE WHEN length(p.cur) >= 60
      |         THEN list_append(p.done, struct_pack(t := p.cur, s := p.curstart,
      |                e := p.curstart + length(p.cur)))
      |         ELSE p.done END
      |  FROM p JOIN paras q
      |    ON q.doc_id = p.doc_id AND q.mi = p.mi AND q.pi = p.pi + 1
      |),
      |packed AS (
      |  SELECT doc_id, mi, ord AS ci, s.t AS ctext, path, s.s AS cs, s.e AS ce
      |  FROM (
      |    SELECT doc_id, mi, path, unnest(fin) AS s, generate_subscripts(fin, 1) AS ord
      |    FROM (
      |      SELECT doc_id, mi, path,
      |        list_append(done, struct_pack(t := cur, s := curstart, e := mend)) AS fin
      |      FROM p WHERE pi = np
      |    )
      |  )
      |),
      |allc AS (
      |  SELECT * FROM small UNION ALL SELECT * FROM packed
      |)
      |SELECT doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY mi, ci) - 1 AS BIGINT)
      |    AS chunk_index,
      |  ctext AS chunk_text, path AS section_path,
      |  CAST(cs AS BIGINT) AS start_char, CAST(ce AS BIGINT) AS end_char
      |FROM allc
      |ORDER BY doc_id, chunk_index""".stripMargin

  private val g1Sql =
    g1Ctes("TRUE") +
      "SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index, chunk_text, " +
      "CAST(length(chunk_text) AS BIGINT) AS character_count " +
      "FROM allc WHERE chunk_text <> '' ORDER BY doc_id, chunk_index"

  /** smart_pipeline_chunks oracle: the G1 recursive replay restricted to
    * 'text'-strategy docs, unioned with the per-strategy closed forms
    * (G2 = one trimmed chunk, G3 = 32-word windows, visual = one
    * vision row — no blank filter, matching the Spark branch).
    */
  private val smartSql =
    g1Ctes("lang NOT IN ('zh','ar','de','fr','es')") +
      s", ${g3Ctes("lang = 'zh'")} " +
      "SELECT doc_id, 'text' AS strategy, CAST(chunk_index AS BIGINT) AS chunk_index, chunk_text " +
      "FROM allc WHERE chunk_text <> '' " +
      "UNION ALL SELECT doc_id, 'article', CAST(0 AS BIGINT), trim(text) " +
      "FROM documents WHERE lang IN ('de','fr','es') AND trim(text) <> '' " +
      "UNION ALL SELECT doc_id, 'structured', CAST(nci AS BIGINT), " +
      "string_agg(wtext, chr(10) || chr(10) ORDER BY ci) " +
      "FROM g3fin GROUP BY doc_id, nci " +
      "UNION ALL SELECT doc_id, 'visual', CAST(0 AS BIGINT), 'Visual Content: ' || source " +
      "FROM documents WHERE lang = 'ar' " +
      "ORDER BY doc_id, chunk_index"

  /** G3 oracle CTE chain — the DuckDB replay of
    * [[graft.text.HybridChunker]] at budget 32 with the BPE-ish
    * ceil(len/4) word weights, parameterized by a `documents`
    * predicate so the same replay serves the standalone query and the
    * structured branch of smart_pipeline_chunks. Prototyped row-exact
    * against a Python port on all three scales (tools/proto_g3.py).
    *
    * Stages mirror the Scala exactly: per-word weight → prefix-sum
    * cumBefore → window floor(cum/32) → per-window text/weight →
    * final-pair merge. The merge stage replays ONLY the final pair:
    * on a single-paragraph corpus (no "\n\n" — true here) with words
    * ≤ 61 chars (max is 8), every non-final window weighs ≥ 32-2+1 =
    * 31, so greedy merge_peers provably cannot combine anything except
    * the last two windows when they fit the budget — which this corpus
    * does exercise (21 docs at sf0.1).
    */
  private def g3Ctes(where: String): String =
    s"g3p AS (SELECT doc_id, ${graft.functions.TextSql.tokens("text")} AS toks " +
      s"FROM documents WHERE ($where) AND trim(text) <> ''), " +
      "g3tk AS (SELECT doc_id, CAST(g.i AS BIGINT) AS i, toks[g.i+1] AS tok, " +
      "CAST((length(toks[g.i+1]) + 3) // 4 AS BIGINT) AS w " +
      "FROM g3p, unnest(range(len(g3p.toks))) AS g(i)), " +
      "g3cb AS (SELECT doc_id, i, tok, w, coalesce(sum(w) OVER (PARTITION BY doc_id " +
      "ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM g3tk), " +
      "g3win AS (SELECT doc_id, cum // 32 AS wno, string_agg(tok, ' ' ORDER BY i) AS wtext, " +
      "CAST(sum(w) AS BIGINT) AS ww FROM g3cb GROUP BY doc_id, cum // 32), " +
      "g3idx AS (SELECT doc_id, wno, wtext, ww, " +
      "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wno) AS BIGINT) - 1 AS ci, " +
      "count(*) OVER (PARTITION BY doc_id) AS n, " +
      "lag(ww) OVER (PARTITION BY doc_id ORDER BY wno) AS prev_w FROM g3win), " +
      "g3fin AS (SELECT doc_id, ci, CASE WHEN ci = n - 1 AND n >= 2 AND ww + prev_w <= 32 " +
      "THEN ci - 1 ELSE ci END AS nci, wtext FROM g3idx)"

  private val g3Sql =
    s"WITH ${g3Ctes("TRUE")} " +
      "SELECT doc_id, CAST(nci AS BIGINT) AS chunk_index, " +
      "string_agg(wtext, chr(10) || chr(10) ORDER BY ci) AS chunk_text, " +
      "'Document' AS section_path, CAST(0 AS BIGINT) AS start_char, " +
      "CAST(length(string_agg(wtext, chr(10) || chr(10) ORDER BY ci)) AS BIGINT) AS end_char " +
      "FROM g3fin GROUP BY doc_id, nci " +
      "ORDER BY doc_id, chunk_index"

  val oracles: Map[String, String] = Map(
    "g1_recursive_chunks" -> g1Sql,
    "g3_hybrid_chunks" -> g3Sql,
    "smart_pipeline_chunks" -> smartSql,
    // Valid because the corpus is structure-free (no headers/paragraph
    // breaks): the semantic chunker provably emits one chunk per doc,
    // end = len(text)+1 (the reference counts a phantom trailing newline
    // in current_pos — chunking_service.py:283).
    "g2_semantic_chunks" ->
      ("SELECT doc_id, CAST(0 AS BIGINT) AS chunk_index, trim(text) AS chunk_text, " +
        "'Document' AS section_path, CAST(0 AS BIGINT) AS start_char, " +
        "CAST(length(text) + 1 AS BIGINT) AS end_char " +
        "FROM documents WHERE trim(text) <> '' ORDER BY doc_id"),
    "g2_structured_chunks" -> g2StructuredSql,
    "chunk_fixed" ->
      ("SELECT d.doc_id, s.start // 160 AS chunk_index, " +
        "substr(d.text, s.start + 1, 200) AS chunk_text, " +
        "length(substr(d.text, s.start + 1, 200)) AS character_count " +
        chunkSqlBody + " ORDER BY doc_id, chunk_index"),
    "chunk_point_ids" ->
      ("SELECT d.doc_id, s.start // 160 AS chunk_index, " +
        "md5(d.doc_id::VARCHAR || ':' || (s.start // 160)::VARCHAR) AS point_id " +
        chunkSqlBody + " ORDER BY doc_id, chunk_index"),
    "s4_charset_decode" ->
      "SELECT doc_id, text AS decoded, 'utf-8' AS encoding FROM documents ORDER BY doc_id",
    "v5_resort" ->
      ("SELECT event_id, user_id, CAST(row_number() OVER " +
        "(PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS value_rank " +
        "FROM events ORDER BY event_id"),
    "p16_char_count" ->
      "SELECT doc_id, length(text) AS character_count FROM documents ORDER BY doc_id",
    "p15_truncate" ->
      ("SELECT doc_id, substr(text, 1, 100) AS text_trunc, " +
        "length(substr(text, 1, 100)) AS trunc_len FROM documents ORDER BY doc_id"),
    "p11_embed_concat" ->
      ("SELECT doc_id, 'Context for ' || source || ':' AS context_prefix, " +
        "'Context for ' || source || ':' || chr(10) || chr(10) || substr(text, 1, 120) AS embedded_text " +
        "FROM documents ORDER BY doc_id"),
    "p4_lang_flags" ->
      ("SELECT doc_id, lang, concat_ws(',', " +
        "CASE WHEN regexp_matches(text, '[\\x{0600}-\\x{06FF}]') THEN 'ar' END, " +
        "CASE WHEN regexp_matches(text, '[A-Za-z]') THEN 'en' END, " +
        "CASE WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh' END) AS detected_languages " +
        "FROM documents ORDER BY doc_id"),
    "p4_lang_prob" -> {
      // mirror built from the SAME profile constant so the two engines
      // can never drift on the word lists
      val profs = TextOps.StopwordProfiles
      val hitsSql = profs.map { case (l, ws) =>
        s"len(list_intersect(toks, [${ws.map(w => s"'$w'").mkString(",")}])) AS h_$l"
      }.mkString(", ")
      val hcols = profs.map { case (l, _) => s"h_$l" }
      val total = hcols.mkString(" + ")
      val mx = s"greatest(${hcols.mkString(", ")})"
      val topLang = "CASE WHEN total = 0 THEN 'unknown' " +
        profs.map { case (l, _) => s"WHEN h_$l = mx THEN '$l' " }.mkString + "END"
      val appended = profs.collect { case (l, _) if l != "en" =>
        // CAST AS DOUBLE (not * 1.0): DuckDB's literal 1.0 is DECIMAL,
        // and decimal division diverges from Spark's double at the 6th
        // decimal on fractional probabilities
        s"CASE WHEN total > 0 AND CAST(h_$l AS DOUBLE) / total > 0.3 THEN '$l' END"
      }.mkString(", ")
      val baseCsv = "concat_ws(',', " +
        "CASE WHEN regexp_matches(text, '[\\x{0600}-\\x{06FF}]') THEN 'ar' END, " +
        "CASE WHEN regexp_matches(text, '[A-Za-z]') THEN 'en' END, " +
        "CASE WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh' END)"
      "SELECT doc_id, CASE WHEN full0 = '' THEN 'unknown' ELSE full0 END AS detected_languages, " +
        "top_lang, top_prob FROM (" +
        "SELECT doc_id, concat_ws(',', CASE WHEN base = '' THEN NULL ELSE base END, " +
        s"$appended) AS full0, " +
        s"$topLang AS top_lang, " +
        "CASE WHEN total = 0 THEN 0.0 ELSE round(CAST(mx AS DOUBLE) / total, 6) END AS top_prob FROM (" +
        s"SELECT doc_id, text, $baseCsv AS base, $total AS total, $mx AS mx, " +
        hcols.mkString(", ") + " FROM (" +
        s"SELECT doc_id, text, $hitsSql FROM (" +
        s"SELECT doc_id, text, list_distinct(${graft.functions.TextSql.tokens("text")}) AS toks " +
        "FROM documents)))) ORDER BY doc_id"
    },
    "p1_strategy_classify" ->
      ("SELECT doc_id, " +
        "CASE WHEN lang = 'zh' THEN 'structured' WHEN lang = 'ar' THEN 'visual' " +
        "WHEN lang IN ('de','fr','es') THEN 'article' ELSE 'text' END AS strategy, " +
        "CASE WHEN lang = 'zh' THEN 800 WHEN lang = 'ar' THEN 1200 ELSE 1000 END AS suggested_chunk_size, " +
        "(n_chars > 400 OR lang = 'zh') AS needs_smart FROM documents ORDER BY doc_id"),
    "p9_visual_tagger" ->
      ("SELECT doc_id, coalesce(nullif(concat_ws(',', " +
        "CASE WHEN contains(lower(text), 'table') THEN 'table' END, " +
        "CASE WHEN contains(lower(text), 'window') THEN 'diagram' END, " +
        "CASE WHEN contains(lower(text), 'stream') THEN 'flow' END, " +
        "CASE WHEN contains(lower(text), 'vector') THEN 'chart' END), ''), 'image') AS visual_elements " +
        "FROM documents ORDER BY doc_id"),
    "quality_score" ->
      ("SELECT doc_id, word_count, " +
        "round(CAST(stop_cnt AS DOUBLE) / word_count, 6) AS stop_ratio, " +
        "round(CAST(char_total AS DOUBLE) / word_count, 6) AS avg_word_len, " +
        "(word_count >= 10 AND CAST(stop_cnt AS DOUBLE) / word_count <= 0.5) AS quality_ok " +
        "FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS word_count, " +
        s"CAST(len(list_filter(toks, t -> t IN ${graft.functions.TextSql.StopwordsSql})) AS BIGINT) AS stop_cnt, " +
        "CAST(length(array_to_string(toks, '')) AS BIGINT) AS char_total " +
        s"FROM (SELECT doc_id, ${graft.functions.TextSql.tokens("text")} AS toks FROM documents)) " +
        "ORDER BY doc_id"),
    "token_count" ->
      ("SELECT doc_id, " +
        s"CAST(len(${graft.functions.TextSql.tokens("text")}) AS BIGINT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS regex_tokens, " +
        "CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens FROM documents ORDER BY doc_id"),
    "fingerprint" ->
      ("SELECT doc_id, md5(text) AS fp, md5(lower(trim(text))) AS fp_normalized " +
        "FROM documents ORDER BY doc_id"),
    "g4_union_visual" ->
      ("SELECT * FROM (" +
        "SELECT doc_id, substr(text, 1, 200) AS chunk_text, false AS has_visual_content FROM documents " +
        "UNION ALL " +
        "SELECT doc_id, 'Visual Content: ' || source AS chunk_text, true AS has_visual_content " +
        "FROM documents WHERE lang = 'zh') ORDER BY doc_id, has_visual_content")
  )
}
