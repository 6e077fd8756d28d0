package graft.operators

import graft.Tables
import graft.multimodal.MultimodalOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column query surface: `documents.text` cast to binary
  * stands in for media payloads (the container has no codecs —
  * SURVEY.md north star / graft.multimodal). Everything here is native
  * expressions over the blob, mirrored in DuckDB over `encode(text)`.
  */
object MultimodalQueries {
  type Q = (SparkSession, String) => DataFrame

  private def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))

  import graft.sources.ImageCodec

  /** Real-codec resize stage: doc-derived gradient PNG → decode raster →
    * nearest-neighbor resize (longest side → 16) → re-encode → decode.
    * Emits resized dims plus the top-left and bottom-right pixels of the
    * FINAL decoded raster, so the oracle (which replays the NN source
    * mapping arithmetically) catches any deviation in the pixel path,
    * not just the geometry. Per-row map work, no shuffle — the shape a
    * thumbnailing pass over 100 TB of images needs.
    */
  val resizeRoundtripUdf = udf { (docId: Long, nChars: Long) =>
    val w = 8 + (docId % 16).toInt
    val h = 8 + (nChars % 16).toInt
    val g = (docId % 256).toInt
    val m = math.max(w, h)
    val rw = math.max(1, w * 16 / m)
    val rh = math.max(1, h * 16 / m)
    ImageCodec.decodeImage(ImageCodec.writeGradientPng(w, h, g)) match {
      case Some(src) =>
        val resized = ImageCodec.resizeNearest(src, rw, rh)
        ImageCodec.decodeImage(ImageCodec.encodePng(resized)) match {
          case Some(back) =>
            ("png", w.toLong, h.toLong, back.getWidth.toLong, back.getHeight.toLong,
              (back.getRGB(0, 0) & 0xff).toLong,
              (back.getRGB(back.getWidth - 1, back.getHeight - 1) & 0xff).toLong)
          case None => ("unknown", -1L, -1L, -1L, -1L, -1L, -1L)
        }
      case None => ("unknown", -1L, -1L, -1L, -1L, -1L, -1L)
    }
  }

  /** Real-codec feature extraction: decode the gradient PNG raster and
    * reduce it to an 8-bucket gray histogram + mean gray — the
    * embedding-ish per-image feature vector a curation pass computes
    * before any model sees the pixels. All per-row compute.
    */
  val grayHistUdf = udf { (docId: Long, nChars: Long) =>
    val w = 8 + (docId % 16).toInt
    val h = 8 + (nChars % 16).toInt
    val g = (docId % 256).toInt
    ImageCodec.decodeImage(ImageCodec.writeGradientPng(w, h, g)) match {
      case Some(img) =>
        val hist = new Array[Long](8)
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val gr = img.getRGB(x, y) & 0xff
            hist(gr / 32) += 1
            sum += gr
            x += 1
          }
          y += 1
        }
        val n = img.getWidth.toLong * img.getHeight
        (n, sum.toDouble / n, hist.toSeq)
      case None => (-1L, -1.0, Seq.fill(8)(0L))
    }
  }

  /** Perceptual average-hash (aHash) over the REAL codec path: decode
    * the doc-derived gradient PNG, NN-resize to the canonical 8×8
    * thumbnail, threshold every pixel against the 64-pixel SUM
    * (64·p > Σp — the mean comparison in exact integers, no float),
    * and pack the 64 bits row-major into four 16-bit band values. Bands
    * instead of one 64-bit word keep every value unsigned-exact in a
    * BIGINT in both engines AND double as the pigeonhole blocking key
    * for the pair query (hamming ≤ 8 over 4 bands forces ≥ 1 exact band
    * match — same argument as dedup_simhash_pairs). Per-row map work.
    */
  val phashUdf = udf { (docId: Long, nChars: Long) =>
    val w = 8 + (docId % 16).toInt
    val h = 8 + (nChars % 16).toInt
    val g = (docId % 256).toInt
    ImageCodec.decodeImage(ImageCodec.writeGradientPng(w, h, g)) match {
      case Some(src) =>
        val img = ImageCodec.resizeNearest(src, 8, 8)
        val px = Array.tabulate(64)(i => img.getRGB(i % 8, i / 8) & 0xff)
        val sum = px.map(_.toLong).sum
        val bands = Array.tabulate(4) { j =>
          var v = 0L
          var k = 0
          while (k < 16) { if (64L * px(16 * j + k) > sum) v |= 1L << k; k += 1 }
          v
        }
        (bands(0), bands(1), bands(2), bands(3))
      case None => (-1L, -1L, -1L, -1L)
    }
  }

  import graft.sources.AudioCodec

  /** Per-doc deterministic waveform parameters (the audio analog of the
    * gradient-PNG fixture): `pad` leading + `trail` trailing silence
    * around an integer sawtooth of period `p`, amplitude `a` — every
    * sample an exact integer, so features over the DECODED signal
    * replay arithmetically in DuckDB while the bytes ride the real
    * RIFF/PCM16 codec.
    */
  private def audioParams(docId: Long, nChars: Long): (Int, Int, Int, Int, Int) = {
    // floorMod, not %: TextExtraction mints doc_id = xxhash64(source),
    // negative for ~half of real sources, and a negative remainder here
    // fed sawtooth p <= 1 (require) or a negative pad (AIOOBE) — either
    // escaping the UDF and aborting the job (review finding r15). The
    // oracle mirrors with ((x % m) + m) % m; corpus doc_ids are nonneg,
    // so oracle outputs are unchanged.
    def m(x: Long, k: Long) = java.lang.Math.floorMod(x, k)
    ((400 + m(nChars, 256)).toInt, (16 + m(docId, 32)).toInt,
      (4000 + m(docId, 1000)).toInt, m(docId, 50).toInt, m(nChars, 30).toInt)
  }

  private val AudioRate = 8000

  /** WAV write → parse roundtrip, header metadata from the PARSED form. */
  val audioMetaUdf = udf { (docId: Long, nChars: Long) =>
    val (n, p, a, pad, trail) = audioParams(docId, nChars)
    val wav = AudioCodec.writeWav(AudioCodec.sawtooth(n, p, a, pad, trail), AudioRate)
    AudioCodec.decodeWav(wav) match {
      case Some((sr, samples)) =>
        (sr.toLong, samples.length.toLong, wav.length.toLong,
          samples.length.toLong * 1000000L / sr)
      case None => (-1L, -1L, -1L, -1L)
    }
  }

  /** The decoded sample stream (roundtripped through the real codec) —
    * exploded downstream so framing/feature aggregation is genuine
    * Spark, not hidden inside the kernel.
    */
  val audioSamplesUdf = udf { (docId: Long, nChars: Long) =>
    val (n, p, a, pad, trail) = audioParams(docId, nChars)
    val wav = AudioCodec.writeWav(AudioCodec.sawtooth(n, p, a, pad, trail), AudioRate)
    val samples = AudioCodec.decodeWav(wav).map(_._2).getOrElse(Array.empty[Short])
    // guard INSIDE the decode (not a plan-level when/raise_error, which
    // projection collapse could evaluate the decode twice for) — see
    // MaxAudioSamplesPerDoc for why over-cap documents must refuse here
    require(samples.length <= MaxAudioSamplesPerDoc,
      s"audio_samples: doc $docId decodes to ${samples.length} samples " +
        s"(> $MaxAudioSamplesPerDoc) — the per-doc sequential window would " +
        "serialize it through one task; use a chunked interpolation form")
    samples.toSeq.map(_.toInt)
  }

  /** Per-doc sample ceiling for the audio family (VERDICT r16 watch
    * item): the lag/lead windows downstream (`audio_resample`, the
    * zero-crossing lag) are `Window.partitionBy(doc_id).orderBy(i)` —
    * inherently ONE task per document, which is the right plan while a
    * document is minutes of audio but a silent scale-killer if a
    * 2-hour 16 kHz track (~115 M samples) ever lands in the table.
    * 2²⁴ ≈ 16.8 M samples (~17 min at 16 kHz) is an order above this
    * corpus and still a sane single-task slice; past it the operator
    * refuses loudly AT THE DECODE instead of quietly serializing hours
    * of signal through one core — the fix then is the chunked
    * interpolation form (fixed sample blocks + a one-row boundary
    * exchange for each block's lead value), not a bigger cap.
    */
  private val MaxAudioSamplesPerDoc = 1 << 24

  /** (doc_id, a: array<int>) — the decoded sample stream as ONE array
    * row per document (r19 optimization round). The old form exploded
    * every sample into its own row and then re-grouped/windowed by
    * doc_id, which shuffled and sorted millions of 12-byte rows to
    * compute per-doc sequential features the array already has in
    * order. Every audio feature below is now computed per-doc with
    * array expressions (zero data-sized exchanges; guide §2.4), and
    * only frame-level rows (~samples/80) are ever exploded. Codec
    * failure yields an empty array → the doc is filtered → NO rows,
    * same as the old exploded form; the row-count side of the oracle
    * gate flags it loudly either way. Widened first: decode is the
    * CPU-heavy kernel and the scan is one effective split locally.
    */
  private def audioArr(s: SparkSession, d: String): DataFrame =
    Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), audioSamplesUdf(col("doc_id"), col("n_chars")).as("a"))
      .filter(size(col("a")) > 0)

  /** Fixed-width framing of an integer array column as a SQL expression:
    * one struct per frame f = (frame_no, n, energy = Σ v², peak =
    * max |v|), frames of `w` samples, last frame partial. Exact integer
    * arithmetic throughout (v ≤ 5000 ⇒ Σ v² over a frame < 2³²  — the
    * fold accumulates in BIGINT regardless). greatest-fold over |v| is
    * seeded 0, valid because |v| ≥ 0 (the non-negative-fold rule the
    * oracle discipline pins).
    */
  private def framesExpr(arr: String, w: Int): String =
    s"transform(sequence(CAST(0 AS BIGINT), CAST((size($arr) - 1) div $w AS BIGINT)), " +
      s"f -> named_struct(" +
      s"'frame_no', f, " +
      s"'n', CAST(least($w, size($arr) - f * $w) AS BIGINT), " +
      s"'energy', aggregate(slice($arr, CAST(f * $w + 1 AS INT), $w), CAST(0 AS BIGINT), " +
      s"(acc, x) -> acc + CAST(x AS BIGINT) * CAST(x AS BIGINT)), " +
      s"'peak', CAST(array_max(transform(slice($arr, CAST(f * $w + 1 AS INT), $w), " +
      s"x -> abs(x))) AS BIGINT)))"

  /** Per-frame decoded gray sums of the doc's synthetic "video": F
    * frames, gray level constant within a shot and jumping at the
    * planted cut frames — each DISTINCT frame content rides the REAL
    * PNG encode→decode path, so the scene-cut numbers prove the codec,
    * not just the fixture arithmetic.
    *
    * Decode is memoized per JVM, keyed by the frame's content (here
    * fully determined by the base gray level): content-addressed
    * decode caching is the standard media-pipeline move — at 100 TB
    * the blob store dedups identical frames/thumbnails by content
    * hash and decodes each distinct blob once, not once per
    * occurrence. ImageIO's per-call SPI + stream setup costs
    * milliseconds, so the uncached form spent ~9 s of the sf0.1 bench
    * re-decoding ≤256 distinct 8×8 images tens of thousands of times.
    */
  private val frameRasterCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()

  /** The decoded 8×8 raster for a frame of base gray `g` (row-major,
    * a(y·8+x)), decoded ONCE per distinct content per JVM — the single
    * cache behind the scene-cut sums AND the clip-frame dedup features,
    * so composing the two never re-runs a decode (`clip_frame_dedup`'s
    * no-re-pass contract). Empty array on decode failure (sentinel).
    */
  private def decodedRaster(g: Int): Array[Int] =
    frameRasterCache.computeIfAbsent(g, (k: Int) =>
      ImageCodec.decodeImage(ImageCodec.writeGradientPng(8, 8, k)) match {
        case Some(img) =>
          val a = new Array[Int](64)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) { a(y * 8 + x) = img.getRGB(x, y) & 0xff; x += 1 }
            y += 1
          }
          a
        case None => Array.empty[Int]
      })

  private def decodedGraySum(g: Int): Long = {
    val r = decodedRaster(g)
    if (r.isEmpty) -1L else { var s = 0L; var i = 0; while (i < 64) { s += r(i); i += 1 }; s }
  }

  /** Per-frame decoded-content features: (sum_gray, aHash band 0..3) —
    * the same 16-bit-band aHash as `mm_phash`, computed from the cached
    * raster. The 5-tuple is the frame's CONTENT FINGERPRINT: the aHash
    * alone is brightness-invariant by construction (a shifted gradient
    * thresholds identically), so exact-dup clustering additionally keys
    * on the sum — fingerprint semantics, like every content hash here.
    */
  private def decodedFrameFeatures(g: Int): (Long, Long, Long, Long, Long) = {
    val r = decodedRaster(g)
    if (r.isEmpty) (-1L, -1L, -1L, -1L, -1L)
    else {
      var s = 0L; var i = 0
      while (i < 64) { s += r(i); i += 1 }
      val b = new Array[Long](4)
      i = 0
      while (i < 64) {
        if (64L * r(i) > s) b(i / 16) |= 1L << (i % 16)
        i += 1
      }
      (s, b(0), b(1), b(2), b(3))
    }
  }

  val videoFrameSumsUdf = udf { (docId: Long, nChars: Long) =>
    val frames = (6 + docId % 4).toInt
    val c1 = (2 + docId % 3).toInt
    val c2 = (5 + nChars % 2).toInt
    (0 until frames).map { f =>
      val shot = (if (f >= c1) 1 else 0) + (if (c2 < frames && f >= c2) 1 else 0)
      val g = ((docId * 37 + shot * 83) % 256).toInt
      decodedGraySum(g)
    }
  }

  /** Per-frame (sum_gray, b0..b3) for the whole video — the feature
    * form of [[videoFrameSumsUdf]], riding the same per-content raster
    * cache (one decode per distinct frame content serves both).
    */
  val videoFrameFeaturesUdf = udf { (docId: Long, nChars: Long) =>
    val frames = (6 + docId % 4).toInt
    val c1 = (2 + docId % 3).toInt
    val c2 = (5 + nChars % 2).toInt
    (0 until frames).map { f =>
      val shot = (if (f >= c1) 1 else 0) + (if (c2 < frames && f >= c2) 1 else 0)
      val g = ((docId * 37 + shot * 83) % 256).toInt
      decodedFrameFeatures(g)
    }
  }

  /** Shot-boundary (scene cut) detection — the video segmentation pass a
    * video-training pipeline runs before sampling clips: a cut is a jump
    * in consecutive frames' decoded feature (here the exact gray sum;
    * within a shot consecutive frames are identical, so any nonzero
    * delta is a boundary). One lag window per video over the per-frame
    * relation; all per-frame decode is map-side. Shared by
    * `video_scene_cuts` and `video_clip_sample`.
    */
  private def videoFrameCuts(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(videoFrameSumsUdf(col("doc_id"), col("n_chars")))
          .as(Seq("frame_idx", "sum_gray")))
      .withColumn("prev", lag(col("sum_gray"), 1).over(w))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("sum_gray"),
        coalesce(abs(col("sum_gray") - col("prev")), lit(0L)).cast("long").as("diff"),
        coalesce(abs(col("sum_gray") - col("prev")) > 0, lit(false)).as("cut"))
  }

  /** Shot segmentation + K=2 midpoint-uniform sampling over ANY
    * per-frame relation carrying (doc_id, frame_idx, cut) — shot ids
    * are the running sum of cut flags, per-shot rank/length are
    * windows on the (doc, shot) key, and sampling keeps offsets
    * ⌊len·(2j+1)/(2K)⌋ (exact integer arithmetic; a 1-frame shot
    * samples its only frame once). ONE definition behind
    * `video_clip_sample` and `clip_frame_dedup` (review finding r14:
    * the chain was duplicated, so a change to the cut rule or the
    * sampling offsets had to land twice). Extra columns pass through.
    */
  private def shotSampled(frames: DataFrame): DataFrame = {
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wShot = Window.partitionBy(col("doc_id"), col("shot_id"))
    val wShotSeq = wShot.orderBy(col("frame_idx"))
    frames
      .withColumn("shot_id", sum(when(col("cut"), 1L).otherwise(0L)).over(wRun))
      .withColumn("pos", row_number().over(wShotSeq).cast("long") - 1L)
      .withColumn("shot_len", count(lit(1)).over(wShot).cast("long"))
      .filter(col("pos") === expr("shot_len div 4") ||
        col("pos") === expr("(3 * shot_len) div 4"))
  }

  val queries: Map[String, Q] = Map(
    "video_scene_cuts" -> ((s, d) =>
      videoFrameCuts(s, d).orderBy("doc_id", "frame_idx")),
    // Clip sampling — the training step AFTER shot detection (VERDICT
    // r11 #7 closes the video arc): K=2 frames per detected shot,
    // midpoint-uniform within the shot (offset ⌊len·(2j+1)/(2K)⌋,
    // exact integer arithmetic, so a 1-frame shot samples its only
    // frame once). Runs off the SAME per-frame relation as the cut
    // detector — shot ids are a running sum of cut flags, and the
    // per-shot rank/length are windows on the (doc, shot) key, so no
    // second decode pass happens (the frame decode is the memoized
    // content-addressed path) and no join-back is needed: sampling is
    // a filter, not an explode.
    "video_clip_sample" -> ((s, d) => {
      shotSampled(videoFrameCuts(s, d))
        .select(col("doc_id"), col("shot_id"), col("frame_idx"),
          col("sum_gray"), col("shot_len"))
        .orderBy("doc_id", "frame_idx")
    }),
    // Clip-frame dedup (VERDICT r12 ask #7 / r13 #4 — the bridge that
    // proves the multimodal and dedup families COMPOSE): the sampled
    // clip frames of `video_clip_sample`, each carrying its decoded-
    // content fingerprint (sum + aHash bands, one REAL decode per
    // distinct content via the shared raster cache — no decode re-pass
    // anywhere in the lineage), canonicalized SemDeDup-style: frames
    // cluster by exact fingerprint, the keeper is the lowest
    // (doc, frame) id, and every frame is labeled with its keeper and
    // cluster size. Skew-safe by shape: the cluster stats are a
    // partial-aggregating groupBy (a hot content key — intro cards,
    // black frames — combines map-side), and the label join's group
    // side is #distinct-contents rows (AQE broadcasts it); no window
    // over the content key, no all-pairs anywhere. A df-capped banded
    // pair rule was deliberately NOT used here: band rarity is not
    // SF-stable for near-constant synthetic content (df ≈ corpus/256
    // crosses any fixed cap as the corpus grows), while exact-
    // fingerprint clustering is the same relation at every scale.
    "clip_frame_dedup" -> ((s, d) => {
      val wLag = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      val fpCols = Seq("sum_gray", "b0", "b1", "b2", "b3")
      val frames = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(videoFrameFeaturesUdf(col("doc_id"), col("n_chars")))
            .as(Seq("frame_idx", "ft")))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("ft._1").as("sum_gray"), col("ft._2").as("b0"), col("ft._3").as("b1"),
          col("ft._4").as("b2"), col("ft._5").as("b3"))
        .withColumn("prev", lag(col("sum_gray"), 1).over(wLag))
        .withColumn("cut", coalesce(abs(col("sum_gray") - col("prev")) > 0, lit(false)))
      val sampled = shotSampled(frames)
        .withColumn("fid", col("doc_id") * 16 + col("frame_idx"))
        .select(Seq(col("doc_id"), col("shot_id"), col("frame_idx"), col("fid")) ++
          fpCols.map(col): _*)
        .localCheckpoint() // the cluster agg AND the label join read this
      val clusters = sampled.groupBy(fpCols.map(col): _*)
        .agg(min(col("fid")).as("keeper_fid"), count(lit(1)).as("n_copies"))
      sampled.join(clusters, fpCols)
        .select(col("doc_id"), col("shot_id"), col("frame_idx"),
          expr("keeper_fid div 16").as("keeper_doc"),
          pmod(col("keeper_fid"), lit(16)).cast("long").as("keeper_frame"),
          col("n_copies"),
          (col("fid") === col("keeper_fid")).as("is_canonical"))
        .orderBy("doc_id", "frame_idx")
    }),
    // Audio metadata through the real RIFF/PCM16 roundtrip: rate,
    // sample count, byte size, integer duration — the header columns
    // an audio table carries. Per-row map work, no shuffle.
    "audio_meta" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), audioMetaUdf(col("doc_id"), col("n_chars")).as("m"))
        .select(col("doc_id"), col("m._1").as("sample_rate"),
          col("m._2").as("n_samples"), col("m._3").as("n_bytes"),
          col("m._4").as("duration_us"))
        .orderBy("doc_id")
    }),
    // Waveform features over the decoded stream: strict-sign zero
    // crossings (lag window per doc), peak, integer energy, RMS (sqrt
    // is IEEE-exact, so the only float is the final rounded division).
    "audio_features" -> ((s, d) => {
      // zero crossings: strict-sign product over adjacent samples — a
      // size(filter(...)) over index pairs replaces the old lag window
      // (one exchange + per-doc sort of every decoded sample, gone)
      audioArr(s, d)
        .select(col("doc_id"),
          expr("CAST(IF(size(a) > 1, size(filter(sequence(2, size(a)), " +
            "i -> element_at(a, i - 1) * element_at(a, i) < 0)), 0) AS BIGINT)")
            .as("zero_crossings"),
          expr("CAST(array_max(transform(a, x -> abs(x))) AS BIGINT)").as("peak"),
          expr("aggregate(a, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x AS BIGINT) * CAST(x AS BIGINT))")
            .as("sum_sq"),
          size(col("a")).as("n"))
        .select(col("doc_id"), col("zero_crossings"), col("peak"), col("sum_sq"),
          round(sqrt(col("sum_sq").cast("double") / col("n").cast("double")), 6).as("rms"))
        .orderBy("doc_id")
    }),
    // 10 ms framing (80 samples at 8 kHz): per-frame energy/peak — the
    // windowing every audio feature extractor starts from (the audio
    // analog of mm_frame_sample). One keyed aggregation.
    "audio_frames" -> ((s, d) => {
      // framing is a per-doc array fold now: only ~samples/80 frame
      // rows are ever exploded, and the keyed aggregation (an exchange
      // of every decoded sample) is gone — the array is already the
      // per-doc group
      audioArr(s, d)
        .select(col("doc_id"), explode(expr(framesExpr("a", 80))).as("fr"))
        .select(col("doc_id"), col("fr.frame_no").as("frame_no"),
          col("fr.n").as("n"), col("fr.energy").as("energy"),
          col("fr.peak").as("peak"))
        .orderBy("doc_id", "frame_no")
    }),
    // 8 kHz → 16 kHz upsample (VERDICT r11 #8 — the one audio step
    // every speech pipeline runs that the family lacked): 2× linear
    // interpolation at fixed rational positions — out[2i] = v[i],
    // out[2i+1] = ⌊(v[i]+v[i+1])/2⌋ (no extrapolation past the last
    // sample, so n_out = 2n−1). The midpoint uses an OFFSET floor
    // (`(v+vn+20000) div 2 − 10000`): amplitudes are ≤ 5000, so the
    // numerator is nonnegative and Spark's truncating `div` equals
    // DuckDB's flooring `//` — a bare (v+vn) div 2 diverges between
    // the engines on negative odd sums. The resampled stream is then
    // framed at 10 ms (160 samples at 16 kHz) like `audio_frames`, so
    // every interpolated sample lands in an exact integer energy sum.
    // Source samples ride the real RIFF/PCM16 roundtrip; one lead
    // window + one keyed aggregation.
    "audio_resample" -> ((s, d) => {
      // The 2× interpolation is a per-doc array transform now: out[2i]
      // = a[i], out[2i+1] = midpoint of a[i],a[i+1] (same offset-floor
      // arithmetic — the flatten interleaves them in order, no window,
      // no union of two copies of the decode subtree, no per-sample
      // keyed aggregation). The old plan decoded every doc TWICE (the
      // even/odd union branches each re-ran the UDF subtree), shuffled
      // ~2N 16-byte rows into a per-doc sort for lead(), and exchanged
      // them again for the frame groupBy; this one decodes once and
      // explodes only ~2N/160 frame rows.
      audioArr(s, d)
        .select(col("doc_id"),
          expr("flatten(transform(a, (x, i) -> IF(i < size(a) - 1, " +
            "array(CAST(x AS BIGINT), " +
            "(CAST(x AS BIGINT) + element_at(a, i + 2) + 20000) div 2 - 10000), " +
            "array(CAST(x AS BIGINT)))))").as("r"))
        .select(col("doc_id"), explode(expr(framesExpr("r", 160))).as("fr"))
        .select(col("doc_id"), col("fr.frame_no").as("frame_no"),
          col("fr.n").as("n"), col("fr.energy").as("energy"),
          col("fr.peak").as("peak"))
        .orderBy("doc_id", "frame_no")
    }),
    // Leading/trailing silence detection (the trim pass a speech corpus
    // runs before feature extraction): first/last nonzero sample per
    // doc, in one aggregation over the decoded stream.
    "audio_silence_trim" -> ((s, d) => {
      // first/last nonzero index via array_min/array_max over an
      // index-or-null transform (they skip nulls; an all-silence doc
      // yields NULL exactly like the old conditional min/max) — the
      // per-doc groupBy exchange of every decoded sample is gone
      audioArr(s, d)
        .select(col("doc_id"), size(col("a")).cast("long").as("total"),
          expr("array_min(transform(a, (x, i) -> IF(x <> 0, i, CAST(NULL AS INT))))")
            .as("first_nz"),
          expr("array_max(transform(a, (x, i) -> IF(x <> 0, i, CAST(NULL AS INT))))")
            .as("last_nz"))
        .select(col("doc_id"),
          col("first_nz").cast("long").as("lead_silence"),
          (col("total") - 1 - col("last_nz")).cast("long").as("trail_silence"),
          (col("last_nz") - col("first_nz") + 1).cast("long").as("trimmed_len"))
        .orderBy("doc_id")
    }),
    // Opaque-binary handling: size, content hash, base64 head — the
    // metadata columns any media table carries.
    "mm_binary_meta" -> ((s, d) => {
      media(s, d).select(
        col("doc_id"),
        length(col("blob")).cast("long").as("n_bytes"),
        md5(col("blob")).as("content_md5"),
        substring(base64(col("blob")), 1, 16).as("b64_head"))
        .orderBy("doc_id")
    }),
    // Decode stage (stub codec): typed metadata struct from the payload.
    "mm_decode_meta" -> ((s, d) => {
      val m = media(s, d)
      m.select(col("doc_id") +: MultimodalOps.metaCols(col("blob")): _*)
        .orderBy("doc_id")
    }),
    // Frame-sample generator: one row per sampled frame.
    "mm_frame_sample" -> ((s, d) => {
      val m = media(s, d)
      val withMeta = m.select(col("doc_id") +: MultimodalOps.metaCols(col("blob")): _*)
      MultimodalOps.frameSample(withMeta)
        .select(col("doc_id"), col("format"), col("frame_idx"))
        .orderBy("doc_id", "frame_idx")
    }),
    // P2: PDF content analyzer (reference decision_agent.py:176-237) —
    // the scanned/hybrid/text decision over sampled page stats. Page
    // model from the stub metadata: n_frames is the page count, each
    // synthetic page renders the (single-page) doc's text, per-page
    // image counts derive from md5 hex chars 5.. (0-2 images/page).
    // The reference's exact thresholds: avg_text < 100 & images →
    // 'visual' (+OCR +vision), avg_images > 1 & images → 'hybrid'
    // (+vision), else 'text'; avg_text > 500 → has_tables. All four
    // outcomes occur on the corpus (37 docs < 100 chars, 37 > 500 at
    // sf0.01).
    "p2_pdf_analyze" -> ((s, d) => {
      val hex = md5(col("text").cast("binary"))
      val pageStats = Tables.documents(s, d)
        .select(col("doc_id"), length(trim(col("text"))).cast("long").as("page_text_len"),
          hex.as("hex"), (lit(1) + ascii(substring(hex, 4, 1)) % 4).as("total_pages"))
        .select(col("doc_id"), col("page_text_len"), col("hex"), col("total_pages"),
          posexplode(sequence(lit(0), col("total_pages") - 1)).as(Seq("pp", "page")))
        .select(col("doc_id"), col("total_pages"), col("page_text_len"),
          (ascii(col("hex").substr(col("page") + lit(5), lit(1))) % 3).as("page_images"))
      val agg = pageStats.groupBy(col("doc_id"), col("total_pages"))
        .agg(
          round(avg(col("page_text_len")), 6).as("avg_text"),
          round(avg(col("page_images")), 6).as("avg_images"),
          (max(col("page_images")) > 0).as("has_images"))
      agg.select(
        col("doc_id"), col("total_pages"), col("avg_text"), col("avg_images"),
        col("has_images"),
        when(col("avg_text") < 100 && col("has_images"), "visual")
          .when(col("has_images") && col("avg_images") > 1, "hybrid")
          .otherwise("text").as("strategy"),
        (col("avg_text") < 100 && col("has_images")).as("requires_ocr"),
        ((col("avg_text") < 100 && col("has_images")) ||
          (col("has_images") && col("avg_images") > 1)).as("requires_vision"),
        (col("avg_text") > 500).as("has_tables"))
        .orderBy("doc_id")
    }),
    // Real-codec nearest-neighbor resize (longest side → 16): the
    // sampled corner pixels of the decoded RESIZED raster must match
    // the oracle's integer replay of the NN source mapping.
    "mm_resize" -> ((s, d) => {
      Tables.sortedKernel(Tables.documents(s, d).select("doc_id", "n_chars"), Seq("doc_id")) {
        _.select(col("doc_id"), resizeRoundtripUdf(col("doc_id"), col("n_chars")).as("m"))
          .select(col("doc_id"), col("m._1").as("format"),
            col("m._2").as("src_w"), col("m._3").as("src_h"),
            col("m._4").as("dst_w"), col("m._5").as("dst_h"),
            col("m._6").as("tl_gray"), col("m._7").as("br_gray"))
      }
    }),
    // Real-codec feature extraction: 8-bucket gray histogram + mean
    // over the decoded raster, replayed pixel-for-pixel by the oracle.
    "mm_gray_hist" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), grayHistUdf(col("doc_id"), col("n_chars")).as("m"))
      val histCols = (0 until 8).map(i =>
        element_at(col("m._3"), i + 1).as(s"h$i"))
      base.select(
        Seq(col("doc_id"), col("m._1").as("n_px"),
          round(col("m._2"), 6).as("mean_gray")) ++ histCols: _*)
        .orderBy("doc_id")
    }),
    // Image fingerprint table: the per-image aHash bands, the artifact
    // an image-dedup pass stores (the image-side analog of the text
    // fingerprint/minhash tables). Oracle replays the full pixel path
    // arithmetically — bits, threshold, packing.
    "mm_phash" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), phashUdf(col("doc_id"), col("n_chars")).as("m"))
        .select(col("doc_id"), col("m._1").as("b0"), col("m._2").as("b1"),
          col("m._3").as("b2"), col("m._4").as("b3"))
        .orderBy("doc_id")
    }),
    // Image near-dup pairs via pigeonhole banding over the aHash. Note
    // the blocking guarantee is weaker than dedup_simhash_pairs' (there,
    // 4×15-bit bands at hamming ≤ 3 make a shared band NECESSARY; here 8
    // flips across 4 bands can touch every band), so the reported
    // relation is explicitly "pairs sharing a RARE exact band, with
    // hamming ≤ 8" — the candidate rule is part of the contract and the
    // oracle mirrors it exactly. Buckets are df-capped (≤ 10) like every
    // pair generator in this engine: gradient thumbnails cluster
    // heavily, and an uncapped hot band is an O(df²) shuffle key at any
    // corpus size.
    "mm_phash_pairs" -> ((s, d) => {
      // widen BEFORE the checkpoint: the phash kernel (PNG encode +
      // decode + threshold per row) was the measured dominator of this
      // query at every scale (×100 probe: "per-doc phash UDF dominates,
      // 80 s at 500k docs") and a one-row-group scan runs it on one core
      val ph = Tables.widen(Tables.documents(s, d))
        .select(col("doc_id"), phashUdf(col("doc_id"), col("n_chars")).as("m"))
        .select(col("doc_id"), col("m._1").as("b0"), col("m._2").as("b1"),
          col("m._3").as("b2"), col("m._4").as("b3"))
        .localCheckpoint() // bands (rare + both candidate sides) read this
      // r19 optimization: carry all four bands THROUGH the candidate
      // join so the hamming verify is computed inline on the match row —
      // the old shape re-joined the distinct candidate pairs back to the
      // fingerprint table twice (two more broadcast joins + the pair
      // distinct before them). Same relation: duplicates from a pair
      // matching in several rare bands collapse in the final distinct
      // (hamming is a function of the pair, so distinct-after equals
      // distinct-before), and doc_a < doc_b keeps the ordered copy the
      // least/greatest swap used to produce. One equi-join, one
      // distinct; candidate rows are 4 longs wider — still KB-scale,
      // df-capped at any corpus size.
      val bands = ph.select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band", "v")))
      val rare = bands.groupBy(col("band"), col("v"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 10)
        .select(col("band"), col("v"))
      val rb = bands.join(rare, Seq("band", "v"), "left_semi")
      def ham(a: Column, b: Column) = bit_count(a.bitwiseXOR(b))
      rb.select(col("doc_id").as("doc_a"), col("band"), col("v"),
          col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
        .join(rb.select(col("doc_id").as("doc_b"), col("band"), col("v"),
          col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")),
          Seq("band", "v"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (ham(col("a0"), col("c0")) + ham(col("a1"), col("c1")) +
            ham(col("a2"), col("c2")) + ham(col("a3"), col("c3")))
            .cast("long").as("hamming"))
        .filter(col("hamming") <= 8)
        .distinct()
        .orderBy("doc_a", "doc_b")
    })
  )

  /** Shared arithmetic base for the real-codec image queries: the
    * doc-determined gradient image (same derivation as SourceQueries'
    * `ocrBase`).
    */
  private val imgBase =
    "SELECT doc_id, 8 + doc_id % 16 AS w, 8 + n_chars % 16 AS h, doc_id % 256 AS g FROM documents"

  /** Shared aHash CTE chain (pixels → sum threshold → 16-bit bands) for
    * the mm_phash oracles; expects the `b` CTE from [[imgBase]].
    */
  private val phashBandsSql =
    "px AS (SELECT doc_id, i.i AS idx, " +
      "(g + ((i.i % 8) * w) // 8 + ((i.i // 8) * h) // 8) % 256 AS p " +
      "FROM b, unnest(range(64)) AS i(i)), " +
      "sm AS (SELECT doc_id, sum(p) AS s FROM px GROUP BY doc_id), " +
      "bits AS (SELECT px.doc_id, idx, CASE WHEN 64 * p > s THEN 1 ELSE 0 END AS bit " +
      "FROM px JOIN sm USING (doc_id)), " +
      "bands AS (SELECT doc_id, idx // 16 AS band, " +
      "CAST(sum(bit << (idx % 16)) AS BIGINT) AS v FROM bits GROUP BY 1, 2)"

  private val metaSql =
    "SELECT doc_id, " +
      "CASE ascii(substr(md5(text), 3, 1)) % 3 WHEN 0 THEN 'png' " +
      "WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format, " +
      "32 * (1 + ascii(substr(md5(text), 1, 1)) % 8) AS width, " +
      "32 * (1 + ascii(substr(md5(text), 2, 1)) % 8) AS height, " +
      "1 + ascii(substr(md5(text), 4, 1)) % 4 AS n_frames " +
      "FROM documents"

  /** The oracle's arithmetic replay of the decoded sample stream —
    * byte-path-free by design: Spark's numbers ride the real codec, so
    * equality proves the RIFF roundtrip, not just the formula.
    */
  private val audioSamplesSql: String =
    "(SELECT d.doc_id, g.i, CASE WHEN g.i < d.pad OR g.i >= d.pad + d.n THEN 0 " +
      "ELSE -d.a + (2 * d.a * ((g.i - d.pad) % d.p)) // (d.p - 1) END AS v, " +
      "d.pad + d.n + d.trail AS total " +
      "FROM (SELECT doc_id, 400 + ((n_chars % 256) + 256) % 256 AS n, 16 + ((doc_id % 32) + 32) % 32 AS p, " +
      "4000 + ((doc_id % 1000) + 1000) % 1000 AS a, ((doc_id % 50) + 50) % 50 AS pad, ((n_chars % 30) + 30) % 30 AS trail " +
      "FROM documents) d, unnest(range(0, d.pad + d.n + d.trail)) AS g(i))"

  val oracles: Map[String, String] = Map(
    "video_scene_cuts" ->
      ("WITH v AS (SELECT doc_id, 6 + doc_id % 4 AS nf, 2 + doc_id % 3 AS c1, " +
        "5 + n_chars % 2 AS c2 FROM documents), " +
        "fr AS (SELECT v.doc_id, f.i AS frame_idx, " +
        "(v.doc_id * 37 + (CASE WHEN f.i >= v.c1 THEN 1 ELSE 0 END + " +
        "CASE WHEN v.c2 < v.nf AND f.i >= v.c2 THEN 1 ELSE 0 END) * 83) % 256 AS g " +
        "FROM v, unnest(range(v.nf)) AS f(i)), " +
        "sums AS (SELECT fr.doc_id, fr.frame_idx, " +
        "CAST(sum((fr.g + x.i + y.i) % 256) AS BIGINT) AS sum_gray " +
        "FROM fr, unnest(range(8)) AS x(i), unnest(range(8)) AS y(i) " +
        "GROUP BY fr.doc_id, fr.frame_idx), " +
        "lagd AS (SELECT doc_id, frame_idx, sum_gray, " +
        "lag(sum_gray) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM sums) " +
        "SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, sum_gray, " +
        "CAST(coalesce(abs(sum_gray - prev), 0) AS BIGINT) AS diff, " +
        "coalesce(abs(sum_gray - prev) > 0, FALSE) AS cut " +
        "FROM lagd ORDER BY doc_id, frame_idx"),
    "video_clip_sample" ->
      ("WITH v AS (SELECT doc_id, 6 + doc_id % 4 AS nf, 2 + doc_id % 3 AS c1, " +
        "5 + n_chars % 2 AS c2 FROM documents), " +
        "fr AS (SELECT v.doc_id, f.i AS frame_idx, " +
        "(v.doc_id * 37 + (CASE WHEN f.i >= v.c1 THEN 1 ELSE 0 END + " +
        "CASE WHEN v.c2 < v.nf AND f.i >= v.c2 THEN 1 ELSE 0 END) * 83) % 256 AS g " +
        "FROM v, unnest(range(v.nf)) AS f(i)), " +
        "sums AS (SELECT fr.doc_id, fr.frame_idx, " +
        "CAST(sum((fr.g + x.i + y.i) % 256) AS BIGINT) AS sum_gray " +
        "FROM fr, unnest(range(8)) AS x(i), unnest(range(8)) AS y(i) " +
        "GROUP BY fr.doc_id, fr.frame_idx), " +
        "lagd AS (SELECT doc_id, frame_idx, sum_gray, " +
        "lag(sum_gray) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM sums), " +
        "cuts AS (SELECT doc_id, frame_idx, sum_gray, " +
        "CASE WHEN coalesce(abs(sum_gray - prev) > 0, FALSE) THEN 1 ELSE 0 END AS cut FROM lagd), " +
        "shots AS (SELECT doc_id, frame_idx, sum_gray, " +
        "sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx ROWS UNBOUNDED PRECEDING) AS shot_id FROM cuts), " +
        "ranked AS (SELECT doc_id, shot_id, frame_idx, sum_gray, " +
        "row_number() OVER (PARTITION BY doc_id, shot_id ORDER BY frame_idx) - 1 AS pos, " +
        "count(*) OVER (PARTITION BY doc_id, shot_id) AS shot_len FROM shots) " +
        "SELECT doc_id, CAST(shot_id AS BIGINT) AS shot_id, " +
        "CAST(frame_idx AS BIGINT) AS frame_idx, sum_gray, " +
        "CAST(shot_len AS BIGINT) AS shot_len FROM ranked " +
        "WHERE pos = shot_len // 4 OR pos = (3 * shot_len) // 4 " +
        "ORDER BY doc_id, frame_idx"),
    // Arithmetic replay of the full lineage: frame gray → decoded sums
    // (pixel (g+x+y)%256) → cuts/shots/sampling (the video_clip_sample
    // chain, with g carried) → per-sampled-frame aHash bands (the
    // mm_phash bit/band arithmetic over the 8×8 raster) → exact-
    // fingerprint clusters with min-fid keeper. Spark's numbers ride
    // the real PNG decode; equality proves the codec path end-to-end.
    "clip_frame_dedup" ->
      ("WITH v AS (SELECT doc_id, 6 + doc_id % 4 AS nf, 2 + doc_id % 3 AS c1, " +
        "5 + n_chars % 2 AS c2 FROM documents), " +
        "fr AS (SELECT v.doc_id, f.i AS frame_idx, " +
        "(v.doc_id * 37 + (CASE WHEN f.i >= v.c1 THEN 1 ELSE 0 END + " +
        "CASE WHEN v.c2 < v.nf AND f.i >= v.c2 THEN 1 ELSE 0 END) * 83) % 256 AS g " +
        "FROM v, unnest(range(v.nf)) AS f(i)), " +
        "sums AS (SELECT fr.doc_id, fr.frame_idx, fr.g, " +
        "CAST(sum((fr.g + x.i + y.i) % 256) AS BIGINT) AS sum_gray " +
        "FROM fr, unnest(range(8)) AS x(i), unnest(range(8)) AS y(i) " +
        "GROUP BY 1, 2, 3), " +
        "lagd AS (SELECT doc_id, frame_idx, g, sum_gray, " +
        "lag(sum_gray) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM sums), " +
        "cuts AS (SELECT doc_id, frame_idx, g, sum_gray, " +
        "CASE WHEN coalesce(abs(sum_gray - prev) > 0, FALSE) THEN 1 ELSE 0 END AS cut FROM lagd), " +
        "shots AS (SELECT doc_id, frame_idx, g, sum_gray, " +
        "sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx ROWS UNBOUNDED PRECEDING) AS shot_id FROM cuts), " +
        "ranked AS (SELECT doc_id, shot_id, frame_idx, g, sum_gray, " +
        "row_number() OVER (PARTITION BY doc_id, shot_id ORDER BY frame_idx) - 1 AS pos, " +
        "count(*) OVER (PARTITION BY doc_id, shot_id) AS shot_len FROM shots), " +
        "sampled AS (SELECT doc_id, shot_id, frame_idx, g, sum_gray FROM ranked " +
        "WHERE pos = shot_len // 4 OR pos = (3 * shot_len) // 4), " +
        "px AS (SELECT doc_id, frame_idx, i.i AS idx, " +
        "(g + (i.i % 8) + (i.i // 8)) % 256 AS p FROM sampled, unnest(range(64)) AS i(i)), " +
        "fsm AS (SELECT doc_id, frame_idx, sum(p) AS s FROM px GROUP BY 1, 2), " +
        "bits AS (SELECT px.doc_id, px.frame_idx, idx, " +
        "CASE WHEN 64 * p > s THEN 1 ELSE 0 END AS bit FROM px JOIN fsm USING (doc_id, frame_idx)), " +
        "bands AS (SELECT doc_id, frame_idx, idx // 16 AS band, " +
        "CAST(sum(bit << (idx % 16)) AS BIGINT) AS v FROM bits GROUP BY 1, 2, 3), " +
        "wide AS (SELECT doc_id, frame_idx, doc_id * 16 + frame_idx AS fid, " +
        "max(CASE WHEN band = 0 THEN v END) AS b0, max(CASE WHEN band = 1 THEN v END) AS b1, " +
        "max(CASE WHEN band = 2 THEN v END) AS b2, max(CASE WHEN band = 3 THEN v END) AS b3 " +
        "FROM bands GROUP BY 1, 2), " +
        "wfp AS (SELECT w.doc_id, w.frame_idx, w.fid, s.sum_gray, w.b0, w.b1, w.b2, w.b3, " +
        "s.shot_id FROM wide w JOIN sampled s USING (doc_id, frame_idx)), " +
        "grp AS (SELECT sum_gray, b0, b1, b2, b3, min(fid) AS keeper_fid, " +
        "CAST(count(*) AS BIGINT) AS n_copies FROM wfp GROUP BY 1, 2, 3, 4, 5) " +
        "SELECT w.doc_id, CAST(w.shot_id AS BIGINT) AS shot_id, " +
        "CAST(w.frame_idx AS BIGINT) AS frame_idx, " +
        "CAST(g.keeper_fid // 16 AS BIGINT) AS keeper_doc, " +
        "CAST(g.keeper_fid % 16 AS BIGINT) AS keeper_frame, g.n_copies, " +
        "w.fid = g.keeper_fid AS is_canonical " +
        "FROM wfp w JOIN grp g ON w.sum_gray = g.sum_gray AND w.b0 = g.b0 " +
        "AND w.b1 = g.b1 AND w.b2 = g.b2 AND w.b3 = g.b3 " +
        "ORDER BY w.doc_id, w.frame_idx"),
    "audio_meta" ->
      ("SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, " +
        "CAST(pad + n + trail AS BIGINT) AS n_samples, " +
        "CAST(44 + 2 * (pad + n + trail) AS BIGINT) AS n_bytes, " +
        "CAST((pad + n + trail) * 125 AS BIGINT) AS duration_us " +
        "FROM (SELECT doc_id, 400 + ((n_chars % 256) + 256) % 256 AS n, ((doc_id % 50) + 50) % 50 AS pad, " +
        "n_chars % 30 AS trail FROM documents) ORDER BY doc_id"),
    "audio_features" ->
      (s"WITH sm AS (SELECT * FROM $audioSamplesSql), " +
        "lagd AS (SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM sm) " +
        "SELECT doc_id, " +
        "CAST(coalesce(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS zero_crossings, " +
        "CAST(max(abs(v)) AS BIGINT) AS peak, CAST(sum(v * v) AS BIGINT) AS sum_sq, " +
        "round(sqrt(CAST(sum(v * v) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6) AS rms " +
        "FROM lagd GROUP BY doc_id ORDER BY doc_id"),
    "audio_frames" ->
      (s"SELECT doc_id, CAST(i // 80 AS BIGINT) AS frame_no, count(*) AS n, " +
        "CAST(sum(v * v) AS BIGINT) AS energy, CAST(max(abs(v)) AS BIGINT) AS peak " +
        s"FROM $audioSamplesSql GROUP BY doc_id, i // 80 ORDER BY doc_id, frame_no"),
    "audio_resample" ->
      (s"WITH sm AS (SELECT * FROM $audioSamplesSql), " +
        "led AS (SELECT doc_id, i, v, lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS vn FROM sm), " +
        "up AS (SELECT doc_id, 2 * i AS j, v FROM led " +
        "UNION ALL SELECT doc_id, 2 * i + 1, (v + vn + 20000) // 2 - 10000 FROM led WHERE vn IS NOT NULL) " +
        "SELECT doc_id, CAST(j // 160 AS BIGINT) AS frame_no, count(*) AS n, " +
        "CAST(sum(v * v) AS BIGINT) AS energy, CAST(max(abs(v)) AS BIGINT) AS peak " +
        "FROM up GROUP BY doc_id, j // 160 ORDER BY doc_id, frame_no"),
    "audio_silence_trim" ->
      (s"SELECT doc_id, CAST(min(CASE WHEN v <> 0 THEN i END) AS BIGINT) AS lead_silence, " +
        "CAST(count(*) - 1 - max(CASE WHEN v <> 0 THEN i END) AS BIGINT) AS trail_silence, " +
        "CAST(max(CASE WHEN v <> 0 THEN i END) - min(CASE WHEN v <> 0 THEN i END) + 1 AS BIGINT) AS trimmed_len " +
        s"FROM $audioSamplesSql GROUP BY doc_id ORDER BY doc_id"),
    "mm_binary_meta" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "md5(text) AS content_md5, " +
        "substr(to_base64(encode(text)), 1, 16) AS b64_head " +
        "FROM documents ORDER BY doc_id"),
    "mm_decode_meta" ->
      (s"$metaSql ORDER BY doc_id"),
    "mm_frame_sample" ->
      (s"WITH m AS ($metaSql) " +
        "SELECT doc_id, format, CAST(f.i AS INT) AS frame_idx " +
        "FROM m, unnest(range(m.n_frames)) AS f(i) ORDER BY doc_id, frame_idx"),
    // NN mapping replay: resized pixel (x,y) = source (x*w//rw, y*h//rh);
    // gradient source pixel (x,y) = (g+x+y) % 256.
    "mm_resize" ->
      (s"WITH b AS ($imgBase), " +
        "s AS (SELECT doc_id, w, h, g, " +
        "greatest(1, (w*16)//greatest(w,h)) AS rw, " +
        "greatest(1, (h*16)//greatest(w,h)) AS rh FROM b) " +
        "SELECT doc_id, 'png' AS format, " +
        "CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h, " +
        "CAST(rw AS BIGINT) AS dst_w, CAST(rh AS BIGINT) AS dst_h, " +
        "CAST(g AS BIGINT) AS tl_gray, " +
        "CAST((g + ((rw-1)*w)//rw + ((rh-1)*h)//rh) % 256 AS BIGINT) AS br_gray " +
        "FROM s ORDER BY doc_id"),
    // aHash replay: resized 8×8 pixel idx (row-major) maps to source
    // ((idx%8)·w//8, (idx//8)·h//8), gradient value (g+sx+sy)%256; bit
    // set iff 64·p > Σp; band j packs bits 16j..16j+15.
    "mm_phash" ->
      (s"WITH b AS ($imgBase), $phashBandsSql " +
        "SELECT doc_id, " +
        "max(CASE WHEN band = 0 THEN v END) AS b0, " +
        "max(CASE WHEN band = 1 THEN v END) AS b1, " +
        "max(CASE WHEN band = 2 THEN v END) AS b2, " +
        "max(CASE WHEN band = 3 THEN v END) AS b3 " +
        "FROM bands GROUP BY doc_id ORDER BY doc_id"),
    "mm_phash_pairs" ->
      (s"WITH b AS ($imgBase), $phashBandsSql, " +
        "rare AS (SELECT band, v FROM (SELECT band, v, count(*) AS df FROM bands GROUP BY 1, 2) WHERE df <= 10), " +
        "rb AS (SELECT bd.doc_id, bd.band, bd.v FROM bands bd JOIN rare r ON bd.band = r.band AND bd.v = r.v), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b " +
        "FROM rb a JOIN rb b2 ON a.band = b2.band AND a.v = b2.v AND a.doc_id < b2.doc_id), " +
        "wide AS (SELECT doc_id, max(CASE WHEN band = 0 THEN v END) AS b0, " +
        "max(CASE WHEN band = 1 THEN v END) AS b1, max(CASE WHEN band = 2 THEN v END) AS b2, " +
        "max(CASE WHEN band = 3 THEN v END) AS b3 FROM bands GROUP BY doc_id) " +
        "SELECT * FROM (SELECT doc_a, doc_b, " +
        "CAST(bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1)) + " +
        "bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3)) AS BIGINT) AS hamming " +
        "FROM cand JOIN wide wa ON wa.doc_id = doc_a JOIN wide wb ON wb.doc_id = doc_b) " +
        "WHERE hamming <= 8 ORDER BY doc_a, doc_b"),
    "mm_gray_hist" ->
      (s"WITH b AS ($imgBase), " +
        "px AS (SELECT b.doc_id, (b.g + x.i + y.i) % 256 AS gr " +
        "FROM b, unnest(range(b.w)) AS x(i), unnest(range(b.h)) AS y(i)) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px, " +
        "round(avg(gr), 6) AS mean_gray, " +
        (0 until 8).map(i =>
          s"CAST(count(*) FILTER (WHERE gr // 32 = $i) AS BIGINT) AS h$i").mkString(", ") +
        " FROM px GROUP BY doc_id ORDER BY doc_id"),
    "p2_pdf_analyze" ->
      ("WITH pages AS (" +
        "SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS page_text_len, " +
        "1 + ascii(substr(md5(text), 4, 1)) % 4 AS total_pages, " +
        "ascii(substr(md5(text), CAST(p.i + 5 AS BIGINT), 1)) % 3 AS page_images " +
        "FROM documents, unnest(range(1 + ascii(substr(md5(text), 4, 1)) % 4)) AS p(i)), " +
        "agg AS (SELECT doc_id, total_pages, " +
        "round(avg(page_text_len), 6) AS avg_text, " +
        "round(avg(page_images), 6) AS avg_images, " +
        "max(page_images) > 0 AS has_images " +
        "FROM pages GROUP BY doc_id, total_pages) " +
        "SELECT doc_id, total_pages, avg_text, avg_images, has_images, " +
        "CASE WHEN avg_text < 100 AND has_images THEN 'visual' " +
        "WHEN has_images AND avg_images > 1 THEN 'hybrid' ELSE 'text' END AS strategy, " +
        "(avg_text < 100 AND has_images) AS requires_ocr, " +
        "((avg_text < 100 AND has_images) OR (has_images AND avg_images > 1)) AS requires_vision, " +
        "(avg_text > 500) AS has_tables FROM agg ORDER BY doc_id")
  )
}
