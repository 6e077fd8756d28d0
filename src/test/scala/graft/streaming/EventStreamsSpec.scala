package graft.streaming

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val HourUs = 3600L * 1000000L

  test("windowedCounts: batch and streaming agree on the same input") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (timestampFromHours(0, 10), "view"),
      (timestampFromHours(0, 50), "view"),
      (timestampFromHours(1, 5), "click"),
      (timestampFromHours(1, 30), "view"))
    val batchDf = rows.toDF("ts", "event_type")
    val batchOut = EventStreams.windowedCounts(batchDf)
      .orderBy("w_start", "event_type").collect().map(_.toSeq)

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val streamDf = mem.toDF.toDF("ts", "event_type")
    val q = EventStreams.windowedCounts(streamDf)
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamOut = s.sql("SELECT * FROM wc ORDER BY w_start, event_type")
        .collect().map(_.toSeq)
      assert(streamOut.toSeq == batchOut.toSeq)
      assert(batchOut.length == 3) // (h0 view=2), (h1 click=1), (h1 view=1)
    } finally q.stop()
  }

  private def timestampFromHours(h: Int, m: Int): java.sql.Timestamp =
    new java.sql.Timestamp(((h * 60L + m) * 60L) * 1000L)

  test("windowedDistinctUsers: batch and streaming agree bit-for-bit (HLL merge order-free)") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (timestampFromHours(0, 10), "view", 1L),
      (timestampFromHours(0, 20), "view", 1L),  // repeat user in-window
      (timestampFromHours(0, 50), "view", 2L),
      (timestampFromHours(1, 5), "click", 1L),
      (timestampFromHours(1, 30), "view", 3L))
    val batchDf = rows.toDF("ts", "event_type", "user_id")
    val batchOut = EventStreams.windowedDistinctUsers(batchDf)
      .orderBy("w_start", "event_type").collect().map(_.toSeq)

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
    val streamDf = mem.toDF.toDF("ts", "event_type", "user_id")
    val q = EventStreams.windowedDistinctUsers(streamDf)
      .writeStream.format("memory").queryName("wdu").outputMode("complete").start()
    try {
      // two adds → two micro-batches → the state-merge path runs
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamOut = s.sql("SELECT * FROM wdu ORDER BY w_start, event_type")
        .collect().map(_.toSeq)
      assert(streamOut.toSeq == batchOut.toSeq)
      // tiny exact cardinalities: the sketch is exact at this scale
      assert(batchOut.map(r => (r(1), r(2))).toSeq ==
        Seq(("view", 2L), ("click", 1L), ("view", 1L)))
    } finally q.stop()
  }

  test("session_window: batch and streaming agree on the same input") {
    // locks batch/stream parity for the session_window_agg query shape
    // (SURVEY §7.2 step 6): the SAME gap-merge aggregation runs as a
    // batch groupBy and as a watermarked streaming query.
    val s = spark
    import s.implicits._
    def agg(df: org.apache.spark.sql.DataFrame) = {
      val in = if (df.isStreaming) df.withWatermark("ts", "2 hours") else df
      in.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
    }
    val rows = Seq(
      (timestampFromHours(0, 0), 1L),
      (timestampFromHours(0, 20), 1L),   // merges (gap < 30m)
      (timestampFromHours(0, 50), 1L),   // boundary: 0:20+30m = 0:50 MERGES (inclusive)
      (timestampFromHours(2, 0), 1L),    // new session
      (timestampFromHours(0, 5), 2L))
    val batchOut = agg(rows.toDF("ts", "user_id"))
      .orderBy("user_id", "session_start").collect().map(_.toSeq)
    // session_window merges events landing EXACTLY at the previous
    // session's end (inclusive boundary) — user1: [0:00 ×3], [2:00 ×1]
    assert(batchOut.length == 3)
    assert(batchOut.head.last == 3L)

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = agg(mem.toDF.toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("sw").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamOut = s.sql("SELECT * FROM sw ORDER BY user_id, session_start")
        .collect().map(_.toSeq)
      assert(streamOut.toSeq == batchOut.toSeq)
    } finally q.stop()
  }

  test("sessionize (batch Dataset): gap closes a session, state carries rest") {
    val s = spark
    import s.implicits._
    val events = Seq(
      EventStreams.EventIn(1L, 1L, 0L),
      EventStreams.EventIn(1L, 2L, 10L * 1000000L),          // same session
      EventStreams.EventIn(1L, 3L, 4000L * 1000000L),        // gap > 1800s → closes first
      EventStreams.EventIn(2L, 4L, 0L)
    ).toDS()
    val out = EventStreams.sessionize(events).collect()
    // only CLOSED sessions are emitted (open ones stay in state)
    assert(out.toSet == Set(EventStreams.SessionOut(1L, 0L, 2L)))
  }

  test("sessionizeBounded: watermark closes idle sessions, drains state, matches event-driven closes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val Sec = 1000000L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    // gap 100 s, zero-delay watermark so timing is deterministic
    val q = EventStreams.sessionizeBounded(
      mem.toDS().map(t => EventStreams.EventIn(t._1, t._2, t._3)),
      gapMicros = 100L * Sec, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_b").outputMode("append").start()
    try {
      // user 1: two events 10 s apart (one session), then idle forever;
      // user 2: one event — also idle
      mem.addData((1L, 1L, 1000L * Sec), (1L, 2L, 1010L * Sec), (2L, 3L, 1020L * Sec))
      q.processAllAvailable()
      // nothing closed yet: no gap crossed, watermark at 1020 s < last+gap
      assert(s.sql("SELECT count(*) FROM sess_b").head.getLong(0) == 0L)
      // user 3's event pushes the watermark past both users' last+gap
      mem.addData((3L, 4L, 2000L * Sec))
      q.processAllAvailable()
      mem.addData((3L, 5L, 2001L * Sec)) // a batch AFTER the watermark advance fires timeouts
      q.processAllAvailable()
      val closed = s.sql("SELECT user_id, session_start, n_events FROM sess_b ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(closed.toSeq == Seq((1L, 1000L * Sec, 2L), (2L, 1020L * Sec, 1L)),
        s"watermark must close idle sessions exactly: ${closed.toSeq}")
      // ... and their state is gone; only user 3's open session remains
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L,
        "closed sessions must leave the state store")
      // event-driven close still works: user 3 returns past the gap
      mem.addData((3L, 6L, 2200L * Sec))
      q.processAllAvailable()
      val u3 = s.sql("SELECT session_start, n_events FROM sess_b WHERE user_id = 3")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(u3.toSeq == Seq((2000L * Sec, 2L)),
        s"gap-crossing event must close the previous session: ${u3.toSeq}")
    } finally q.stop()
  }

  test("sessionizeBounded late data (back-to-back file batches, the replay-gate " +
    "regime): rows behind the LAGGED filter watermark drop; the input filter " +
    "lags the eviction watermark by one batch (measured r18)") {
    // The semantic the r18 late-replay gates depend on, pinned at unit
    // scale IN THE GATES' EXECUTION SHAPE (file source, AvailableNow,
    // maxFilesPerTrigger=1, batches back-to-back): Spark filters a
    // stateful operator's late INPUT with the watermark of batch N-1
    // while firing timeouts with batch N's — one batch of lag
    // (measured against spark-sql 4.1.2 while building
    // session_replay_late: a late event inside the lag window
    // SURVIVED, extended a pending session, and re-armed its timer
    // past the frozen watermark). NOTE the lag is regime-specific:
    // with idle gaps between MemoryStream batches the watermark is
    // recomputed before planning and there is NO lag (both late rows
    // drop). The gates therefore stage late events with a 2x-delay
    // margin — provably late under BOTH watermarks. This spec pins:
    //  - u9 (older than the lagged watermark) drops — the property
    //    the gates need;
    //  - u8 (between the two watermarks) currently survives the
    //    filter in this regime — the lag itself. If a Spark upgrade
    //    removes the lag, this assertion fails and the staging margin
    //    can shrink to one delay.
    val s = spark
    import s.implicits._
    val Sec = 1000000L
    val base = java.nio.file.Files.createTempDirectory("graft-late-lag").toString
    def stage(rows: Seq[(Long, Long, Long)], name: String, mtime: Long): Unit =
      graft.operators.TmpDirs.stageLandingFile(s,
        rows.toDF("user_id", "event_id", "tsMicros"), s"$base/in/$name", mtime)
    val now = System.currentTimeMillis()
    stage(Seq((1L, 1L, 1000L * Sec)), "f1.parquet", now - 30000) // batch 0 -> wm 1000 s
    stage(Seq((1L, 2L, 2000L * Sec)), "f2.parquet", now - 20000) // batch 1 -> wm 2000 s
    // batch 2: u9 behind BOTH watermarks, u8 between them
    stage(Seq((9L, 3L, 500L * Sec), (8L, 4L, 1500L * Sec)), "f3.parquet", now - 10000)
    val stream = s.readStream.schema("user_id LONG, event_id LONG, tsMicros LONG")
      .option("maxFilesPerTrigger", 1L).parquet(s"$base/in")
      .as[EventStreams.EventIn]
    val q = EventStreams.sessionizeBounded(stream,
        gapMicros = 100L * Sec, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_late")
      .option("checkpointLocation", s"$base/ckpt").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val rows = s.sql("SELECT user_id, session_start, n_events FROM sess_late ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, 1000L * Sec, 1L)),
        s"only u1's event-driven close may land; got ${rows.toSeq}")
      // lastOption + a descriptive assert (ADVICE r18): a missing
      // progress entry must fail with THIS test's message, not an
      // opaque NoSuchElementException from .last
      val batch2Opt = q.recentProgress.filter(_.numInputRows == 2L).lastOption
      assert(batch2Opt.isDefined,
        s"no progress entry with numInputRows == 2 (the f3 batch) — got " +
          s"[${q.recentProgress.map(_.numInputRows).mkString(", ")}]")
      val batch2 = batch2Opt.get
      assert(batch2.stateOperators.head.numRowsDroppedByWatermark == 1L,
        "exactly u9 drops: the filter applies the PREVIOUS batch's watermark")
      assert(batch2.stateOperators.head.numRowsTotal == 2L,
        "u1's pending session + u8's filter-surviving new state")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("stream-stream interval join: purchases attribute to prior views") {
    // watermarked stream-stream join — the attribution shape (purchase
    // joins views by the same user within the preceding hour); state on
    // both sides is bounded by the watermark + interval condition
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val v = views.toDF.toDF("v_user", "v_ts").withWatermark("v_ts", "2 hours")
    val b = buys.toDF.toDF("b_user", "b_ts").withWatermark("b_ts", "2 hours")
    val joined = b.join(v,
      expr("v_user = b_user AND v_ts BETWEEN b_ts - INTERVAL 1 HOUR AND b_ts"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      views.addData((1L, timestampFromHours(0, 10)), (2L, timestampFromHours(0, 15)))
      buys.addData((1L, timestampFromHours(0, 40))) // 30 min after the view → joins
      buys.addData((1L, timestampFromHours(2, 0)))  // >1h after any view → dropped
      buys.addData((2L, timestampFromHours(0, 5)))  // BEFORE the view → dropped
      q.processAllAvailable()
      val got = s.sql("SELECT v_user, b_ts FROM attrib").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)))
      assert(got.toSeq == Seq((1L, timestampFromHours(0, 40))))
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates state spans micro-batches") {
    // the streaming form of dedup_exact/T6: content-addressed ids +
    // state-backed dropDuplicates make at-least-once delivery
    // exactly-once in effect — a redelivered point in a LATER batch is
    // dropped by state, not by luck of batch boundaries
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF.toDF("point_id", "payload")
      .dropDuplicates("point_id")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      mem.addData(("a", 1L), ("b", 2L), ("a", 3L)) // in-batch dup
      q.processAllAvailable()
      mem.addData(("b", 4L), ("c", 5L))            // cross-batch dup
      q.processAllAvailable()
      val got = s.sql("SELECT point_id, payload FROM sdedup ORDER BY point_id")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.map(_._1).toSeq == Seq("a", "b", "c"))
      assert(got.toMap == Map("a" -> 1L, "b" -> 2L, "c" -> 5L)) // first wins
    } finally q.stop()
  }

  test("streaming incremental dedup: static index anti-join + cross-batch state") {
    // the streaming form of dedup_incremental: docs whose content
    // already exists in the (static) corpus index never reach the sink;
    // a duplicate arriving in a LATER micro-batch is dropped by state
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val existing = Seq("known text one", "known text two")
      .toDF("text").select(md5(col("text").cast("binary")).as("fp"))
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalDedup(mem.toDF.toDF("doc_id", "text"), existing)
      .writeStream.format("memory").queryName("sincr").outputMode("append").start()
    try {
      mem.addData((1L, "known text one"), (2L, "fresh text"), (3L, "fresh text"))
      q.processAllAvailable()
      mem.addData((4L, "fresh text"), (5L, "known text two"), (6L, "brand new"))
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id FROM sincr ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      // 1 and 5 die on the index; 3 (in-batch) and 4 (cross-batch) on state
      assert(got == Seq(2L, 6L))
    } finally q.stop()
  }

  test("bounded streaming dedup: duplicates inside the watermark horizon are dropped") {
    // dropDuplicatesWithinWatermark = dedup with EVICTABLE state — the
    // leak-free production form; duplicates arriving within the
    // watermark horizon are still caught exactly like the unbounded op
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val existing = Seq("known doc").toDF("text")
      .select(md5(col("text").cast("binary")).as("fp"))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val q = EventStreams.incrementalDedupBounded(
        mem.toDF.toDF("doc_id", "text", "ts"), existing, "10 minutes")
      .writeStream.format("memory").queryName("sbnd").outputMode("append").start()
    try {
      mem.addData((1L, "known doc", t0), (2L, "fresh", t0), (3L, "fresh", ts(1)))
      q.processAllAvailable()
      mem.addData((4L, "fresh", ts(2)), (5L, "other", ts(3)))
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id FROM sbnd ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      // 1 dies on the index; 3 (in-batch) and 4 (cross-batch, inside
      // the horizon) die on watermarked state
      assert(got == Seq(2L, 5L))
    } finally q.stop()
  }

  test("ingestRelay restart resumes from checkpoint without reprocessing") {
    // the reference's 8-commit status machine exists to make restarts
    // safe; here the checkpoint IS the status machine — a restarted
    // relay must process only files that arrived while it was down
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val cp = s"$tmp/cp"
    def doc(id: Long, text: String) =
      Seq((id, s"src$id", "en", text.length.toLong, text))
        .toDF("doc_id", "source", "lang", "n_chars", "text")
    doc(1L, "alpha beta gamma delta epsilon").write.mode("append").parquet(in)
    val q1 = EventStreams.ingestRelay(s, in, out, cp)
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = s.read.parquet(out).count()
    assert(afterFirst > 0)

    doc(2L, "zeta eta theta iota kappa lambda").write.mode("append").parquet(in)
    val q2 = EventStreams.ingestRelay(s, in, out, cp)
    try q2.processAllAvailable() finally q2.stop()

    val result = s.read.parquet(out)
    // doc 1 not reprocessed: its rows did not grow after the restart
    assert(result.filter(col("source_drive_file") === 1L).count() ==
      afterFirst)
    assert(result.filter(col("source_drive_file") === 2L).count() > 0)
    // and globally: content-addressed ids are still unique
    assert(result.select("point_id").distinct().count() == result.count())
  }

  test("mid-stream crash + restart: exactly-once points, contiguous ledger (T2/T6)") {
    // the round-3 verdict's restart proof: kill the relay MID-STREAM at
    // the worst crash point (batch N's points sink committed, its ledger
    // sink not yet run), restart from the checkpoint, and prove
    //   (a) the replayed batch does not duplicate a single point id, and
    //   (b) every document ends with its full 7-stage T2 history exactly
    //       once — the torn state heals.
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val cp = s"$tmp/cp"; val led = s"$tmp/ledger"
    def doc(id: Long, text: String) =
      Seq((id, s"src$id", "en", text.length.toLong, text))
        .toDF("doc_id", "source", "lang", "n_chars", "text")
    doc(1L, "alpha beta gamma delta epsilon").write.mode("append").parquet(in)
    doc(2L, "zeta eta theta iota kappa lambda").write.mode("append").parquet(in)
    doc(3L, "mu nu xi omicron pi rho sigma tau").write.mode("append").parquet(in)

    // run 1: one file per micro-batch; injected crash between batch 1's
    // two sink writes — the stream dies with batch 1 points on disk but
    // no batch 1 ledger rows (torn multi-sink state)
    val q1 = EventStreams.ingestRelay(s, in, out, cp, ledgerDir = Some(led),
      maxFilesPerTrigger = Some(1),
      betweenSinks = bid => if (bid == 1L) throw new RuntimeException("injected crash"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    // collect torn-state counts EAGERLY — the restart below overwrites
    // batch 1's files, so lazy reads of this snapshot would dangle
    val tornPerDoc = s.read.parquet(out).groupBy("source_drive_file").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tornPerDoc.size == 2) // batches 0 and 1 landed points
    assert(s.read.parquet(led).select("source_drive_file").distinct().count() == 1)

    // run 2: same checkpoint, no chaos — batch 1 REPLAYS (offsets were
    // WAL-logged but uncommitted), then batch 2 runs fresh
    val q2 = EventStreams.ingestRelay(s, in, out, cp, ledgerDir = Some(led),
      maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable() finally q2.stop()

    val points = s.read.parquet(out)
    // (a) all three docs present; zero duplicate point ids despite the
    // batch 1 replay — its partition was overwritten, not re-appended
    assert(points.select("source_drive_file").distinct().count() == 3)
    assert(points.select("point_id").distinct().count() == points.count())
    // the replayed batch's doc kept exactly its pre-crash row count
    val perDoc = points.groupBy("source_drive_file").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    tornPerDoc.foreach { case (id, n) => assert(perDoc(id) == n) }

    // (b) T2 continuity: every doc has stage_seq 0..6 exactly once,
    // ending Completed at 100% — no gaps, no duplicated history
    val ledger = s.read.parquet(led)
    val stages = ledger.groupBy("source_drive_file")
      .agg(count(lit(1)).as("n"), countDistinct(col("stage_seq")).as("d"),
        max(col("progress_percent")).as("p"),
        sum(when(col("status") === "Completed", 1).otherwise(0)).as("c"))
      .collect()
    assert(stages.length == 3)
    stages.foreach { r =>
      assert(r.getAs[Long]("n") == 7L && r.getAs[Long]("d") == 7L)
      assert(r.getAs[Double]("p") == 100.0 && r.getAs[Long]("c") == 1L)
    }
  }

  test("ingestRelay: file-source replay produces idempotent point ids") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val cp = s"$tmp/cp"
    Seq((1L, "srcA", "en", 50L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "source", "lang", "n_chars", "text")
      .write.parquet(in)
    val q = EventStreams.ingestRelay(s, in, out, cp)
    try q.processAllAvailable() finally q.stop()
    val result = s.read.parquet(out)
    assert(result.count() > 0)
    assert(result.select("point_id").distinct().count() == result.count())
    assert(result.columns.contains("embedding") && result.columns.contains("batch_id"))
  }

  test("ingestRelay: Trigger.AvailableNow lands the same output as the default trigger") {
    // the oracled relay_replay_points runs the AvailableNow (backfill)
    // form — pin that it is pure trigger plumbing, not a different
    // pipeline: identical landed rows, self-terminated (no stop() on an
    // idle stream), and a rerun over the same checkpoint is a no-op
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-avail").toString
    val in = s"$tmp/in"
    Seq((1L, "srcA", "en", 50L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "srcB", "de", 40L, "mu nu xi omicron pi rho sigma tau"))
      .toDF("doc_id", "source", "lang", "n_chars", "text")
      .write.parquet(in)
    val qd = EventStreams.ingestRelay(s, in, s"$tmp/outD", s"$tmp/cpD")
    try qd.processAllAvailable() finally qd.stop()
    val qa = EventStreams.ingestRelay(s, in, s"$tmp/outA", s"$tmp/cpA",
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    qa.awaitTermination() // self-terminates — the form's whole point
    def rows(dir: String) = s.read.parquet(dir)
      .select("point_id", "source_drive_file", "chunk_index")
      .collect().map(_.toSeq).toSet
    assert(rows(s"$tmp/outA") == rows(s"$tmp/outD"),
      "AvailableNow relay landed different rows than the default trigger")
    // rerun over the same checkpoint: no new files, no new rows
    val before = s.read.parquet(s"$tmp/outA").count()
    val qa2 = EventStreams.ingestRelay(s, in, s"$tmp/outA", s"$tmp/cpA",
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    qa2.awaitTermination()
    assert(s.read.parquet(s"$tmp/outA").count() == before)
  }

  test("ingestRelay on a fresh checkpoint over landed stores is refused before it writes") {
    // a fresh checkpoint restarts epochs at 0: the relay would re-read
    // every input file as batch 0 and store each point of a later batch
    // a second time beside its landed copy. The guard must refuse the
    // epoch before any write, with or without the ledger store.
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fresh-cp").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val led = s"$tmp/ledger"
    Seq((1L, "alpha beta gamma delta epsilon"), (2L, "zeta eta theta iota kappa lambda"))
      .foreach { case (id, text) =>
        Seq((id, s"src$id", "en", text.length.toLong, text))
          .toDF("doc_id", "source", "lang", "n_chars", "text").write.mode("append").parquet(in)
      }
    val q1 = EventStreams.ingestRelay(s, in, out, s"$tmp/cp", ledgerDir = Some(led),
      maxFilesPerTrigger = Some(1))
    try q1.processAllAvailable() finally q1.stop()

    def listing(): Seq[Seq[(String, Long, Long)]] = Seq(out, led).map { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
    }
    val before = listing()
    assert(before.forall(_.exists(_._1.contains("/batch_id=1/"))), s"listing: $before")
    Seq(None, Some(led)).zipWithIndex.foreach { case (ledgerDir, i) =>
      val q = EventStreams.ingestRelay(s, in, out, s"$tmp/cp-fresh$i", ledgerDir = ledgerDir)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      q.stop()
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("ingestRelay: table")) &&
        msgs.exists(_.contains("Re-init the indexes")),
        s"stale-checkpoint guard must fire (ledger $ledgerDir): $msgs")
      assert(listing() == before, s"the refused run (ledger $ledgerDir) changed a table")
    }
  }

  test("ingestRelay reads each micro-batch once: input rows = documents, sinks = batch run") {
    // the points lineage and the ledger share one persisted scan, so
    // stream progress counts every document once
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-one-scan").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val led = s"$tmp/ledger"
    val n = 12
    (1 to n).map { i =>
      val text = s"doc $i " + Seq.tabulate(40)(j => s"w${i * j}").mkString(" ")
      (i.toLong, s"src$i", "en", text.length.toLong, text)
    }.toDF("doc_id", "source", "lang", "n_chars", "text").coalesce(1).write.parquet(in)
    val q = EventStreams.ingestRelay(s, in, out, s"$tmp/cp", ledgerDir = Some(led))
    val inputRows = try {
      q.processAllAvailable()
      q.recentProgress.map(_.numInputRows).sum
    } finally q.stop()
    assert(inputRows == n, s"stream progress read $inputRows input rows for $n documents")

    val batch = s.read.parquet(in)
    def idsAndTexts(df: org.apache.spark.sql.DataFrame) =
      df.select("point_id", "text").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val expected = idsAndTexts(graft.pipeline.IngestPipeline.run(batch))
    assert(expected.nonEmpty)
    assert(idsAndTexts(s.read.parquet(out)) == expected)
    val ledgerCols = Seq("source_drive_file", "file_title", "stage_seq", "status",
      "progress_percent", "error_message")
    def ledgerRows(df: org.apache.spark.sql.DataFrame) =
      df.select(ledgerCols.map(col): _*).collect().map(_.toSeq).toSeq
        .sortBy(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Long]))
    val expectedLedger = ledgerRows(graft.pipeline.IngestPipeline.ledgerStages(batch))
    assert(expectedLedger.size == 7 * n)
    assert(ledgerRows(s.read.parquet(led)) == expectedLedger)
  }
}
