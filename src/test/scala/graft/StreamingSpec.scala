package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  private def eventsOf(rows: Event*): MemoryStream[Event] = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    ms.addData(rows: _*)
    ms
  }

  test("tumbling window counts over a stream (watermark + windowed agg)") {
    val ms = eventsOf(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(20), 1, "click", 2.0),
      Event(3, ts(59), 2, "view", 3.0))
    val q = Streams.tumblingCounts(ms.toDF(), width = "30 minutes")
      .writeStream.format("memory").queryName("tumb").outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumb").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", "click", 2L),
        ("2024-01-01 00:30:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("session windows close after the gap") {
    val ms = eventsOf(
      Event(1, ts(0), 7, "click", 1.0),
      Event(2, ts(5), 7, "click", 1.0),  // same session (gap 15m)
      Event(3, ts(40), 7, "click", 1.0)) // new session
    val q = Streams.sessionCounts(ms.toDF(), gap = "15 minutes")
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", 7L, 2L),
        ("2024-01-01 00:40:00.0", 7L, 1L)))
    } finally q.stop()
  }

  test("streaming dedup keeps one row per (user, type)") {
    val ms = eventsOf(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 1, "click", 9.0),
      Event(3, ts(3), 1, "view", 2.0))
    val q = Streams.dedupStream(ms.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates running totals across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = Streams.runningUserTotals(ms.toDS())
      .toDF("user_id", "n", "sum_value")
      .writeStream.format("memory").queryName("tot").outputMode(OutputMode.Update()).start()
    try {
      ms.addData(Event(1, ts(1), 5, "click", 2.0))
      q.processAllAvailable()
      ms.addData(Event(2, ts(2), 5, "click", 3.0))
      q.processAllAvailable()
      val last = spark.table("tot").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(last.contains((5L, 1L, 2.0)), "first batch state")
      assert(last.contains((5L, 2L, 5.0)), "second batch accumulated state")
    } finally q.stop()
  }

  test("topkPerWindow survives a late event for an already-passed window " +
    "(timeout clamped to the watermark instead of throwing)") {
    // advisor round 15: setTimeoutTimestamp(window end) threw
    // IllegalArgumentException once the watermark had passed the window —
    // an unordered/live feed could kill the query. The clamp lets the
    // late-recreated window state flush on a later trigger instead.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def at(s: String) = Timestamp.valueOf(s)
    val ms = MemoryStream[Event]
    val q = Streams.topkPerWindow(ms.toDS())
      .writeStream.format("memory").queryName("topk_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // window [00:00,01:00) opens; watermark still before its end
      ms.addData(Event(1, at("2024-01-01 00:05:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // watermark jumps to 02:50 after this batch; next trigger times out
      // and emits window 0
      ms.addData(Event(2, at("2024-01-01 03:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // LATE event for the long-closed window 0 (type "scroll" so a late
      // flush is distinguishable from the regular close): recreates its
      // state with the watermark (02:50) already past the window end
      // (01:00) — the un-clamped code threw here and failed the query
      ms.addData(Event(3, at("2024-01-01 00:20:00"), 1, "scroll", 1.0))
      q.processAllAvailable()
      // more batches so the clamped timeout (wm+1ms) passes and any
      // late-recreated state flushes
      ms.addData(Event(4, at("2024-01-01 03:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Event(5, at("2024-01-01 04:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Event(6, at("2024-01-01 05:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val w0us = at("2024-01-01 00:00:00").getTime * 1000L
      val w0 = spark.table("topk_late").collect()
        .filter(_.getLong(0) == w0us) // window [00:00,01:00)
        .map(r => (r.getString(1), r.getLong(2), r.getInt(3)))
      // the regular close must have emitted, the query must still be
      // alive (the un-clamped code died at batch 3), and IF the late row
      // reached the operator its flush is a late correction row
      assert(w0.toSeq.headOption.contains(("view", 1L, 1)),
        s"window 0's regular close must emit, got ${w0.toSeq}")
      assert(w0.toSeq.forall(r => r == (("view", 1L, 1)) || r == (("scroll", 1L, 1))),
        s"unexpected window-0 rows: ${w0.toSeq}")
      assert(q.exception.isEmpty, s"query must survive the late event: ${q.exception}")
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits sessions when the gap closes them") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = Streams.closedSessions(ms.toDS())
      .writeStream.format("memory").queryName("closed").outputMode(OutputMode.Append()).start()
    try {
      // session 1: two events 5m apart; then a 40m gap starts session 2
      ms.addData(Event(1, ts(0), 9, "click", 1.0), Event(2, ts(5), 9, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Event(3, ts(45), 9, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("closed").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
      assert(rows.contains((9L, "2024-01-01 00:00:00.0", 2L)),
        s"first session must close when the 40m-later event arrives, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionizer matches batch q_sessionize over the real events table") {
    // the keyed-state sessionizer (flatMapGroupsWithState + event-time
    // timeout) must compute the SAME sessions as the relational window
    // form the catalog checks against DuckDB. Sentinel events far past
    // the data advance the watermark so every real user's final session
    // times out and closes — after that, parity is over the FULL
    // session set (sentinel user excluded).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val evts = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val maxTs = evts.map(_.ts.getTime).max
    val sentinelUser = -1L
    def sentinel(i: Int) = Event(-i.toLong, new Timestamp(
      maxTs + i * 10L * 24 * 3600 * 1000), sentinelUser, "click", 0.0)
    val ms = eventsOf(evts: _*)
    val q = Streams.closedSessions(ms.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      ms.addData(sentinel(1)); q.processAllAvailable()
      ms.addData(sentinel(2)); q.processAllAvailable()
      // Timestamp.getTime is ms-only; micros live in getNanos
      def micros(t: Timestamp): Long =
        t.getTime / 1000 * 1000000L + t.getNanos / 1000
      val streamed = spark.table("sess_parity").as[Streams.ClosedSession]
        .collect().filter(_.user_id != sentinelUser)
        .map(s => (s.user_id, micros(s.start), s.n)).toSet
      val batch = SparkEntry.queries("q_sessionize")(spark, "/root/testdata/sf0.001")
        .select(col("user_id"), col("start_us"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} vs batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("file stream over the driver events table: tumbling counts match the batch form") {
    import org.apache.spark.sql.functions._
    // normalize whatever physical ts the events parquet carries, exactly
    // like the batch loader Tables.t does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the streaming parquet source wants a directory — stage the file
    val dir = java.nio.file.Files.createTempDirectory("graft-evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = Streams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("filestream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filestream")
        .select("wstart", "event_type", "n").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("event_type"), col("n")).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch, "streaming and batch window counts must agree")
    } finally q.stop()
  }

  test("sliding windows assign each event to two windows") {
    val ms = eventsOf(Event(1, ts(45), 1, "click", 1.0))
    val q = Streams.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName("slide").outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val starts = spark.table("slide").collect().map(_.getTimestamp(0).toString).toSet
      assert(starts == Set("2024-01-01 00:00:00.0", "2024-01-01 00:30:00.0"))
    } finally q.stop()
  }

  test("stream-stream join matches views to clicks within the time range") {
    val clicks = eventsOf(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(40), 2, "click", 1.0))
    val views = eventsOf(
      Event(10, ts(8), 1, "view", 1.0),   // within 10m of click 1 -> joins
      Event(11, ts(25), 1, "view", 1.0),  // 20m after click 1 -> out of range
      Event(12, ts(39), 2, "view", 1.0))  // before click 2 -> no match
    val q = Streams.streamStreamJoin(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("ssjoin").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val pairs = spark.table("ssjoin").collect()
        .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
      assert(pairs == Set((1L, 10L)), s"got $pairs")
    } finally q.stop()
  }

  test("foreachBatch record-store sink merges micro-batches idempotently") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_stream_store").toString + "/store"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val ms = MemoryStream[String]
    val stream = ms.toDS().map(graft.model.Record.fresh(_))
    val q = graft.streaming.Streams.recordUpsertSink(stream, store, ckpt).start()
    try {
      ms.addData("doc one text.")
      q.processAllAvailable()
      ms.addData("doc two text.", "doc one text.") // duplicate content re-arrives
      q.processAllAvailable()
      val recs = graft.sources.Sources.readRecords(spark, store).collect()
      assert(recs.map(_.rawText).sorted.toSeq == Seq("doc one text.", "doc two text."),
        "store must hold one record per distinct content after merging batches")
    } finally q.stop()
  }

  test("incremental record-store sink rewrites only the touched id-prefix cells") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_incr").toString
    val store = base + "/store"; val ckpt = base + "/ckpt"
    val ms = MemoryStream[String]
    val q = graft.streaming.Streams.recordUpsertSinkIncremental(
      ms.toDS().map(graft.model.Record.fresh(_)), store, ckpt).start()
    try {
      ms.addData((1 to 40).map(i => s"doc number $i"): _*)
      q.processAllAvailable()
      def cells: Map[String, Set[String]] = new java.io.File(store).listFiles
        .filter(_.getName.startsWith("id_prefix="))
        .map(d => d.getName -> d.listFiles.map(_.getName).toSet).toMap
      val before = cells
      assert(before.size > 4, s"40 docs must spread over several cells, got ${before.keySet}")
      ms.addData("one more late doc")
      q.processAllAvailable()
      val after = cells
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed.size == 1,
        s"a one-doc batch must rewrite exactly its own cell, changed: $changed")
      val texts = graft.sources.Sources.readRecords(spark, store).collect().map(_.rawText)
      assert(texts.length == 41 && texts.contains("one more late doc"),
        "store must hold the union across batches")
    } finally q.stop()
  }

  test("streaming near-dup candidates match the batch simhash pairs across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "a completely different document about parquet row groups",
      4L -> "the quick brown fox jumps over the lazy dog",   // exact dup of 1, later batch
      5L -> "columnar storage formats and vectorized execution engines")
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.streamingNearDups(ms.toDS(), maxHamming = 3,
        portable = true)
      .toDF("doc_a", "doc_b", "band", "hamming")
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try {
      ms.addData(docs.take(3): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(3): _*)   // doc 4 must pair with doc 1 from batch 1
      q.processAllAvailable()
      // the band column makes per-band multiplicity explicit; project it
      // away for the batch (.distinct()ed) pair-set contract
      val streamed = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val batch = graft.operators.TextDedup.simhashPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", maxHamming = 3, portable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batch,
        s"streamed $streamed must equal batch $batch (pairs may repeat per band, sets equal)")
      assert(streamed.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0),
        "the cross-batch exact dup must be detected incrementally")
    } finally q.stop()
  }

  test("streaming segment dedup rebuilds match batch dedupSegments across batch splits") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      1L -> "SITE HEADER\nunique first body",
      2L -> "SITE HEADER\nsecond doc body",
      3L -> "SITE HEADER\nunique first body\nfresh third line")
    val segRows = docs.flatMap { case (id, t) =>
      t.split("\n").zipWithIndex.map { case (s, i) => (id, i, s) } }
    val ms = MemoryStream[(Long, Int, String)]
    val q = graft.streaming.Streams.streamingSegmentDedup(ms.toDS())
      .toDF("doc_id", "pos", "seg", "kept")
      .writeStream.format("memory").queryName("segdedup").outputMode("append").start()
    try {
      // doc 3 arrives a batch later: its header/body dups must be caught
      // against state from batch 1, its fresh line admitted
      ms.addData(segRows.filter(_._1 <= 2): _*)
      q.processAllAvailable()
      ms.addData(segRows.filter(_._1 > 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("segdedup").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getBoolean(3)))
      val rebuilt = streamed.groupBy(_._1).map { case (id, rs) =>
        id -> rs.filter(_._4).sortBy(_._2).map(_._3).mkString("\n") }
      val batch = graft.operators.TextDedup.dedupSegments(
          docs.toDF("doc_id", "text").withColumn("segs",
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.col("text"), "\n")),
          "doc_id", "segs", sep = "\n")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(rebuilt == batch,
        s"streamed rebuilds $rebuilt must equal batch $batch")
      assert(rebuilt(3L) == "fresh third line",
        "cross-batch duplicate segments must be dropped incrementally")
    } finally q.stop()
  }

  test("composed at-ingest prep: quality gate then segment dedup in one streaming query") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split => fsplit}
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
    // doc 2 fails the gate (too short); doc 3 arrives a batch later and
    // must dedup its boilerplate line against doc 1's state
    val docs = Seq(
      1L -> ("the shared header line for a site\n" +
        "the first body is a long line of words for the gate to pass on"),
      2L -> "tiny",
      3L -> ("the shared header line for a site\n" +
        "the third doc body is another long line of words for the gate"))
    val ms = MemoryStream[(Long, String)]
    // ONE streaming query: stateless gate -> segment explode -> keyed dedup
    val gated = ms.toDS().toDF("doc_id", "text")
      .filter(graft.functions.QualityGate.quality_gate(col("text"), stop, 2) === "ok")
      .select(col("doc_id"), org.apache.spark.sql.functions.posexplode(
        fsplit(col("text"), "\n")).as(Seq("pos", "seg")))
      .as[(Long, Int, String)]
    val q = graft.streaming.Streams.streamingSegmentDedup(gated)
      .toDF("doc_id", "pos", "seg", "kept")
      .writeStream.format("memory").queryName("prep_ingest").outputMode("append").start()
    try {
      ms.addData(docs.take(2): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("prep_ingest").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getBoolean(3)))
      assert(!streamed.exists(_._1 == 2L), "gated-out doc must never reach dedup state")
      val rebuilt = streamed.groupBy(_._1).map { case (id, rs) =>
        id -> rs.filter(_._4).sortBy(_._2).map(_._3).mkString("\n") }
      val batchGated = docs.toDF("doc_id", "text")
        .filter(graft.functions.QualityGate.quality_gate(col("text"), stop, 2) === "ok")
      val batch = graft.operators.TextDedup.dedupSegments(
          batchGated.withColumn("segs", fsplit(col("text"), "\n")),
          "doc_id", "segs", sep = "\n")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(rebuilt == batch, s"streamed rebuilds $rebuilt must equal batch $batch")
      assert(!rebuilt(3L).contains("shared header"),
        "cross-batch boilerplate must be dropped at ingest")
    } finally q.stop()
  }

  test("streaming minhash near-dups match batch minhashPairs across batch splits") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy cat tonight",
      3L -> "a completely different document about parquet row groups",
      4L -> "the quick brown fox jumps over the lazy dog tonight", // exact dup of 1, later batch
      5L -> "columnar storage formats and vectorized execution engines")
    def batchPairs = graft.operators.TextDedup.minhashPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.2, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // two different splits must both land on the batch pair set
    for (splitAt <- Seq(2, 3)) {
      val ms = MemoryStream[(Long, String)]
      val name = s"neardup_mh_$splitAt"
      val q = graft.streaming.Streams.streamingNearDupsMinHash(
          ms.toDS(), threshold = 0.2, portable = true)
        .toDF("doc_a", "doc_b", "band", "n_match", "est_jaccard")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData(docs.take(splitAt): _*)
        q.processAllAvailable()
        ms.addData(docs.drop(splitAt): _*)
        q.processAllAvailable()
        val rows = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
        // band rides every row (the multiset contract made explicit):
        // (a, b, band) never repeats, while the band-projected pair set
        // equals the batch .distinct()ed output
        assert(rows.map(p => (p._1, p._2, p._3)).distinct.length == rows.length,
          s"split@$splitAt: a pair must surface at most once per band")
        val streamed = rows.map(p => (p._1, p._2, p._4, p._5)).toSet
        assert(streamed == batchPairs,
          s"split@$splitAt: streamed $streamed must equal batch $batchPairs")
        assert(streamed.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 32),
          "the cross-batch exact dup must agree on the full signature")
      } finally q.stop()
    }
  }

  /** Wait until the query has committed a batch whose source end-offset
    * reaches `n` (MemoryStream offsets are the running addData count).
    * `processAllAvailable` CANNOT be used once a processing-time timeout
    * is registered: FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    * then always true, the engine keeps scheduling (empty) batches to
    * fire future timeouts, and the no-new-data signal never arrives —
    * the call parks forever by design, not by bug. */
  private def awaitOffset(q: org.apache.spark.sql.streaming.StreamingQuery,
      addDataCalls: Long, timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    // MemoryStream offsets are 0-based block indexes: the Nth addData
    // block is fully processed once endOffset reaches N-1
    def reached: Boolean = Option(q.lastProgress).exists { p =>
      p.sources.nonEmpty && Option(p.sources(0).endOffset).exists { o =>
        val digits = o.replaceAll("[^0-9]", "")
        digits.nonEmpty && digits.toLong >= addDataCalls - 1
      }
    }
    while (!reached && System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(reached,
      s"stream did not commit addData block $addDataCalls in ${timeoutMs}ms")
  }

  test("idleTtl bounds near-dup state: expired entries stop matching, idle buckets drop") {
    // the crawl-feed eviction knob: with a tiny TTL, a doc arriving long
    // after its near-twin must NOT pair (the entry expired and its
    // maxBucket slot was freed); with no TTL the same schedule pairs.
    // Deliberately generous sleeps vs the 150ms TTL keep this stable on
    // a loaded host.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // an exact duplicate: guaranteed hamming 0, pairs in every band
    val first = 1L -> "the quick brown fox jumps over the lazy dog"
    val late = 2L -> "the quick brown fox jumps over the lazy dog"
    for ((ttl, expectPair) <- Seq(
        Some(java.time.Duration.ofMillis(150)) -> false,
        (None: Option[java.time.Duration]) -> true)) {
      val ms = MemoryStream[(Long, String)]
      val name = s"neardup_ttl_${expectPair}"
      val q = graft.streaming.Streams.streamingNearDups(ms.toDS(), maxHamming = 3,
          portable = true, idleTtl = ttl)
        .toDF("doc_a", "doc_b", "band", "hamming")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData(first)
        if (ttl.isDefined) awaitOffset(q, 1) else q.processAllAvailable()
        if (ttl.isDefined) Thread.sleep(1000) // let every admission expire
        ms.addData(late)
        if (ttl.isDefined) awaitOffset(q, 2) else q.processAllAvailable()
        val pairs = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        if (expectPair)
          assert(pairs == Set((1L, 2L)), s"no-TTL run must pair: $pairs")
        else
          assert(pairs.isEmpty,
            s"doc 1's entries outlived a 150ms TTL across a 1s gap: $pairs")
      } finally q.stop()
    }
  }

  test("idleTtl with co-resident docs keeps batch parity (pairs inside the window)") {
    // the TTL contract's other half: docs arriving within one TTL window
    // still produce exactly the batch pair set — eviction only forgoes
    // pairs across a longer gap than the knob allows.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog")
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.streamingNearDups(ms.toDS(), maxHamming = 3,
        portable = true, idleTtl = Some(java.time.Duration.ofHours(1)))
      .toDF("doc_a", "doc_b", "band", "hamming")
      .writeStream.format("memory").queryName("neardup_ttl_parity")
      .outputMode("append").start()
    try {
      ms.addData(docs.head)
      awaitOffset(q, 1)
      ms.addData(docs(1))
      awaitOffset(q, 2)
      val streamed = spark.table("neardup_ttl_parity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val batch = graft.operators.TextDedup.simhashPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", maxHamming = 3,
          portable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(batch.nonEmpty, "fixture must actually pair or parity is vacuous")
      assert(streamed == batch,
        s"inside the TTL window streamed $streamed must equal batch $batch")
    } finally q.stop()
  }

  test("backfill replay: processing-time TTL drops a pair event-time TTL must keep") {
    // the round-7 scenario: a HISTORICAL stream (docs 30 event-minutes
    // apart) replayed at replay speed with >1s of wall clock between
    // batches. A wall-clock TTL of 150ms evicts doc 1 before doc 2
    // arrives — the pair is lost even though the docs are co-resident in
    // event time. The event-time variant (TTL = 1 event-hour) must keep
    // batch parity on the identical schedule.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    val docsTs = Seq((1L, text, ts(0)), (2L, text, ts(30)))

    // wall-clock TTL loses the pair (the misbehavior, pinned)
    val msP = MemoryStream[(Long, String)]
    val qP = graft.streaming.Streams.streamingNearDups(msP.toDS(), maxHamming = 3,
        portable = true, idleTtl = Some(java.time.Duration.ofMillis(150)))
      .toDF("doc_a", "doc_b", "band", "hamming")
      .writeStream.format("memory").queryName("backfill_proc").outputMode("append").start()
    try {
      msP.addData(docsTs.head._1 -> docsTs.head._2)
      awaitOffset(qP, 1)
      Thread.sleep(1200) // replay pause: tiny in event time terms, fatal for a wall-clock TTL
      msP.addData(docsTs(1)._1 -> docsTs(1)._2)
      awaitOffset(qP, 2)
      assert(spark.table("backfill_proc").isEmpty,
        "wall-clock TTL kept the pair; the scenario no longer discriminates")
    } finally qP.stop()

    // event-time TTL on the SAME schedule keeps batch parity
    val msE = MemoryStream[(Long, String, Timestamp)]
    val qE = graft.streaming.Streams.streamingNearDupsEventTime(msE.toDS(),
        ttl = java.time.Duration.ofHours(1), maxHamming = 3, portable = true)
      .toDF("doc_a", "doc_b", "band", "hamming")
      .writeStream.format("memory").queryName("backfill_event").outputMode("append").start()
    try {
      msE.addData(docsTs.head)
      awaitOffset(qE, 1)
      Thread.sleep(1200)
      msE.addData(docsTs(1))
      awaitOffset(qE, 2)
      val streamed = spark.table("backfill_event").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val batch = graft.operators.TextDedup.simhashPairs(
          docsTs.map(d => (d._1, d._2)).toDF("doc_id", "text"), "doc_id", "text",
          maxHamming = 3, portable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(batch.nonEmpty, "fixture must actually pair or parity is vacuous")
      assert(streamed == batch,
        s"event-time TTL must keep batch parity on a backfill: $streamed vs $batch")
    } finally qE.stop()
  }

  test("event-time TTL evicts entries a full window behind the arriving doc") {
    // same text, event times 0min, 30min, 120min with a 1h TTL: doc 3 is
    // >1h past BOTH stored entries, so it must pair with neither (and
    // the expired entries' capacity is freed); docs 1-2 still pair.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    val ms = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.Streams.streamingNearDupsEventTime(ms.toDS(),
        ttl = java.time.Duration.ofHours(1), maxHamming = 3, portable = true)
      .toDF("doc_a", "doc_b", "band", "hamming")
      .writeStream.format("memory").queryName("event_ttl_evict").outputMode("append").start()
    try {
      ms.addData((1L, text, ts(0)))
      awaitOffset(q, 1)
      ms.addData((2L, text, ts(30)))
      awaitOffset(q, 2)
      ms.addData((3L, text, ts(120)))
      awaitOffset(q, 3)
      val pairs = spark.table("event_ttl_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)),
        s"only the co-resident 1-2 pair may surface, got $pairs")
    } finally q.stop()
  }

  test("event-time TTL: out-of-order arrival cannot lose a co-resident pair") {
    // the review scenario: watermark delay 2h, TTL 1h. Doc 1 at t=0,
    // then doc 2 arrives EARLY at t=2h (no pair, 2h > TTL), then doc 3
    // arrives out of order at t=30min — still admissible under the 2h
    // delay, and co-resident with doc 1 in event time. Eviction keyed on
    // an arriving doc's own timestamp would have dropped doc 1 when doc
    // 2 arrived; watermark-keyed eviction must keep the (1, 3) pair.
    // The symmetric matching window also forbids a (2, 3) pair (1.5h
    // apart > TTL) even though 3 arrives after 2.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    val ms = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.Streams.streamingNearDupsEventTime(ms.toDS(),
        ttl = java.time.Duration.ofHours(1), maxHamming = 3, portable = true,
        watermarkDelay = "2 hours")
      .toDF("doc_a", "doc_b", "band", "hamming")
      .writeStream.format("memory").queryName("event_ttl_ooo").outputMode("append").start()
    try {
      ms.addData((1L, text, ts(0)))
      awaitOffset(q, 1)
      ms.addData((2L, text, ts(120)))
      awaitOffset(q, 2)
      ms.addData((3L, text, ts(30)))
      awaitOffset(q, 3)
      val pairs = spark.table("event_ttl_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 3L)),
        s"only the co-resident out-of-order 1-3 pair may surface, got $pairs")
    } finally q.stop()
  }

  test("minhash event-time TTL: backfill keeps batch parity, stale entries evict") {
    // the MinHash twin of the backfill scenario: docs 30 event-minutes
    // apart pair under a 1h event-time TTL despite a >1s wall pause; a
    // third doc 2 event-hours later pairs with nothing.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val ms = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.Streams.streamingNearDupsMinHashEventTime(ms.toDS(),
        threshold = 0.5, ttl = java.time.Duration.ofHours(1), portable = true)
      .toDF("doc_a", "doc_b", "band", "n_match", "est_jaccard")
      .writeStream.format("memory").queryName("mh_event_ttl").outputMode("append").start()
    try {
      ms.addData((1L, text, ts(0)))
      awaitOffset(q, 1)
      Thread.sleep(1200)
      ms.addData((2L, text, ts(30)))
      awaitOffset(q, 2)
      ms.addData((3L, text, ts(120)))
      awaitOffset(q, 3)
      val pairs = spark.table("mh_event_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)),
        s"only the co-resident 1-2 pair may surface, got $pairs")
      // parity on the co-resident prefix: identical docs agree on the
      // full signature, so the streamed rows projected+deduped equal the
      // batch pair set over docs 1-2
      val streamed12 = spark.table("mh_event_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
      val batch = graft.operators.TextDedup.minhashPairs(
          Seq(1L -> text, 2L -> text).toDF("doc_id", "text"), "doc_id", "text",
          threshold = 0.5, portable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(batch.nonEmpty && streamed12.map(p => (p._1, p._2, p._3)) == batch,
        s"co-resident prefix must match batch: $streamed12 vs $batch")
    } finally q.stop()
  }

  test("streaming embedding near-dups match batch LSH cosinePairs across splits") {
    // at-ingest semantic dedup: the streamed pair set over the real
    // embeddings table must equal the batch bucket path's
    // (q_dedup_embedding_lsh's candidate stage) for any batch split —
    // same build-time sign planes, same index-order dots, same rounding.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    import org.apache.spark.sql.functions.{array, col, lit, when}
    val lshBucket = (0 until 8).map { j =>
      val plane = array(graft.functions.LshPlanes.planes(j).map(x => lit(x.toDouble)): _*)
      when(graft.functions.VecDot.vec_dot(col("v"), plane) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val batch = graft.operators.Similarity.cosinePairs(
        vecs, threshold = 0.3, bucket = Some(lshBucket))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must pair or parity is vacuous")
    val rows = vecs.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    for (splitAt <- Seq(rows.length / 3, rows.length / 2)) {
      val ms = MemoryStream[(Long, Seq[Double])]
      val name = s"emb_neardup_$splitAt"
      val q = graft.streaming.Streams.streamingNearDupsEmbedding(ms.toDS(), threshold = 0.3)
        .toDF("vec_a", "vec_b", "cos")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData(rows.take(splitAt): _*)
        q.processAllAvailable()
        ms.addData(rows.drop(splitAt): _*)
        q.processAllAvailable()
        val streamed = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(streamed.distinct.length == streamed.length,
          s"split@$splitAt: one bucket per vector => each pair at most once")
        assert(streamed.toSet == batch,
          s"split@$splitAt: streamed ${streamed.toSet.size} pairs must equal batch ${batch.size}")
      } finally q.stop()
    }
  }

  test("streaming contamination matches the batch cross-overlap pairs across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val benchmark = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (200L, "parquet row groups and column chunks explained")).toDF("doc_id", "text")
    val stream = Seq(
      1L -> "alpha beta gamma delta something else entirely", // 3 shared shingles w/ 100
      2L -> "no overlap with any benchmark document here",
      3L -> "row groups and column chunks explained nicely",  // shares with 200, later batch
      4L -> "alpha beta gamma but then it diverges")          // 1 shared shingle: below min
    val batch = graft.operators.TextDedup.crossOverlapPairs(
        stream.toDF("doc_id", "text"), benchmark, "doc_id", "text",
        minOverlap = 2, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && !batch.exists(_._1 == 4L),
      s"fixture must contaminate above and below the threshold: $batch")
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.streamingContamination(
        ms.toDS(), benchmark, "doc_id", "text", minOverlap = 2, portable = true)
      .writeStream.format("memory").queryName("contam").outputMode("update").start()
    try {
      ms.addData(stream.take(2): _*)
      q.processAllAvailable()
      ms.addData(stream.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("contam").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"streamed $streamed must equal batch $batch")
    } finally q.stop()
  }

  test("incremental sink is split-invariant: any micro-batching equals the one-shot merge") {
    // Property (seeded): a random update stream — random docs at random
    // annotation depths, with repeats both across and WITHIN batches —
    // pushed through the incremental sink under a random batch split must
    // leave exactly the store a single Sources.upsert of the whole stream
    // would, and each batch may rewrite only the id-prefix cells its
    // records hash into. Annotation depth is the richness ladder
    // (fresh < TOKEN < POS), so richer-wins has deterministic,
    // depth-identical ties and the fold is associative over any split.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.{AnnotationMode => M, Annotators => A}
    import graft.plans.Planner
    def rec(t: String, d: Int): graft.model.Record = d match {
      case 0 => graft.model.Record.fresh(t)
      case 1 => Planner.provide(A.registry, Planner.chain(M.TOKEN), force = false)(
        graft.model.Record.fresh(t))
      case _ => Planner.provide(A.registry, Planner.chain(M.POS), force = false)(
        graft.model.Record.fresh(t))
    }
    for (seed <- Seq(11, 97)) {
      val rnd = new scala.util.Random(seed)
      val texts = (1 to 10).map(i => s"property doc $i with several words of text")
      val updates = Seq.fill(24)((texts(rnd.nextInt(texts.size)), rnd.nextInt(3)))
      // random split preserving order: 3-6 non-empty batches
      val cuts = rnd.shuffle((1 until updates.size).toList)
        .take(2 + rnd.nextInt(4)).sorted
      val bounds = List(0) ++ cuts ++ List(updates.size)
      val batches = bounds.zip(bounds.tail).map { case (a, b) => updates.slice(a, b) }
      val base = java.nio.file.Files.createTempDirectory(s"graft_prop_$seed").toString
      val store = base + "/store"; val ckpt = base + "/ckpt"
      val ms = MemoryStream[(String, Int)]
      val q = graft.streaming.Streams.recordUpsertSinkIncremental(
        ms.toDS().map { case (t, d) => rec(t, d) }, store, ckpt).start()
      def cellState: Map[String, Set[String]] = {
        val f = new java.io.File(store)
        if (!f.exists) Map.empty
        else f.listFiles.filter(_.getName.startsWith("id_prefix="))
          .map(d => d.getName -> d.listFiles.map(f => f.getName + f.lastModified).toSet)
          .toMap
      }
      try {
        for (b <- batches) {
          val before = cellState
          ms.addData(b: _*)
          q.processAllAvailable()
          val after = cellState
          val touched = b.map { case (t, d) => rec(t, d).identifier.substring(0, 1) }
            .map("id_prefix=" + _).toSet
          val changed = (before.keySet ++ after.keySet)
            .filter(k => before.get(k) != after.get(k))
          assert(changed == touched,
            s"seed $seed: batch touching $touched rewrote $changed")
        }
      } finally q.stop()
      val got = graft.sources.Sources.readRecords(spark, store).collect()
        .map(r => r.identifier -> (r.rawText, r.viewNames.toSeq.sorted)).toMap
      val oneShot = graft.sources.Sources.upsert(
          spark.emptyDataset[graft.model.Record],
          spark.createDataset(updates.map { case (t, d) => rec(t, d) }))
        .collect().map(r => r.identifier -> (r.rawText, r.viewNames.toSeq.sorted)).toMap
      assert(got == oneShot,
        s"seed $seed: ${batches.size}-way split diverged from the one-shot merge")
    }
  }

  test("record-store swap recovers when a crash left the store missing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_recover").toString
    val store = base + "/store"; val ckpt = base + "/ckpt"
    val ms = MemoryStream[String]
    val q = graft.streaming.Streams.recordUpsertSink(
      ms.toDS().map(graft.model.Record.fresh(_)), store, ckpt).start()
    try {
      ms.addData("first doc.")
      q.processAllAvailable()
      // simulate a crash between `store -> _bak` and `_tmp -> store`: the
      // store path vanishes and the only full copy sits in _bak — the old
      // delete-then-rename swap lost the whole archive here (the next
      // batch saw an empty store and overwrote the sole copy)
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(store), new org.apache.hadoop.fs.Path(store + "_bak")))
      ms.addData("second doc.")
      q.processAllAvailable()
      val recs = graft.sources.Sources.readRecords(spark, store).collect()
      assert(recs.map(_.rawText).sorted.toSeq == Seq("first doc.", "second doc."),
        "the archive must survive a mid-swap crash (recovered from _bak)")
    } finally q.stop()
  }

  test("at-ingest chunk-level dedup: streamingSegmentDedup over chunk rows drops cross-batch repeats") {
    // chunk rows (doc_id, chunk_idx, chunk_text) are exactly the segment
    // shape, so the q_dedup_chunks contract runs at ingest on the same
    // keyed-state operator: state per distinct chunk is one boolean on
    // the 16-byte hash, chunk text never enters the store
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i")
    def chunks(ws: Seq[String]) =
      (0 until ws.length by 48).map(st => ws.slice(st, st + 64).mkString(" "))
    val d1 = chunks(words(0, 100))
    val rows1 = d1.zipWithIndex.map { case (c, i) => (1L, i, c) }
    val rows2 = d1.zipWithIndex.map { case (c, i) => (2L, i, c) } // repeat, later batch
    val rows3 = chunks(words(200, 300)).zipWithIndex.map { case (c, i) => (3L, i, c) }
    val ms = MemoryStream[(Long, Int, String)]
    val q = graft.streaming.Streams.streamingSegmentDedup(ms.toDS())
      .toDF("doc_id", "idx", "chunk", "kept")
      .writeStream.format("memory").queryName("chunkdedup").outputMode("append").start()
    try {
      ms.addData(rows1: _*); q.processAllAvailable()
      ms.addData(rows2 ++ rows3: _*); q.processAllAvailable()
      val kept = spark.table("chunkdedup").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(3)).toMap
      assert(rows1.forall(r => kept((1L, r._2))), "first occurrences must keep")
      assert(rows2.forall(r => !kept((2L, r._2))),
        "chunks first seen in an earlier batch must drop")
      assert(rows3.forall(r => kept((3L, r._2))), "fresh chunks must keep")
    } finally q.stop()
  }

  test("replay harnesses are schedule-independent: emitted sets are a " +
    "property of the data, not the batch split") {
    import spark.implicits._
    // sessions: 3 users, gaps straddling the 15-min default
    val ev = Seq(
      (1L, ts(0), 1L, "view", 1.0), (2L, ts(5), 1L, "click", 1.0),
      (3L, ts(30), 1L, "view", 1.0), // user 1: gap 25 min => 2 sessions
      (4L, ts(2), 2L, "view", 1.0), (5L, ts(3), 2L, "purchase", 1.0),
      (6L, ts(50), 3L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    def sess(b: Int) = Streams.replayClosedSessions(ev, batches = b)
      .select("user_id", "start", "n").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val s1 = sess(1)
    assert(s1 == sess(3) && s1 == sess(6), "session replay must not depend on batching")
    assert(s1 == Set((1L, ts(0), 2L), (1L, ts(30), 1L),
      (2L, ts(2), 2L), (3L, ts(50), 1L)), s"sessions: $s1")

    // near-dups: two identical docs + one distinct
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")).toDF("doc_id", "text")
    def nd(b: Int) = Streams.replayNearDups(docs, batches = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val n1 = nd(1)
    assert(n1 == nd(2) && n1 == nd(3), "near-dup replay must not depend on batching")
    assert(n1.map(p => (p._1, p._2)) == Set((1L, 2L)) && n1.size == 4,
      s"identical docs pair in all 4 bands: $n1")

    // interval join: view->click within 10 min, same user only
    val jev = Seq(
      (1L, ts(0), 1L, "view", 1.0), (2L, ts(5), 1L, "click", 1.0),
      (3L, ts(20), 1L, "click", 1.0), // 20 min after the view: out of range
      (4L, ts(1), 2L, "click", 1.0)   // other user: no matching view
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    def jn(b: Int) = Streams.replayStreamJoin(jev, "view", "click", batches = b)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val j1 = jn(1)
    assert(j1 == jn(2) && j1 == jn(4), "join replay must not depend on batching")
    assert(j1 == Set((1L, 2L)), s"pairs: $j1")

    // per-window top-k: count ties break by type name, rank 4 is cut,
    // an hour with no events emits nothing (no state, no window)
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 02:05:00")
    val tev = Seq(
      (1L, ts(0), 1L, "a", 1.0), (2L, ts(1), 1L, "a", 1.0),
      (3L, ts(2), 1L, "a", 1.0), (4L, ts(3), 1L, "b", 1.0),
      (5L, ts(4), 1L, "b", 1.0), (6L, ts(5), 1L, "c", 1.0),
      (7L, ts(6), 1L, "c", 1.0), (8L, ts(7), 1L, "d", 1.0),
      (9L, t2, 1L, "e", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    def tk(b: Int) = Streams.replayTopkPerWindow(tev, k = 3, batches = b)
      .select("wstart_us", "event_type", "n", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    def wus(t: java.sql.Timestamp) = (t.getTime / 3600000L) * 3600000000L
    val k1 = tk(1)
    assert(k1 == tk(2) && k1 == tk(5), "top-k replay must not depend on batching")
    assert(k1 == Set(
      (wus(ts(0)), "a", 3L, 1), (wus(ts(0)), "b", 2L, 2),
      (wus(ts(0)), "c", 2L, 3), (wus(t2), "e", 1L, 1)),
      s"top-k rows: $k1")

    // sliding windows (1h width, 30min slide): each event lands in TWO
    // windows; the hand expansion is exact
    val sev = Seq(
      (1L, ts(0), 1L, "view", 1.0), (2L, ts(10), 1L, "view", 1.0),
      (3L, ts(40), 1L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    def sl(b: Int) = Streams.replaySlidingCounts(sev, batches = b)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet
    val s30 = 30L * 60 * 1000
    val base = ts(0).getTime // 2024-01-01 00:00, 30-min aligned
    val sl1 = sl(1)
    assert(sl1 == sl(2) && sl1 == sl(3), "sliding replay must not depend on batching")
    assert(sl1 == Set((base - s30, 2L), (base, 3L), (base + s30, 1L)),
      s"sliding rows: $sl1")
  }
}
