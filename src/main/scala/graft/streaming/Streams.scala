package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the event-table operators (SURVEY.md §2c
  * streaming row). Batch-checkable equivalents live in
  * [[graft.queries.Relational]] (`q_window_tumbling` etc.) — the driver's
  * DuckDB oracle validates the window semantics there; these are the
  * `readStream`-shaped versions with watermarks and state.
  *
  * Scale notes: all of these are keyed-state operators — state is
  * partitioned by (window/user) key across executors, watermarks bound state
  * size, and sinks are idempotent by (key, window) for exactly-once output.
  */
object Streams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Tumbling-window counts with late-data drop. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
      width: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window counts. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes",
      width: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("n"))

  /** Session windows per user (gap-based). */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes",
      gap: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("sstart"), col("user_id"), col("n"))

  /** Streaming dedup on (user_id, event_type) within the watermark horizon. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(Seq("user_id", "event_type"))

  /** Custom keyed state: running per-user event count + running value sum,
    * via mapGroupsWithState (the engine's stateful-operator surface,
    * replacing the reference's per-node server state). */
  def runningUserTotals(events: Dataset[Event]): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout()) {
        case (user, batch, state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          batch.foreach { e => n += 1; s += e.value }
          state.update((n, s))
          (user, n, s)
      }
  }

  final case class SessionState(start: java.sql.Timestamp, last: java.sql.Timestamp, n: Long)
  final case class ClosedSession(user_id: Long, start: java.sql.Timestamp, n: Long)

  final case class TopkRow(wstart_us: Long, event_type: String, n: Long, rk: Int)
  final case class WindowTypeCounts(counts: Map[String, Long])

  /** Per-window TOP-K heavy hitters AT INGEST — the streaming-state shape
    * the other replays don't cover: MAP-valued keyed state (one counter
    * per distinct type per open window, bounded by the type cardinality ×
    * open windows, never the event volume) with a RANKED multi-row
    * emission fired by the event-time timeout at window close. Unlike
    * [[tumblingCounts]] (which must emit every (window, type) row and
    * leave ranking to the reader), the rank happens inside the state
    * operator, so the sink receives exactly k rows per window — the
    * dashboard/alerting contract. Emission is exactly-once per window
    * (timeout fires when the watermark passes the window end; state is
    * removed on emit), and under a no-late-data feed the counts are a
    * property of the data, not the schedule — what lets the batch SQL
    * oracle replay the ranked result verbatim. */
  def topkPerWindow(events: Dataset[Event], windowMs: Long = 3600 * 1000L,
      k: Int = 3, watermark: String = "10 minutes"): Dataset[TopkRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(e => (e.ts.getTime / windowMs) * windowMs)
      .flatMapGroupsWithState[WindowTypeCounts, TopkRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (wstart, batch, state: GroupState[WindowTypeCounts]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.toList.flatMap { s =>
              s.counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(k)
                .zipWithIndex.map { case ((t, n), i) =>
                  TopkRow(wstart * 1000L, t, n, i + 1) }
            }
            state.remove()
            out.iterator
          } else {
            val m = scala.collection.mutable.Map.empty[String, Long]
            state.getOption.foreach(s => m ++= s.counts)
            batch.foreach(e =>
              m.update(e.event_type, m.getOrElse(e.event_type, 0L) + 1L))
            state.update(WindowTypeCounts(m.toMap))
            // clamp to the watermark (advisor round 15): on an unordered
            // live feed a late event for an already-passed window would
            // otherwise make Spark throw (timeout earlier than watermark)
            // instead of letting the window flush on the next trigger —
            // the same clamp the TTL-state operators use. Under the
            // replay caller's ordering contract the max() is a no-op.
            state.setTimeoutTimestamp(math.max(wstart + windowMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Sessionization with explicit state + event-time timeout via
    * flatMapGroupsWithState: emits a session only when it CLOSES (gap
    * exceeded or state timed out past the watermark) — the pattern for
    * unbounded keyed state with bounded memory. */
  def closedSessions(events: Dataset[Event], gapMs: Long = 15 * 60 * 1000L): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s => ClosedSession(user, s.start, s.n))
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            for (e <- sorted) {
              cur match {
                case Some(s) if e.ts.getTime - s.last.getTime < gapMs =>
                  cur = Some(s.copy(last = e.ts, n = s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(user, s.start, s.n)
                  cur = Some(SessionState(e.ts, e.ts, 1))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // watermark clamp, same rationale as topkPerWindow: a late
              // batch whose session already expired must not set a
              // timeout behind the watermark (Spark throws)
              state.setTimeoutTimestamp(math.max(s.last.getTime + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream inner join on user within an event-time range. Both
    * sides carry watermarks and the join condition bounds r_ts to a window
    * after l_ts, so each side's buffered state is bounded by
    * watermark + range — the join state cannot grow without limit, which
    * is what makes this runnable forever at cluster scale. */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      watermark: String = "10 minutes",
      range: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_type").as("r_type"), col("event_id").as("r_id"))
    l.join(r, col("user_id") === col("r_user") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $range"))
  }

  /** Streaming near-duplicate candidate detection: SimHash pigeonhole
    * bands as keyed state. Each arriving document fans out to its
    * `maxHamming + 1` band buckets (`flatMap`, the streaming twin of the
    * batch `simhash_bands` generator); per (band, bkey) bucket the state
    * holds the (doc_id, simhash) pairs seen so far, and a new arrival
    * emits `(doc_a, doc_b, band, hamming)` for every stored doc within
    * `maxHamming` — incremental dedup for a corpus that grows batch by
    * batch (a crawl feed), without rescanning the archive.
    *
    * Contracts: a candidate pair surfaces once per shared band — the
    * BAND INDEX is part of the output row precisely so this multiset
    * contract is impossible to miss (project it away and `.distinct()`
    * for the batch `.distinct()`ed pair set; counting rows without doing
    * so double-counts pairs that collide in several bands). `maxBucket`
    * caps per-bucket state: arrivals to a full bucket are ignored (the
    * streaming form of the degenerate-bucket guard — a batch cap drops
    * the whole bucket retroactively; a stream cannot). Intra-batch
    * arrivals process in doc_id order and re-deliveries of an
    * already-stored doc_id are no-ops, so output is deterministic for
    * any batch split AS LONG AS no bucket reaches `maxBucket`: admission
    * to a cap-straddling bucket is first-arrival, and which docs arrive
    * first depends on the batching (a bucket at cap−1 admits doc 3 from
    * the single batch {3, 5} but doc 5 from the split [5], [3]). Pairs
    * among admitted docs are still exact; only the admission set of
    * degenerate buckets is batching-dependent — the price of capping
    * without retroactive eviction.
    *
    * State: |docs|·bands rows of 16 bytes plus an admission timestamp,
    * hash-partitioned across executors (RocksDB-backed state stores hold
    * it off-heap). With `idleTtl = None` dedup state never expires —
    * right for a bounded backfill, unbounded for a crawl that runs for
    * months. `idleTtl = Some(d)` bounds it two ways: entries older than
    * `d` (processing time at admission) stop matching and are dropped at
    * the bucket's next update, freeing their `maxBucket` capacity
    * (arrival-order eviction), and a bucket IDLE for `d` is removed
    * whole by a processing-time timeout. Under a TTL the batch-parity
    * contract is scoped: the streamed pair set equals the batch
    * operator's over any docs co-resident within one TTL window; pairs
    * across a longer gap are consciously forgone (the knob's purpose —
    * a crawl revisiting a URL a month later is a re-crawl, not a dup).
    * Engine caveat when a TTL is set: a registered processing-time
    * timeout makes `shouldRunAnotherBatch` permanently true, so the
    * micro-batch engine keeps scheduling (empty) batches to fire future
    * timeouts and `StreamingQuery.processAllAvailable` never receives
    * its no-new-data signal — it parks forever. Pair the query with a
    * real `Trigger.ProcessingTime` interval in production, and await
    * committed source offsets (not processAllAvailable) in tests.
    * `idleTtl` measures WALL CLOCK: replaying a historical feed faster
    * than real time evicts entries that were co-resident in event time —
    * use [[streamingNearDupsEventTime]] for backfills. */
  def streamingNearDups(
      docs: Dataset[(Long, String)],
      maxHamming: Int = 3,
      maxBucket: Int = 1024,
      portable: Boolean = false,
      idleTtl: Option[java.time.Duration] = None): Dataset[(Long, Long, Int, Int)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = maxHamming + 1
    val width = 60 / bands
    val mask = (1L << width) - 1
    val ttlMs = idleTtl.map(_.toMillis).getOrElse(0L)
    val timeoutConf =
      if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val banded = docs.flatMap { case (id, text) =>
      if (text == null) Iterator.empty
      else {
        val sig = graft.functions.SimHash64.evalText(
          org.apache.spark.unsafe.types.UTF8String.fromString(text), portable)
        (0 until bands).iterator.map(b => (b, (sig >>> (b * width)) & mask, id, sig))
      }
    }
    banded.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
            state: GroupState[Seq[(Long, Long, Long)]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val now = state.getCurrentProcessingTimeMs()
            var seen = state.getOption.getOrElse(Seq.empty)
              .filter(e => ttlMs <= 0 || now - e._3 <= ttlMs)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
            for ((b, _, id, sig) <- rows.toSeq.sortBy(_._3)
                 if !seen.exists(_._1 == id) && seen.size < maxBucket) {
              for ((oid, osig, _) <- seen) {
                val h = java.lang.Long.bitCount(osig ^ sig)
                if (h <= maxHamming)
                  out += ((math.min(oid, id), math.max(oid, id), b, h))
              }
              seen = seen :+ ((id, sig, now))
            }
            if (seen.isEmpty) state.remove() else state.update(seen)
            if (ttlMs > 0 && seen.nonEmpty) state.setTimeoutDuration(ttlMs)
            out.iterator
          }
        })
  }

  /** [[streamingNearDups]] with EVENT-TIME expiry — the variant a backfill
    * replay needs. `idleTtl` evicts by processing (wall-clock) time, so
    * replaying a historical feed at replay speed evicts entries that were
    * co-resident in event time: two docs a minute apart in the data but a
    * TTL apart on the wall clock lose their pair. Here each doc carries
    * an event timestamp, the TTL is measured between EVENT times, and the
    * whole-bucket timeout rides the watermark (`EventTimeTimeout`), so
    * the same historical stream produces the same pairs at any replay
    * speed — and batch parity holds for docs within one TTL window in
    * event time, which is a property of the DATA, not of the scheduler.
    *
    * Semantics: an arriving doc at event time `t` matches exactly the
    * stored entries with `|t − entry.t| <= ttl` — the symmetric
    * co-residency window, so the pair set is a property of the EVENT
    * TIMES alone, not of arrival order. Eviction is by the WATERMARK,
    * never by an arriving doc's own timestamp: an entry more than one
    * TTL behind the watermark can no longer match any doc the watermark
    * still admits, so dropping it (and freeing its `maxBucket` slot) is
    * safe — whereas evicting on the arriving `t` would let one
    * early-arriving later doc permanently drop entries that a
    * subsequent, still-admissible OLDER doc should pair with. Intra-batch
    * arrivals process in (event time, doc_id) order. A bucket whose
    * newest entry falls a full TTL behind the watermark is removed whole
    * by the event-time timeout. State size is bounded by the event-time
    * density of the feed within watermark + TTL (docs per window ×
    * bands), not by how long the query has been running; batch parity
    * holds for every doc arriving within the watermark delay.
    *
    * The watermark must be set by the caller (`withWatermark` on `ts`
    * before calling, or pass `watermarkDelay` here) — `EventTimeTimeout`
    * requires one, and it is also what admits late data: docs later than
    * the delay are dropped at the source like any watermarked operator. */
  def streamingNearDupsEventTime(
      docs: Dataset[(Long, String, java.sql.Timestamp)],
      ttl: java.time.Duration,
      maxHamming: Int = 3,
      maxBucket: Int = 1024,
      portable: Boolean = false,
      watermarkDelay: String = "0 seconds"): Dataset[(Long, Long, Int, Int)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = maxHamming + 1
    val width = 60 / bands
    val mask = (1L << width) - 1
    val ttlMs = ttl.toMillis
    require(ttlMs > 0, "event-time TTL must be positive")
    // the ts column must survive AS A TIMESTAMP into the stateful
    // operator's input: a watermark declared before the typed flatMap is
    // lost in the object re-serialization and the analyzer rejects
    // EventTimeTimeout ("watermark must be specified"), so the fan-out
    // carries ts through and the watermark goes on the banded frame
    val banded = docs.flatMap { case (id, text, ts) =>
        if (text == null || ts == null) Iterator.empty
        else {
          val sig = graft.functions.SimHash64.evalText(
            org.apache.spark.unsafe.types.UTF8String.fromString(text), portable)
          (0 until bands).iterator
            .map(b => (b, (sig >>> (b * width)) & mask, id, sig, ts))
        }
      }
      .toDF("band", "bkey", "doc_id", "sig", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Int, Long, Long, Long, java.sql.Timestamp)]
    banded.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Long, java.sql.Timestamp)],
            state: GroupState[Seq[(Long, Long, Long)]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // permanent eviction ONLY by the watermark (see scaladoc):
            // entries a full TTL behind it can never match again
            val wm = state.getCurrentWatermarkMs()
            var seen = state.getOption.getOrElse(Seq.empty)
              .filter(e => wm - e._3 <= ttlMs)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
            for ((b, _, id, sig, t) <- rows.toSeq
                .map(r => (r._1, r._2, r._3, r._4, r._5.getTime))
                .sortBy(r => (r._5, r._3))) {
              if (!seen.exists(_._1 == id) && seen.size < maxBucket) {
                // symmetric event-time co-residency, non-destructive
                for ((oid, osig, te) <- seen if math.abs(t - te) <= ttlMs) {
                  val h = java.lang.Long.bitCount(osig ^ sig)
                  if (h <= maxHamming)
                    out += ((math.min(oid, id), math.max(oid, id), b, h))
                }
                seen = seen :+ ((id, sig, t))
              }
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update(seen)
              // bucket dies when the watermark passes its newest entry by
              // one TTL; the timeout must sit strictly past the current
              // watermark or registration throws
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(seen.map(_._3).max + ttlMs, wm + 1))
            }
            out.iterator
          }
        })
  }

  /** Streaming MinHash/LSH near-duplicate candidates — the highest-recall
    * dedup path ([[graft.operators.TextDedup.minhashPairs]]) as keyed
    * state, closing the batch/stream gap for the full band family. Each
    * arriving document computes its k-value MinHash signature ONCE (the
    * same `MinHashSig.evalSig` core the batch generator codegens) and
    * fans out to its `bands` (band, slice-key) buckets; a new arrival
    * emits `(doc_a, doc_b, band, n_match, est_jaccard)` against every
    * stored doc in the bucket with estimated Jaccard >= `threshold`,
    * scoring with the identical signature-agreement count and HALF_UP
    * 6-digit rounding as the batch operator — so for any batch split the
    * emitted rows, PROJECTED off the band column and deduped, equal the
    * batch `minhashPairs` output. A pair surfaces once per agreeing band
    * (the batch form before `.distinct()`); the band index rides the
    * output row so that multiset contract is impossible to miss — a
    * consumer counting rows without dropping it double-counts pairs that
    * collide in several bands. Contracts otherwise match
    * [[streamingNearDups]]: per-bucket state of (doc_id, signature,
    * admitted-at), doc_id-ordered intra-batch processing, re-delivery
    * no-ops, `maxBucket` first-arrival admission with the same
    * determinism scoping, and the same `idleTtl` knob (entry-level
    * arrival-order expiry + whole-bucket idle timeout; batch parity
    * scoped to docs co-resident within one TTL window). State:
    * |docs|·bands entries of k+1 longs plus a timestamp, hash-partitioned
    * by bucket. */
  def streamingNearDupsMinHash(
      docs: Dataset[(Long, String)],
      threshold: Double,
      k: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 1024,
      portable: Boolean = false,
      idleTtl: Option[java.time.Duration] = None): Dataset[(Long, Long, Int, Int, Double)] = {
    require(k > 0 && bands > 0 && k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = k / bands
    val ttlMs = idleTtl.map(_.toMillis).getOrElse(0L)
    val timeoutConf =
      if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val banded = docs.flatMap { case (id, text) =>
      if (text == null) Iterator.empty
      else {
        val sigArr = graft.functions.MinHashSig.evalSig(
          org.apache.spark.unsafe.types.UTF8String.fromString(text), k, portable)
        if (sigArr == null) Iterator.empty // under 3 tokens: no signature
        else {
          val sig = sigArr.toLongArray()
          (0 until bands).iterator.map { b =>
            (b, sig.slice(b * r, (b + 1) * r).mkString("_"), id, sig.toSeq)
          }
        }
      }
    }
    banded.groupByKey(row => (row._1, row._2))
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: (Int, String), rows: Iterator[(Int, String, Long, Seq[Long])],
            state: GroupState[Seq[(Long, Seq[Long], Long)]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val now = state.getCurrentProcessingTimeMs()
            var seen = state.getOption.getOrElse(Seq.empty)
              .filter(e => ttlMs <= 0 || now - e._3 <= ttlMs)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int, Double)]
            for ((b, _, id, sig) <- rows.toSeq.sortBy(_._3)
                 if !seen.exists(_._1 == id) && seen.size < maxBucket) {
              for ((oid, osig, _) <- seen) {
                var m = 0
                var i = 0
                while (i < k) { if (osig(i) == sig(i)) m += 1; i += 1 }
                // exactly Spark's round(x, 6): BigDecimal HALF_UP on the double
                val est = java.math.BigDecimal.valueOf(m.toDouble / k)
                  .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
                if (est >= threshold)
                  out += ((math.min(oid, id), math.max(oid, id), b, m, est))
              }
              seen = seen :+ ((id, sig, now))
            }
            if (seen.isEmpty) state.remove() else state.update(seen)
            if (ttlMs > 0 && seen.nonEmpty) state.setTimeoutDuration(ttlMs)
            out.iterator
          }
        })
  }

  /** [[streamingNearDupsMinHash]] with EVENT-TIME expiry — the MinHash
    * twin of [[streamingNearDupsEventTime]], for backfills replayed
    * faster than real time. TTL is measured between document EVENT
    * times (entry matching + `maxBucket` capacity), idle buckets die by
    * `EventTimeTimeout` on the watermark; scoring, rounding, intra-batch
    * ordering, re-delivery no-ops and the band-on-the-output multiset
    * contract all match the processing-time form, so the same historical
    * stream yields the same pairs at any replay speed. */
  def streamingNearDupsMinHashEventTime(
      docs: Dataset[(Long, String, java.sql.Timestamp)],
      threshold: Double,
      ttl: java.time.Duration,
      k: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 1024,
      portable: Boolean = false,
      watermarkDelay: String = "0 seconds"): Dataset[(Long, Long, Int, Int, Double)] = {
    require(k > 0 && bands > 0 && k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = k / bands
    val ttlMs = ttl.toMillis
    require(ttlMs > 0, "event-time TTL must be positive")
    // ts survives as a TIMESTAMP column into the stateful operator — see
    // streamingNearDupsEventTime for why the watermark sits on the
    // banded frame
    val banded = docs.flatMap { case (id, text, ts) =>
        if (text == null || ts == null) Iterator.empty
        else {
          val sigArr = graft.functions.MinHashSig.evalSig(
            org.apache.spark.unsafe.types.UTF8String.fromString(text), k, portable)
          if (sigArr == null) Iterator.empty // under 3 tokens: no signature
          else {
            val sig = sigArr.toLongArray()
            (0 until bands).iterator.map { b =>
              (b, sig.slice(b * r, (b + 1) * r).mkString("_"), id, sig.toSeq, ts)
            }
          }
        }
      }
      .toDF("band", "bkey", "doc_id", "sig", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
    banded.groupByKey(row => (row._1, row._2))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (_: (Int, String), rows: Iterator[(Int, String, Long, Seq[Long], java.sql.Timestamp)],
            state: GroupState[Seq[(Long, Seq[Long], Long)]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // watermark-only eviction + symmetric matching window — see
            // streamingNearDupsEventTime's scaladoc for why evicting on
            // the arriving doc's own timestamp loses out-of-order pairs
            val wm = state.getCurrentWatermarkMs()
            var seen = state.getOption.getOrElse(Seq.empty)
              .filter(e => wm - e._3 <= ttlMs)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int, Double)]
            for ((b, _, id, sig, t) <- rows.toSeq
                .map(row => (row._1, row._2, row._3, row._4, row._5.getTime))
                .sortBy(row => (row._5, row._3))) {
              if (!seen.exists(_._1 == id) && seen.size < maxBucket) {
                for ((oid, osig, te) <- seen if math.abs(t - te) <= ttlMs) {
                  var m = 0
                  var i = 0
                  while (i < k) { if (osig(i) == sig(i)) m += 1; i += 1 }
                  val est = java.math.BigDecimal.valueOf(m.toDouble / k)
                    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
                  if (est >= threshold)
                    out += ((math.min(oid, id), math.max(oid, id), b, m, est))
                }
                seen = seen :+ ((id, sig, t))
              }
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update(seen)
              state.setTimeoutTimestamp(math.max(seen.map(_._3).max + ttlMs, wm + 1))
            }
            out.iterator
          }
        })
  }

  /** Streaming EMBEDDING near-duplicate candidates — at-ingest SEMANTIC
    * dedup, the keyed-state twin of the batch
    * `Similarity.cosinePairs(bucket = lsh sign bucket)` path
    * (`q_dedup_embedding_lsh`/`q_dedup_semantic`'s candidate stage).
    * Each arriving (vec_id, embedding) computes its 8-bit
    * random-hyperplane bucket ONCE ([[graft.functions.LshPlanes]] — the
    * build-time sign matrix the batch column folds, same summation
    * order, so identical buckets) and lands in that bucket's state; a
    * new arrival emits `(vec_a, vec_b, cos)` against every stored
    * vector with cosine ≥ `threshold`, scored exactly like the batch
    * operator (index-order dots, 4-digit HALF_UP rounding).
    *
    * Unlike the banded text forms, a vector has exactly ONE bucket, so
    * each pair can surface at most once — the output is a SET for any
    * batch split (no band-multiset contract to project away), equal to
    * the batch pair set over admitted docs. Recall contract matches the
    * batch bucket path: pairs straddling a hyperplane land in different
    * buckets and are forgone — identically in both engines. `maxBucket`
    * first-arrival admission and `idleTtl` (entry expiry + idle-bucket
    * processing-time timeout, with the same processAllAvailable caveat
    * as [[streamingNearDups]]) bound state: |docs| vectors of d doubles,
    * hash-partitioned by bucket. */
  def streamingNearDupsEmbedding(
      docs: Dataset[(Long, Seq[Double])],
      threshold: Double,
      maxBucket: Int = 1024,
      idleTtl: Option[java.time.Duration] = None): Dataset[(Long, Long, Double)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ttlMs = idleTtl.map(_.toMillis).getOrElse(0L)
    val timeoutConf =
      if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val bucketed = docs.map { case (id, v) =>
      var n2 = 0.0
      var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      (graft.functions.LshPlanes.bucketOf(v), id, v, n2)
    }
    bucketed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: Long, rows: Iterator[(Long, Long, Seq[Double], Double)],
            state: GroupState[Seq[(Long, Seq[Double], Double, Long)]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val now = state.getCurrentProcessingTimeMs()
            var seen = state.getOption.getOrElse(Seq.empty)
              .filter(e => ttlMs <= 0 || now - e._4 <= ttlMs)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            for ((_, id, v, n2) <- rows.toSeq.sortBy(_._2)
                 if !seen.exists(_._1 == id) && seen.size < maxBucket) {
              for ((oid, ov, on2, _) <- seen) {
                val n = math.min(v.length, ov.length)
                var dot = 0.0
                var i = 0
                while (i < n) { dot += v(i) * ov(i); i += 1 }
                val cos = round4(dot / (math.sqrt(n2) * math.sqrt(on2)))
                if (cos >= threshold)
                  out += ((math.min(oid, id), math.max(oid, id), cos))
              }
              seen = seen :+ ((id, v, n2, now))
            }
            if (seen.isEmpty) state.remove() else state.update(seen)
            if (ttlMs > 0 && seen.nonEmpty) state.setTimeoutDuration(ttlMs)
            out.iterator
          }
        })
  }

  /** Streaming contamination check: corpus documents arriving as a
    * STREAM (a crawl feed) tested against a STATIC benchmark corpus (the
    * eval sets, fixed for the run) — the at-ingest decontamination gate,
    * [[graft.operators.TextDedup.crossOverlapPairs]]' streaming twin.
    * Emits (doc_id, bench_id, n_shared) for pairs sharing at least
    * `minOverlap` word-3-gram shingles.
    *
    * Plan: a stream-STATIC equi-join on the 64-bit shingle hash — the
    * benchmark posting list is a bounded static frame (broadcast when it
    * fits; no stream-stream state, no watermark bookkeeping), and the
    * same `shingle_posts` generator the batch side codegens emits the
    * stream's postings. The overlap count is a streaming aggregation
    * keyed on (doc_id, bench_id); each document's shingles all live in
    * its arrival batch and doc_ids don't repeat, so every key reaches
    * its final count in that one batch — Update output mode emits each
    * contaminated pair exactly once, and results match the batch
    * operator for any batch split. State is the per-pair counts;
    * production runs window it or clear it at benchmark-rotation
    * boundaries. */
  /** At-ingest SEGMENT-level exact dedup — the streaming twin of
    * [[graft.operators.TextDedup.dedupSegments]]. Input rows are
    * (doc_id, pos, segment); output rows carry a `kept` flag: true iff
    * this is the FIRST occurrence of the segment's content ever seen by
    * the query. Consumers rebuild documents from their kept segments
    * (order by pos), exactly like the batch operator's rebuild stage.
    *
    * "First" is arrival order across micro-batches and deterministic
    * (doc_id, pos) order within one — so a feed arriving in id order
    * reproduces the batch operator's global-min-(id, pos) choice
    * exactly (spec'd across batch splits).
    *
    * Scale shape: keyed `flatMapGroupsWithState` on the segment's md5
    * (state per DISTINCT segment is one boolean — the 16-byte key
    * dominates; segment text never enters the shuffle or the store).
    * Unbounded feeds bound the store with `idleTtl`: a segment unseen
    * for the TTL is evicted and its next occurrence re-admitted — the
    * standard recall/state trade, same knob as [[streamingNearDups]]. */
  def streamingSegmentDedup(
      segs: Dataset[(Long, Int, String)],
      idleTtl: Option[java.time.Duration] = None): Dataset[(Long, Int, String, Boolean)] = {
    val spark = segs.sparkSession
    import spark.implicits._
    val ttlMs = idleTtl.map(_.toMillis).getOrElse(0L)
    val timeoutConf =
      if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    segs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, pos, seg) =>
        md.reset()
        val h = md.digest(seg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (java.util.HexFormat.of().formatHex(h), id, pos, seg)
      }
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: String, rows: Iterator[(String, Long, Int, String)],
            state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(false)
            val out = rows.toSeq.sortBy(r => (r._2, r._3)).map {
              case (_, id, pos, seg) =>
                val keep = !seen
                seen = true
                (id, pos, seg, keep)
            }
            state.update(true)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            out.iterator
          }
        })
  }

  def streamingContamination(
      docs: Dataset[(Long, String)],
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      minOverlap: Int,
      portable: Boolean = false): DataFrame = {
    import graft.functions.BandGenerators.shingle_posts
    val sposts = docs.toDF("doc_id", "text")
      .select(col("doc_id"), shingle_posts(col("text"), portable))
      .select(col("doc_id"), col("s"))
    val bposts = broadcast(benchmark
      .select(col(idCol).as("bench_id"), shingle_posts(col(textCol), portable))
      .select(col("bench_id"), col("s")))
    sposts.join(bposts, "s")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Streaming archive upsert (reference D14 as a stream): each micro-batch
    * merges into the record store via the same richer-record-wins upsert
    * the batch pipeline uses, with a write-then-swap that keeps a full
    * copy alive at EVERY point: the merged batch lands in `_tmp`, the live
    * store is renamed aside to `_bak`, `_tmp` becomes the store, then
    * `_bak` is dropped. A crash between any two steps leaves either the
    * store or a complete copy in `_tmp`/`_bak`, which the next batch
    * restores before reading (a bare delete-then-rename had a window
    * where the only full copy was the rename source — a crash there lost
    * the archive). foreachBatch + checkpointing gives exactly-once store
    * contents (a replayed batch re-merges idempotently — upsert is
    * idempotent by construction). */
  def recordUpsertSink(
      records: org.apache.spark.sql.Dataset[graft.model.Record],
      storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[graft.model.Record] =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.model.Record], _: Long) =>
        val spark = batch.sparkSession
        val hconf = spark.sparkContext.hadoopConfiguration
        val store = new org.apache.hadoop.fs.Path(storeDir)
        val tmp = new org.apache.hadoop.fs.Path(storeDir + "_tmp")
        val bak = new org.apache.hadoop.fs.Path(storeDir + "_bak")
        val fs = store.getFileSystem(hconf)
        // restore BEFORE the emptiness probe, or the batch would silently
        // re-seed an empty store and the archive would be lost
        graft.sources.Sources.recoverSwap(fs, store, tmp, bak)
        val merged =
          if (graft.sources.Sources.containsSerializedRecords(spark, storeDir))
            graft.sources.Sources.upsert(
              graft.sources.Sources.readRecords(spark, storeDir), batch)
          else batch
        graft.sources.Sources.swapInPlace(fs, store, tmp, bak)(
          graft.sources.Sources.writeRecords(merged, _))
        ()
      }

  /** Incremental streaming archive upsert — the form that keeps up once
    * the archive dwarfs the batch. The store is laid out in the 16
    * id-prefix cells of `writeRecords(idPrefixPartitions = true)`
    * (hex-balanced, stable under growth); each micro-batch merges and
    * swaps ONLY the cells its records hash into, so per-batch read+write
    * is O(|store| · touched/16) instead of [[recordUpsertSink]]'s
    * O(|store|). Same crash contract, per cell: a full copy of every
    * touched cell is alive at every step, and the next batch restores a
    * cell left mid-swap. Cell work files are underscore-prefixed
    * siblings, which Spark's partition discovery ignores — a reader
    * listing the store root during a crash window never sees them. */
  def recordUpsertSinkIncremental(
      records: org.apache.spark.sql.Dataset[graft.model.Record],
      storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[graft.model.Record] =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.model.Record], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val hconf = spark.sparkContext.hadoopConfiguration
        val store = new org.apache.hadoop.fs.Path(storeDir)
        val fs = store.getFileSystem(hconf)
        fs.mkdirs(store)
        val prefix = substring(col("identifier"), 1, 1)
        val touched = batch.select(prefix.as("p")).distinct().as[String].collect().sorted
        for (p <- touched) {
          val cell = new org.apache.hadoop.fs.Path(store, s"id_prefix=$p")
          val tmp = new org.apache.hadoop.fs.Path(store, s"_cell_${p}_tmp")
          val bak = new org.apache.hadoop.fs.Path(store, s"_cell_${p}_bak")
          graft.sources.Sources.recoverSwap(fs, cell, tmp, bak)
          val cellBatch = batch.filter(prefix === p)
          val merged =
            if (fs.exists(cell))
              graft.sources.Sources.upsert(
                graft.sources.Sources.readRecords(spark, cell.toString), cellBatch)
            else cellBatch
          graft.sources.Sources.swapInPlace(fs, cell, tmp, bak)(
            graft.sources.Sources.writeRecords(merged, _))
        }
        ()
      }

  /** Convenience: file-stream source over a directory of event parquet. */
  def readEventStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Idempotent parquet sink with checkpointing. */
  def writeParquetSink(df: DataFrame, path: String, checkpoint: String,
      mode: OutputMode = OutputMode.Append()) =
    df.writeStream.outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", path)

  // ---- deterministic batch replay (the driver-checked harness) ------------
  // The stateful operators above are parity-proved against their batch
  // twins in StreamingSpec, but specs are a soft signal: these replays run
  // a REAL micro-batch StreamingQuery over a fixed batch schedule and
  // return its emitted rows as a plain DataFrame, so the DuckDB oracle can
  // hash-check the streaming engine path itself. The driver-side collect
  // is the replay harness feeding the source, not the operator (which
  // stays keyed-state, partitioned, watermarked); production feeds come
  // from readStream sources.

  private val replaySeq = new java.util.concurrent.atomic.AtomicLong

  /** State-store partition count for the replay harness. A streaming
    * query's stateful operators commit one state-store delta PER PARTITION
    * PER MICRO-BATCH regardless of row volume; at the replay fixtures'
    * scale (sf0.01, a few thousand rows over 8 batches) the session-wide
    * 32 shuffle partitions made q_stream_join_replay spend 38 of the
    * round-14 verify loop's 242 s on ~tiny-state commits. The emitted
    * row SET is partitioning-independent (keyed state is hash-routed, not
    * semantic), so the replays pin a small count at query START (the conf
    * is sealed into the query's offset log then) and restore the session
    * value right after. Production streams size this to the cluster.
    * 1, not 4 (round 18): at replay-fixture state sizes every extra
    * partition is one more delta file + task per stateful operator per
    * micro-batch and zero useful parallelism; measured ~7% off the
    * 7-replay verify subset, oracle rows identical. */
  private val replayStatePartitions = 1

  /** REF-COUNTED conf toggle (round 18): the verify harness now starts
    * the replay queries from a small thread pool (they are mostly
    * blocking micro-batch barriers, so overlapping them is nearly free
    * wall-clock), and a naive save/set/restore would race — one thread's
    * restore could hand another thread's START the session default. The
    * first entrant saves and pins, the last exiter restores; every
    * concurrent replay wants the same pinned value, and only query START
    * reads it (the conf seals into the offset log then). */
  private val replayConfLock = new Object
  private var replayDepth = 0
  private var replayPrevPartitions: String = ""

  private def withReplayPartitions[A](
      spark: org.apache.spark.sql.SparkSession)(start: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    replayConfLock.synchronized {
      if (replayDepth == 0) {
        replayPrevPartitions = spark.conf.get(key)
        spark.conf.set(key, replayStatePartitions.toString)
      }
      replayDepth += 1
    }
    try start finally replayConfLock.synchronized {
      replayDepth -= 1
      if (replayDepth == 0) spark.conf.set(key, replayPrevPartitions)
    }
  }

  /** Scratch root for replay CHECKPOINTS — tmpfs when the box has one
    * (round 18): a replay pays 2 offset/commit-log writes per micro-batch
    * plus one state-store delta per stateful-operator partition per
    * batch, each an fsync'd little file; on the build box's disk-backed
    * /tmp those writes were most of the replay harness's wall (the 7
    * verify replays summed ~28 s). The checkpoint here is pure scratch BY
    * CONSTRUCTION — every query gets a fresh session-unique directory
    * (pid + counter) and nothing ever restarts from it — so RAM-backed
    * placement changes no semantics. Production streams need durable
    * checkpoints and do NOT inherit this: the env override
    * (SPARK_GRAFT_STREAM_CKPT_DIR) or the default java.io.tmpdir applies
    * only to this replay harness. The root deletes on JVM exit. */
  private lazy val ckptRoot: java.io.File = {
    val base = sys.env.get("SPARK_GRAFT_STREAM_CKPT_DIR")
      .orElse(Some("/dev/shm").filter(p => new java.io.File(p).canWrite))
      .getOrElse(sys.props("java.io.tmpdir"))
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val d = new java.io.File(base, s"graft_replay_ckpt_${rt.getPid}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d)))
    d
  }

  private def runReplay[T](
      spark: org.apache.spark.sql.SparkSession,
      chunks: Iterator[Seq[T]])(
      build: Dataset[T] => DataFrame)(
      implicit enc: org.apache.spark.sql.Encoder[T]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[T]
    val name = s"graft_replay_${replaySeq.incrementAndGet()}"
    val q = withReplayPartitions(spark) {
      build(ms.toDS()).writeStream
        .format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation",
          new java.io.File(ckptRoot, name).getAbsolutePath)
        .start()
    }
    try chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  /** Replay `events` (event_id, ts, user_id, event_type, value) through
    * [[closedSessions]] in `batches` event-time-ordered micro-batches,
    * then a far-future sentinel event (user_id -1, filtered out) that
    * advances the watermark past every open session so the event-time
    * timeout flushes them. With the sentinel, the emitted set equals the
    * batch gaps-and-islands sessionization of the whole feed — a property
    * of the data, not the batch schedule — which is exactly what lets a
    * DuckDB oracle replay it. */
  def replayClosedSessions(
      events: DataFrame,
      gapMs: Long = 15 * 60 * 1000L,
      batches: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("event_id").cast("long"), col("ts"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    require(rows.nonEmpty, "replay needs at least one event")
    val flushTs = new java.sql.Timestamp(
      rows.last.ts.getTime + gapMs + 24L * 3600 * 1000)
    val sentinel = Seq(Event(-1L, flushTs, -1L, "flush", 0.0))
    val chunkSize = math.max(1, (rows.length + batches - 1) / batches)
    val feed = rows.toSeq.grouped(chunkSize) ++ Iterator(sentinel)
    runReplay(spark, feed)(ds => closedSessions(ds, gapMs).toDF())
      .filter(col("user_id") >= 0)
  }

  /** Replay `events` through [[tumblingCounts]] (watermarked windowed
    * aggregation state) in `batches` event-time-ordered micro-batches plus
    * the sentinel flush, so every real window closes and emits. `value` is
    * decimal-routed BEFORE the aggregation: the incremental cross-batch
    * sum is then exact, and the DuckDB oracle's decimal sum matches
    * bit-for-bit (the q_stats_agg contract, applied to streaming state). */
  def replayTumblingCounts(events: DataFrame, batches: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("event_id").cast("long"), col("ts"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    require(rows.nonEmpty, "replay needs at least one event")
    val flushTs = new java.sql.Timestamp(rows.last.ts.getTime + 48L * 3600 * 1000)
    val sentinel = Seq(Event(-1L, flushTs, -1L, "flush", 0.0))
    val chunkSize = math.max(1, (rows.length + batches - 1) / batches)
    val feed = rows.toSeq.grouped(chunkSize) ++ Iterator(sentinel)
    runReplay(spark, feed) { ds =>
      tumblingCounts(ds.toDF()
        .withColumn("value", col("value").cast("decimal(18,4)")))
    }.filter(col("event_type") =!= "flush")
  }

  /** Replay `events` through [[topkPerWindow]] (map-valued window state,
    * ranked timeout emission) in `batches` event-time-ordered micro-batches
    * plus a sentinel past every window end, so each window times out and
    * emits its top-k exactly once. The ordering contract that makes the
    * timeout timestamps legal AND the counts schedule-independent: chunks
    * are event-time-ordered, so when a window still has pending events the
    * watermark (prev-chunk max − delay) is necessarily behind that
    * window's end — no event is ever late to its own window, and the
    * emitted ranks equal the batch per-window top-k. */
  def replayTopkPerWindow(events: DataFrame, windowMs: Long = 3600 * 1000L,
      k: Int = 3, batches: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("event_id").cast("long"), col("ts"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    require(rows.nonEmpty, "replay needs at least one event")
    val flushTs = new java.sql.Timestamp(
      rows.last.ts.getTime + windowMs + 48L * 3600 * 1000)
    val sentinel = Seq(Event(-1L, flushTs, -1L, "flush", 0.0))
    val chunkSize = math.max(1, (rows.length + batches - 1) / batches)
    val feed = rows.toSeq.grouped(chunkSize) ++ Iterator(sentinel)
    runReplay(spark, feed)(ds => topkPerWindow(ds, windowMs, k).toDF())
      .filter(col("event_type") =!= "flush")
  }

  /** Replay `events` through [[slidingCounts]] (watermarked OVERLAPPING
    * windowed aggregation — each event feeds width/slide windows, the
    * state shape [[replayTumblingCounts]] doesn't exercise) in `batches`
    * event-time-ordered micro-batches plus the sentinel flush past every
    * window end. Counts are pure event-time set properties, so the
    * emitted rows equal the batch two-windows-per-event expansion
    * whatever the schedule — a plain SQL oracle replays them. */
  def replaySlidingCounts(events: DataFrame, batches: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("event_id").cast("long"), col("ts"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    require(rows.nonEmpty, "replay needs at least one event")
    val flushTs = new java.sql.Timestamp(rows.last.ts.getTime + 48L * 3600 * 1000)
    val sentinel = Seq(Event(-1L, flushTs, -1L, "flush", 0.0))
    val chunkSize = math.max(1, (rows.length + batches - 1) / batches)
    val feed = rows.toSeq.grouped(chunkSize) ++ Iterator(sentinel)
    // the sentinel's own two windows are the only ones holding it: drop
    // windows that start after the last real event
    val lastReal = rows.last.ts
    runReplay(spark, feed)(ds => slidingCounts(ds.toDF()))
      .filter(col("wstart") <= lastReal)
  }

  /** Replay two event-type slices of `events` through
    * [[streamStreamJoin]] (watermarked interval stream-stream join) in
    * lockstep event-time-ordered micro-batches: per chunk, the left slice
    * and the right slice of the SAME global time range are added before
    * the trigger, so the two-sided watermark advances together and no row
    * is late. An inner interval join under no-late-data emits every
    * qualifying pair exactly once — a left row's state is evicted only
    * once the watermark proves no future right row can match it — so the
    * emitted set equals the batch interval join, whatever the schedule.
    * No sentinel needed: inner-join output never waits on a timeout. */
  def replayStreamJoin(
      events: DataFrame,
      leftType: String,
      rightType: String,
      batches: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events
      .select(col("event_id").cast("long"), col("ts"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val msL = MemoryStream[Event]
    val msR = MemoryStream[Event]
    val name = s"graft_replay_${replaySeq.incrementAndGet()}"
    val q = withReplayPartitions(spark) {
      streamStreamJoin(msL.toDF(), msR.toDF()).writeStream
        .format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation",
          new java.io.File(ckptRoot, name).getAbsolutePath)
        .start()
    }
    val chunkSize = math.max(1, (rows.length + batches - 1) / batches)
    try rows.toSeq.grouped(chunkSize).foreach { c =>
      msL.addData(c.filter(_.event_type == leftType))
      msR.addData(c.filter(_.event_type == rightType))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  /** Replay `docs` (doc_id, text) through [[streamingNearDups]] in
    * `batches` doc_id-ordered micro-batches with an uncapped bucket and no
    * TTL: the emitted banded pair set then equals the batch SimHash
    * pigeonhole join on the same corpus regardless of the schedule
    * (admission order only matters at a bucket cap), so the batch
    * operator's DuckDB oracle checks the streaming engine path. */
  /** Replay segment rows (doc_id, pos, seg) through
    * [[streamingSegmentDedup]] in `batches` (doc_id, pos)-ordered
    * micro-batches with no TTL: under an ordered feed the first arrival
    * of each distinct segment hash IS the global (doc_id, pos) first, so
    * the emitted keep flags equal batch [[graft.operators.TextDedup.dedupSegments]]'
    * keep-first rule on the same corpus regardless of where the batch
    * boundaries fall — which is what lets the q_dedup_lines DuckDB
    * oracle check the streaming engine path verbatim. Returns the
    * emitted (doc_id, pos, seg, keep) rows. */
  def replaySegmentDedup(segs: DataFrame, batches: Int = 8): DataFrame = {
    val spark = segs.sparkSession
    import spark.implicits._
    val rows = segs.select(col("doc_id").cast("long"),
        col("pos").cast("int"), col("seg"))
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
    require(rows.nonEmpty, "replay needs at least one segment")
    val chunkSize = math.max(1, (rows.length + batches - 1) / batches)
    runReplay(spark, rows.toSeq.grouped(chunkSize)) { ds =>
      streamingSegmentDedup(ds).toDF("doc_id", "pos", "seg", "keep")
    }
  }

  def replayNearDups(
      docs: DataFrame,
      maxHamming: Int = 3,
      portable: Boolean = true,
      batches: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val chunkSize = math.max(1, (rows.length + batches - 1) / batches)
    runReplay(spark, rows.toSeq.grouped(chunkSize)) { ds =>
      streamingNearDups(ds, maxHamming, maxBucket = Int.MaxValue,
        portable = portable, idleTtl = None)
        .toDF("doc_a", "doc_b", "band", "hamming")
    }
  }
}
