package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Shared helpers for the query catalogs. */
object Tables {
  /** Load a driver test table. The physical layout of `events.ts` has varied
    * across testdata generations (TIMESTAMP(NANOS); TIMESTAMP_MICROS with
    * isAdjustedToUTC=false, i.e. NTZ) — normalize whatever we find to a
    * session-TZ TimestampType so every downstream query sees one type. The
    * session TZ is UTC in all entry points, so the NTZ→LTZ cast is
    * value-identical to how DuckDB's reader surfaces the same column and
    * oracle comparisons stay exact. */
  def t(s: SparkSession, dir: String, n: String): DataFrame = {
    // one ANALYZED frame per (session, dir, table) for the JVM (round 18):
    // a suite re-resolves each table hundreds of times (178 bench queries
    // × 2-3 runs × 1-3 tables), and every spark.read.parquet pays driver
    // file-listing + footer/schema resolution for an identical immutable
    // lazy plan. The memo hands back the same DataFrame object — pure
    // plan reuse, no data or results are cached; staleness shares the
    // regenerate-inputs-in-place seam (SessionArtifacts.clear → tClear),
    // and Verify/Bench are one-JVM-per-run over static inputs.
    val key = (s, dir, n)
    val cached = tMemo.get(key)
    if (cached != null) cached
    else tMemo.computeIfAbsent(key, _ =>
      if (n == "events") {
        // harmless for non-nanos files; required to read a nanos-physical ts
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        normalizeEventsTs(s.read.parquet(s"$dir/events.parquet"))
      } else s.read.parquet(s"$dir/$n.parquet"))
  }

  private val tMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Drop every memoized table frame (called by the one staleness seam,
    * [[graft.plans.SessionArtifacts.clear]]). */
  private[graft] def tClear(): Unit = tMemo.clear()

  /** Normalize whatever physical `ts` the events parquet carries to a
    * session-TZ TimestampType (also used by the streaming parity spec). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _                => raw
  }

  /** Session-cached staging directory for queries that materialize a
    * side copy of a test table (CSV/ORC/partitioned/bucketed/compacted
    * stagings): `/tmp/<prefix>_<fp>` where the fingerprint hashes the
    * source path AND a content checksum (row count + bit_xor of row
    * xxhash64s, one aggregate per session). A path-only key let a
    * regenerated fixture at the same path silently reuse stale staged
    * data while the oracle recomputed from the new file — spurious
    * divergence misdiagnosed as an engine bug (the q_jsonl_ingest
    * staging always guarded against this; the later stagings now share
    * the guard). */
  def stagingDir(s: SparkSession, dir: String, table: String, prefix: String): String = {
    val df = t(s, dir, table)
    // The content checksum is one full-scan aggregate, and every staging
    // query re-invokes it on every run (2-3 bench runs × 7 call sites),
    // so it is a session artifact keyed on the source files' (path,
    // length, mtime) digest: unchanged files ⟹ unchanged checksum, while
    // the regenerated-fixture scenario the checksum guards against
    // necessarily changes length or mtime.
    val r = graft.plans.SessionArtifacts.rows(df, s"checksum:$dir|$table") {
      df.agg(
        count(lit(1)),
        // bit_xor, not sum: order-free like sum, but cannot overflow
        // under ANSI arithmetic
        coalesce(bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))), lit(0L)))
    }.head()
    val content = s"${r.getLong(0)}|${r.getLong(1)}"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$table|$content".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)
    new java.io.File(sys.props("java.io.tmpdir"), s"${prefix}_$md").getAbsolutePath
  }

  private val stagingLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Materialize a staging path exactly once across threads: per-path
    * JVM lock, completion re-checked under it. The parallel Verify broad
    * phase (round 16) can dequeue two queries that stage the SAME
    * directory — q_partitioned_write and q_join_dpp share the
    * lang-partitioned store — and an unguarded check-then-overwrite
    * would race two Spark overwrite jobs on one path (both delete the
    * target, both write through the same _temporary dir). `done` is the
    * site's own completion marker (_SUCCESS, a .done file, catalog
    * tables); `write` runs only if `done` is still false under the
    * lock. */
  def stageOnce(base: String)(done: => Boolean)(write: => Unit): Unit = {
    val lock = stagingLocks.computeIfAbsent(base, _ => new Object)
    lock.synchronized { if (!done) write }
  }

  /** Bench mode (`-Dgraft.bench.noSort=true`): measurement-oriented query
    * construction — no presentation sort, natural double aggregation, and
    * production (xxhash64) hash families where the oracle gate substitutes
    * portable md5-derived ones. */
  def benchMode: Boolean = sys.props.get("graft.bench.noSort").contains("true")

  /** Total deterministic order over every output column (hash-compare safe).
    * The sort exists only for the driver's oracle compare; Bench disables it
    * to measure the computation, not the presentation order. */
  def ord(df: DataFrame): DataFrame =
    if (benchMode) df
    else df.orderBy(df.columns.toIndexedSeq.map(c => col(c).asc_nulls_first): _*)

  /** Order-independent exact sum of a double expression: decimal-accumulate,
    * present as double. Matches `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`.
    * The decimal routing exists ONLY so the oracle hash-compare is exact
    * across engines; bench mode measures the natural double aggregation. */
  def dsum(c: Column): Column =
    if (benchMode) sum(c)
    else sum(c.cast("decimal(18,4)")).cast("double")
}
