package graft

import org.apache.spark.sql.functions._

import graft.plans.SessionArtifacts

/** Contracts of the session pair-graph artifact, the Parquet form of
  * [[SessionArtifacts]]: derive exactly once per (input, knobs), survive a
  * Checkpoints.releaseAll sweep (the quality that rules out
  * localCheckpoint for this artifact), key on knobs, pass in-memory
  * corpora through uncached, hold the LRU bound, and keep a handed-out
  * frame readable after its entry is evicted. The LRU refresh order and
  * `clear()` are specified for both forms in SessionArtifactsSpec. */
class PairGraphCacheSpec extends SparkSpec {

  private def mkCorpus(shift: Int = 0): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pgc").toString
    spark.range(0, 6).selectExpr("id AS doc_id",
      s"concat('alpha beta gamma delta ', CAST(id % 2 + $shift AS STRING)) AS text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("derives once, hits afterwards, and results are identical") {
    SessionArtifacts.clear()
    val docs = mkCorpus()
    var derivations = 0
    def derive() = { derivations += 1
      docs.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b")) }
    val m0 = SessionArtifacts.misses.get
    val h0 = SessionArtifacts.hits.get
    val r1 = SessionArtifacts.parquet(docs, "t1")(derive()).collect().toSet
    val r2 = SessionArtifacts.parquet(docs, "t1")(derive()).collect().toSet
    assert(derivations == 1, s"expected one derivation, got $derivations")
    assert(SessionArtifacts.misses.get == m0 + 1)
    assert(SessionArtifacts.hits.get == h0 + 1)
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("cached frame survives a Checkpoints.releaseAll sweep") {
    SessionArtifacts.clear()
    val docs = mkCorpus()
    val f = SessionArtifacts.parquet(docs, "sweep") {
      docs.select(col("doc_id").as("doc_a"), lit(1L).as("doc_b"))
    }
    // the long-lived-session sweep between queries: a localCheckpoint-
    // backed artifact would lose its blocks here and FAIL on next read
    // (lineage is truncated); the parquet-backed one replans a file scan
    graft.plans.Checkpoints.releaseAll(spark)
    assert(f.count() == 6)
  }

  test("distinct knob tags do not alias; in-memory corpora pass through") {
    SessionArtifacts.clear()
    val docs = mkCorpus()
    val a = SessionArtifacts.parquet(docs, "thr=0.2") {
      docs.select(col("doc_id").as("doc_a")) }
    val b = SessionArtifacts.parquet(docs, "thr=0.8") {
      docs.filter(col("doc_id") < 2).select(col("doc_id").as("doc_a")) }
    assert(a.count() == 6 && b.count() == 2,
      "two knob tags over one corpus must cache separately")
    // in-memory input: no stable leaf to key on -> derive directly
    val mem = spark.range(3).selectExpr("id AS doc_id")
    val m0 = SessionArtifacts.misses.get
    val c = SessionArtifacts.parquet(mem, "mem")(mem.select(col("doc_id").as("doc_a")))
    assert(c.count() == 3)
    assert(SessionArtifacts.misses.get == m0, "in-memory corpus must not enter the cache")
  }

  test("LRU cap bounds the disk footprint; evicted entries re-derive") {
    SessionArtifacts.clear()
    val oldCap = SessionArtifacts.maxEntries
    SessionArtifacts.maxEntries = 2
    try {
      val docs = mkCorpus()
      (1 to 4).foreach { i =>
        SessionArtifacts.parquet(docs, s"cap:$i") {
          docs.select(col("doc_id").as("doc_a")) }.count()
      }
      assert(SessionArtifacts.size <= 2, s"cap 2 exceeded: ${SessionArtifacts.size}")
      val m0 = SessionArtifacts.misses.get
      SessionArtifacts.parquet(docs, "cap:1") {
        docs.select(col("doc_id").as("doc_a")) }.count()
      assert(SessionArtifacts.misses.get == m0 + 1,
        "evicted entry must re-derive (miss), not silently hit")
    } finally {
      SessionArtifacts.maxEntries = oldCap
      SessionArtifacts.clear()
    }
  }

  test("a frame handed out before eviction stays readable after it") {
    // eviction removes the MAP entry only; the parquet directory lives
    // until the shutdown hook deletes the session root — a consumer
    // holding a lazily-planned frame across maxEntries+ insertions must
    // not hit FileNotFoundException at action time
    SessionArtifacts.clear()
    val oldCap = SessionArtifacts.maxEntries
    SessionArtifacts.maxEntries = 1
    try {
      val docs = mkCorpus()
      val early = SessionArtifacts.parquet(docs, "early") {
        docs.select(col("doc_id").as("doc_a")) }
      (1 to 2).foreach { i =>
        SessionArtifacts.parquet(docs, s"later:$i") {
          docs.select(col("doc_id").as("doc_a")) }.count()
      }
      assert(SessionArtifacts.size <= 1, "cap must still hold")
      assert(early.count() == 6,
        "an evicted entry's frame must stay readable until session end")
    } finally {
      SessionArtifacts.maxEntries = oldCap
      SessionArtifacts.clear()
    }
  }
}
