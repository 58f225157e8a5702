package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.SessionArtifacts

/** The rules [[SessionArtifacts]] applies to both storage forms: one LRU
  * bound and one `clear()`. Form-specific contracts, the bound as each
  * caller meets it among them, live with their callers' specs
  * (PairGraphCacheSpec for Parquet, SimilaritySpec for collected rows). */
class SessionArtifactsSpec extends SparkSpec {

  /** Both storage forms, as `(name, (input, tag, derive) => frame)`. */
  private val forms: Seq[(String, (DataFrame, String, () => DataFrame) => DataFrame)] = Seq(
    "rows" -> ((in, tag, derive) => SessionArtifacts.rows(in, tag)(derive())),
    "parquet" -> ((in, tag, derive) => SessionArtifacts.parquet(in, tag)(derive())))

  private def fileBacked(): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_artifacts").toString
    spark.range(0, 6).selectExpr("id AS doc_id").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Whether `call` was a miss (derived) or a hit, from the counters. */
  private def missed(call: => DataFrame): Boolean = {
    val (m0, h0) = (SessionArtifacts.misses.get, SessionArtifacts.hits.get)
    assert(call.count() == 6)
    val missed = SessionArtifacts.misses.get == m0 + 1
    assert(missed || SessionArtifacts.hits.get == h0 + 1, "a keyed call is a hit or a miss")
    missed
  }

  test("LRU cap over both forms: evicted entries re-derive, hits refresh") {
    val oldCap = SessionArtifacts.maxEntries
    try {
      for ((name, cached) <- forms) {
        SessionArtifacts.clear()
        SessionArtifacts.maxEntries = 4
        val docs = fileBacked()
        def call(i: Int) = cached(docs, s"cap:$i", () => docs.select(col("doc_id")))
        assert((1 to 6).forall(i => missed(call(i))), s"$name: six distinct tags derive six times")
        assert(SessionArtifacts.size == 4, s"$name: cap 4 not held: ${SessionArtifacts.size}")
        assert(!missed(call(6)), s"$name: the most recent entry must still be cached")
        assert(missed(call(1)), s"$name: an evicted entry must re-derive, not silently hit")
        // order is now 4, 5, 6, 1 (3 left on re-deriving 1); a hit on 4
        // refreshes it, so the next insertion evicts 5, not 4
        assert(!missed(call(4)), name)
        assert(missed(call(7)), name)
        assert(!missed(call(4)), s"$name: a refreshed entry must survive the next eviction")
        assert(missed(call(5)), s"$name: the eldest entry must be the one evicted")
        assert(SessionArtifacts.size == 4, name)
      }
    } finally {
      SessionArtifacts.maxEntries = oldCap
      SessionArtifacts.clear()
    }
  }

  test("clear() drops both forms: the next call of each is a miss") {
    SessionArtifacts.clear()
    val docs = fileBacked()
    val calls = forms.map { case (name, cached) =>
      name -> (() => cached(docs, s"clear:$name", () => docs.select(col("doc_id")))) }
    for ((name, call) <- calls) {
      assert(missed(call()), s"$name: first call derives")
      assert(!missed(call()), s"$name: second call hits")
    }
    val parquetFile = calls.toMap.apply("parquet")().inputFiles.head
    SessionArtifacts.clear()
    assert(SessionArtifacts.size == 0)
    assert(!new java.io.File(new java.net.URI(parquetFile)).exists,
      "clear() must delete the Parquet entries")
    for ((name, call) <- calls)
      assert(missed(call()), s"$name: the call after clear() must re-derive")
    SessionArtifacts.clear()
  }
}
