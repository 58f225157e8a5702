package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{t, ord, stageOnce}

/** [EXT] LLM-data-pipeline operators (SURVEY.md §2d): deduplication families,
  * similarity search over embeddings, text analysis, multimodal plumbing.
  *
  * Scale design notes (100 TB):
  *   - exact dedup is a hash-groupBy — one shuffle on a 16-byte key;
  *   - n-gram Jaccard uses the shingle-inverted-index join (the scalable
  *     exact algorithm: candidates only from shared shingles, never the
  *     O(n²) cross join); at petabyte scale add document-frequency pruning
  *     of ubiquitous shingles;
  *   - MinHash/LSH banding turns near-dup into an equi-join on
  *     (band, band_hash) — shuffle size is |docs|·bands, independent of
  *     pair count; SimHash packs a signature into one BIGINT;
  *   - ANN: brute-force top-k broadcasts the (small) query set and scans the
  *     corpus once — embarrassingly parallel; the LSH-bucketed variant cuts
  *     the scanned fraction, trading recall;
  *   - multimodal payloads stay opaque BINARY columns; per-batch decode via
  *     mapPartitions (the container has no codec libs, so decode is a
  *     clearly-marked deterministic stub — the schema/partitioning/batching
  *     is the real, tested part).
  */
object Ext {
  type Q = (SparkSession, String) => DataFrame

  /** Portable MinHash family, identical in Spark and DuckDB: base = 28-bit
    * md5 prefix (`conv(substring(md5(s),1,7),16,10)` ≡ DuckDB
    * `CAST('0x'||substr(md5(s),1,7) AS BIGINT)`), then k affine maps
    * h_i = (a_i·base + b_i) mod p over the Mersenne prime p = 2^31-1.
    * Products stay < 2^59, so 64-bit arithmetic never overflows in either
    * engine — which is what makes the LSH pipeline oracle-checkable. */
  private[queries] val MinHashP = 2147483647L
  private[queries] def aCoef(i: Int): Long = (2654435761L * (2 * i + 1)) % MinHashP
  private[queries] def bCoef(i: Int): Long = (2246822519L * (i + 1)) % MinHashP

  /** Order-isomorphic fixed-width lang pack (q_prep_pipeline): the first
    * 14 UTF-8 BYTES of the tag, big-endian, as a DECIMAL(38,0) — numeric
    * order ≡ memcmp order on the NUL-right-padded byte string, which is
    * both engines' string comparison, so `min(packLang(lang))` decodes to
    * exactly `min(lang)`. A decimal is a fixed 16-byte MUTABLE aggregation
    * buffer slot, so the min stays inside HashAggregate (the catalog-wide
    * no-SortAggregate guard). Packing is BYTE-level (`cast(binary)` +
    * binary rpad): a multi-byte UTF-8 tag pads to exactly 14 bytes, where
    * the round-4 character-level `rpad` overflowed `conv` and silently
    * turned the value NULL. 14 bytes covers every registered BCP-47 tag
    * (`zh-Hant-TW` = 10); a longer tag fails LOUDLY via assert_true
    * (guarded inside the expression so pruning can't drop it). NULL lang
    * stays NULL — min() skips it exactly like min(lang) — and never
    * reaches assert_true, which throws on a null condition. */
  private[graft] val LangPackBytes = 14
  private val Pow56 = lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(56)))
  /** Since round 17 the pack is the codegen'd byte walk
    * [[graft.functions.PackStr14]] — value-identical to the former
    * conv(hex(rpad(...))) halves formulation (which allocated four string
    * intermediates and ran two base-conversion parses per row — measured
    * ~65% of q_profile's aggregate at sf0.1), same loud >14-byte failure,
    * same NULL propagation. */
  private[graft] def packLang(lang: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.PackStr14.pack_str14(lang)

  /** Inverse of [[packLang]]: split at 2^56 (the subtraction makes the
    * division exact — a direct `floor(x / 2^56)` rounds at decimal scale
    * 6 and can carry up when the low half is near-max), hex each 56-bit
    * half back to 7 bytes, strip the NUL pad. */
  private[graft] def unpackLang(packed: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val lo = packed % Pow56
    val hi = ((packed - lo) / Pow56).cast("decimal(18,0)")
    def bytesOf(c: org.apache.spark.sql.Column) =
      unhex(lpad(conv(c.cast("string"), 10, 16), 14, "0"))
    rtrim(concat(bytesOf(hi), bytesOf(lo.cast("decimal(18,0)"))).cast("string"), "\u0000")
  }

  // Hash sources are pluggable throughout this catalog: the oracle gate
  // uses portable md5-derived families (DuckDB replicates them
  // bit-for-bit); bench/production mode uses xxhash64-derived values of
  // the same width with the identical algorithm (see MinHashSig.portable).

  /** Deterministic random-hyperplane LSH: an 8x64 sign matrix derived from
    * md5 bits at build time and embedded as CONSTANTS in both the Spark
    * expression and the DuckDB oracle — same buckets on both engines by
    * construction (no runtime hashing of dims). Shared with the streaming
    * embedding near-dup operator via [[graft.functions.LshPlanes]]. */
  private[queries] val LshPlanes: IndexedSeq[IndexedSeq[Int]] =
    graft.functions.LshPlanes.planes

  /** The 8×64 sign matrix emitted as CTE text
    * that binds the planes ONCE as an 8-row VALUES table. Indexing an
    * inline nested-list literal per element (`(lit)[j+1][d]` inside a
    * comprehension) makes DuckDB re-construct the full 512-element
    * constant per access — measured 35 s for 500 vectors vs 0.02 s for
    * this join form, same buckets bit-for-bit. Expects an upstream CTE
    * `v(vec_id, v DOUBLE[])`; emits `b(vec_id, v, bucket)` exactly like
    * the literal form it replaces. */
  private def lshBucketCtes: String = {
    val rows = LshPlanes.zipWithIndex
      .map { case (p, j) => s"($j, ${p.mkString("[", ",", "]")}::DOUBLE[])" }
      .mkString(",\n    ")
    s"""hp AS (SELECT j, hv FROM (VALUES
       |    $rows) t(j, hv)),
       |lsh_bits AS (SELECT vec_id,
       |  CASE WHEN list_sum([hv[d] * v[d] FOR d IN range(1, 65)]) >= 0
       |    THEN (1::BIGINT << j) ELSE 0 END AS bit FROM v CROSS JOIN hp),
       |lsh_sig AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket
       |  FROM lsh_bits GROUP BY vec_id),
       |b AS (SELECT v.vec_id, v.v, s.bucket FROM v JOIN lsh_sig s USING (vec_id))""".stripMargin
  }

  /** The 8-bit random-hyperplane sign bucket over a `v: ARRAY<DOUBLE>`
    * column (shared by `q_knn_lsh` and `q_dedup_embedding_lsh`): eight
    * codegen'd `vec_dot` calls against constant-folded plane literals.
    * The equivalent higher-order `aggregate` lambda form runs INTERPRETED
    * (Spark HOFs have no codegen), and the join's IsNotNull pushdown
    * re-evaluated it per row — it dominated the entire query. `vec_dot`
    * sums in index order like the SQL fold, so buckets stay bit-identical
    * to the oracle's. */
  private def lshBucket: org.apache.spark.sql.Column =
    (0 until 8).map { j =>
      val plane = array(LshPlanes(j).map(x => lit(x.toDouble)): _*)
      when(graft.functions.VecDot.vec_dot(col("v"), plane) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Quality-gate reasons per document (shared by `q_quality_filter` and
    * `q_prep_pipeline`): first failing rule wins, "ok" passes. ONE
    * single-pass `quality_gate` expression — the former CASE-chain column
    * form re-ran `word_scan` per WHEN branch once q_prep_pipeline's
    * filter absorbed it (FilterExec codegen has no cross-predicate
    * subexpression elimination: ~4 scans per passing doc). The oracle
    * keeps the regexp-based CASE formulation and must agree exactly. */
  private def qualityReasons(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
    t(s, dir, "documents").select(col("doc_id"),
      graft.functions.QualityGate.quality_gate(col("text"), stop, 2).as("reason"))
  }

  /** The chunking lineage shared by `q_chunk_docs` and `q_dedup_chunks`
    * (one definition of width/stride/slice so the two can never
    * desynchronize): 64-word windows at stride 48 over the whitespace
    * word list — (doc_id, chunk_idx, cw). Pure map-side. */
  private def docChunks(s: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => w =!= lit(""))
    t(s, dir, "documents")
      .select(col("doc_id"), words.as("w"))
      .withColumn("n", size(col("w")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), col("n") - 1, lit(48))).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("w"), col("start") + 1, lit(64)).as("cw"))
  }

  /** 60-bit md5 content key of a chunk's word array. */
  private def chunkKey(cw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws(" ", cw)), 1, 15), 16, 10).cast("bigint")

  /** Exact-dup canonicalization: one representative (min doc_id) per
    * distinct text. Near-dup operators run over representatives — with d
    * exact copies of a document, pairwise candidate generation would
    * otherwise inflate d²-fold. One hash-groupBy shuffle, keyed on the
    * 16-byte content hash (see TextDedup.canonicalize). */
  private def canonicalDocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.canonicalize(t(s, dir, "documents"), "doc_id", "text")

  /** Fixed 10-token-window segmentation of the documents table (this
    * corpus has no line structure) — shared by the batch segment dedup
    * (q_dedup_lines) and its streaming replay so both feed the oracle
    * identical segments. */
  private def segmentedDocs(s: SparkSession, dir: String): DataFrame =
    // one codegen'd pass (round-17): the former split + interpreted
    // transform/slice/array_join lambda chain re-allocated per window —
    // TokenWindows emits the identical segment array in one byte walk
    t(s, dir, "documents")
      .withColumn("segs",
        graft.functions.TokenWindows.token_windows(col("text"), 10))
      .filter(size(col("segs")) > 0)

  /** The near-dup pair graph every curation CONSUMER shares (keep_best,
    * keep_central, ledger, cluster_cohesion, source_overlap) — derived
    * once per session per corpus through
    * [[graft.plans.SessionArtifacts.parquet]] (a disk-backed,
    * never-collected artifact: the "write the pair graph once, audit it
    * from every angle" shape a real curation session uses). The
    * GENERATOR-measuring queries (q_dedup_ngram_jaccard, the cluster
    * family, q_pagerank) keep deriving inline so their bench rows time
    * the actual derivation. */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val canon = canonicalDocs(s, dir)
    graft.plans.SessionArtifacts.parquet(canon,
      s"jac:0.2:${graft.Tables.benchMode}") {
      graft.operators.TextDedup.jaccardPairs(canon, "doc_id", "text",
        threshold = 0.2, portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0)
    }
  }

  /** The THRESHOLD-0 exact-jaccard TRUTH graph the estimator/banding
    * audits read (q_minhash_est, q_lsh_scurve, q_dedup_threshold_sweep)
    * — the "ground truth computed once, audited from every angle"
    * session artifact, exactly like [[nearDupPairs]] at the 0.2
    * operating point. The generator-measuring row for this family stays
    * q_dedup_ngram_jaccard (inline). Round-17: these three audits each
    * re-derived the full threshold-0 pass (~0.7 s each at sf0.1). */
  private def truthPairs(s: SparkSession, dir: String): DataFrame = {
    val canon = canonicalDocs(s, dir)
    graft.plans.SessionArtifacts.parquet(canon,
      s"jac:0.0:${graft.Tables.benchMode}") {
      graft.operators.TextDedup.jaccardPairs(canon, "doc_id", "text",
        threshold = 0.0, portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0)
    }
  }

  /** The RAW banded minhash candidate set (threshold 0 — before the
    * estimate filter) the LSH audits share (q_minhash_est, q_lsh_recall,
    * q_lsh_scurve); q_dedup_minhash stays the inline generator row. */
  private def minhashCands(s: SparkSession, dir: String): DataFrame = {
    val canon = canonicalDocs(s, dir)
    graft.plans.SessionArtifacts.parquet(canon,
      s"mh:0.0:${graft.Tables.benchMode}") {
      graft.operators.TextDedup.minhashPairs(canon, "doc_id", "text",
        threshold = 0.0, portable = !graft.Tables.benchMode,
        maxBucket = if (graft.Tables.benchMode) 1024 else 0)
    }
  }

  /** The near-dup COMPONENT LABELS (member, cluster_rep) over the shared
    * session pair graph — the clustering artifact the keeper/audit
    * consumers read (keep_best, keep_central, cluster_sizes, cohesion,
    * split_by_family), cached exactly like the pair graph and the ledger
    * it feeds: a real curation session clusters once and audits from
    * every angle. The clustering-measuring rows (q_dedup_clusters /
    * _star / _auto) and the ledger's own derivation keep clustering
    * inline so their bench rows time the algorithm. */
  private def nearDupComponents(s: SparkSession, dir: String): DataFrame = {
    val canon = canonicalDocs(s, dir)
    graft.plans.SessionArtifacts.parquet(canon,
      s"cc:jac0.2:${graft.Tables.benchMode}") {
      graft.operators.TextDedup.duplicateClustersAuto(nearDupPairs(s, dir))
    }
  }

  /** The per-document curation ledger (doc_id, status, keeper_id) —
    * q_dedup_ledger's frame, shared with the per-source rate rollup.
    * Tier 1: exact dups point at their canonical rep; tier 2: canonical
    * reps inside a near-dup cluster point at the longest member;
    * survivors point at themselves. First dropping tier wins. */
  private def curationLedger(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val groups = graft.operators.TextDedup.exactGroups(docs, "doc_id", "text")
    val withRep = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .join(groups.select(col("h"), col("keeper").as("rep")), "h")
    val pairs = nearDupPairs(s, dir)
    val comps = graft.operators.TextDedup.duplicateClustersAuto(pairs)
    val keep = graft.operators.TextDedup.keepers(
      comps, docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
    val nearMap = comps.join(
      keep.select(col("cluster_rep"), col("keep_id")), "cluster_rep")
      .select(col("member"), col("keep_id"))
    withRep.join(nearMap, withRep("rep") === nearMap("member"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("rep"), lit("exact_dup"))
          .when(col("keep_id").isNotNull && col("keep_id") =!= col("doc_id"),
            lit("near_dup"))
          .otherwise(lit("kept")).as("status"),
        when(col("doc_id") =!= col("rep"), col("rep"))
          .when(col("keep_id").isNotNull, col("keep_id"))
          .otherwise(col("doc_id")).as("keeper_id"))
  }

  /** [[curationLedger]] through the session artifact cache — the
    * CONSUMER path (rate rollup, quality bias, waterfall): the ledger is
    * a doc-count-sized curation artifact a real session writes once and
    * audits from every angle, exactly like the pair graph it builds on.
    * `q_dedup_ledger` itself keeps deriving inline so its bench row
    * times the actual derivation. */
  private def curationLedgerCached(s: SparkSession, dir: String): DataFrame =
    graft.plans.SessionArtifacts.parquet(t(s, dir, "documents"),
      s"ledger:${graft.Tables.benchMode}") { curationLedger(s, dir) }

  // ---- deduplication --------------------------------------------------

  val all: Map[String, Q] = Map(
    // exact dedup: content-hash groupBy (generalizes the engine's sha1 identity)
    "q_dedup_exact" -> ((s, dir) => {
      ord(graft.operators.TextDedup.exactGroups(t(s, dir, "documents"), "doc_id", "text"))
    }),
    // incremental (archive-vs-batch) admission — the daily-ingest shape:
    // batch docs whose canonical token-SET signature is unseen in the
    // standing archive. Raw md5(text) is collision-free on this corpus
    // (near-dups only), so the signature is the sorted distinct token
    // set, which does collide for rewrites over the same vocabulary (28
    // of 250 batch docs dedupe away at sf0.01). The operator is a
    // Bloom-prefiltered exact anti-join (TextDedup.incrementalNew):
    // Spark's BloomFilterAggregate folds the archive in one scan with
    // partial aggregation, batch rows the filter rules out skip the join
    // entirely, and only mightContain survivors reach the exact
    // anti-join — so the 100-TB archive is never shuffled, yet results
    // are exact (the oracle is a plain NOT IN).
    "q_dedup_incremental" -> ((s, dir) => {
      def keyed(df: DataFrame) = df.select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(
          filter(split(col("text"), "\\s+"), w => w =!= lit("")))))).as("h"))
      val docs = t(s, dir, "documents")
      ord(graft.operators.TextDedup.incrementalNew(
          keyed(docs.filter(col("doc_id") % 2 === 0)),
          keyed(docs.filter(col("doc_id") % 2 === 1)),
          "h", expectedItems = 100000L)
        .select(col("doc_id"), col("h")))
    }),
    // INCREMENTAL NEAR-dup admission — the near-dup sibling of
    // q_dedup_incremental's exact gate (together they are the full
    // daily-ingest dedup pass): batch docs (doc_id % 5 == 0) score
    // bipartite exact jaccard against the standing archive (the rest)
    // via TextDedup.crossJaccardPairs; each batch doc reports its best
    // archive match (max jaccard, ties min archive id) and is ADMITTED
    // iff nothing reaches 0.2. At corpus scale the archive side is a
    // standing posting index bucketed on the shingle key (see the
    // operator doc) — the daily batch pays only its own postings.
    "q_dedup_incremental_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isBatch = pmod(col("doc_id"), lit(5)) === 0
      val pairs = graft.operators.TextDedup.crossJaccardPairs(
        docs.filter(!isBatch), docs.filter(isBatch), "doc_id", "text",
        threshold = 0.2, portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bench_id").orderBy(col("jaccard").desc, col("doc_id"))
      val best = pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("bench_id").as("batch_id"),
          col("doc_id").as("match_id"), col("jaccard"))
      ord(docs.filter(isBatch).select(col("doc_id").as("batch_id"))
        .join(best, Seq("batch_id"), "left")
        .withColumn("admitted", col("match_id").isNull))
    }),
    // CCNet-style SEGMENT-level dedup: only the global first occurrence
    // of each distinct segment survives, documents are rebuilt from
    // their kept segments — removes cross-document boilerplate
    // (headers, navigation, license blocks) that document-level dedup
    // cannot see. TextDedup.dedupSegments takes any ARRAY<STRING>
    // segmentation; this corpus has no line structure, so the catalog
    // segments on fixed 10-token windows (the spec drives the same
    // operator with real newline-split lines). Plan: one groupBy on
    // the 16-byte segment hash + a join back on it — the only
    // corpus-wide shuffles, both keyed on hashes, never segment text.
    "q_dedup_lines" -> ((s, dir) => {
      ord(graft.operators.TextDedup.dedupSegments(
        segmentedDocs(s, dir), "doc_id", "segs"))
    }),
    // the SAME segment dedup as a driver-checked STREAMING REPLAY (the
    // 7th replay row — OVERLAPPING windowed-aggregation state: each
    // event feeds width/slide = 2 sliding windows, the multi-assignment
    // shape the tumbling replay can't exercise; emitted per-window
    // counts equal the batch two-windows-per-event expansion.
    // batches=4 across the replay rows (round 16, like the stream-stream
    // join row before them): the emitted sets are schedule-independent by
    // each operator's no-late-data contract — fewer micro-batches test
    // identical semantics with cross-batch state still exercised on every
    // boundary — and the per-trigger fixed cost (state store commits ×
    // partitions) dominated the verify loop's sequential tail (~35 s of
    // 90 s).
    "q_stream_sliding_replay" -> ((s, dir) => {
      ord(graft.streaming.Streams.replaySlidingCounts(t(s, dir, "events"),
        batches = 4)
        .select(expr("unix_micros(wstart)").as("wstart_us"), col("n")))
    }),
    // 6th replay row — the map-state shape: per-window heavy-hitter
    // TOP-K at ingest (flatMapGroupsWithState keyed on the window start,
    // one counter per distinct type per open window, RANKED k-row
    // emission fired by the event-time timeout at window close). The
    // other replays cover scalar/session/window-agg/join/dedup state;
    // this one proves bounded-map state + multi-row ranked timeout
    // emission — the dashboard/alerting contract where the sink gets
    // exactly k rows per window. Oracle: the batch per-window top-3.
    "q_stream_topk_replay" -> ((s, dir) => {
      ord(graft.streaming.Streams.replayTopkPerWindow(t(s, dir, "events"),
        batches = 4)
        .select(col("wstart_us"), col("event_type"), col("n"), col("rk")))
    }),
    // 5th replay row): (doc_id, pos)-ordered micro-batches through
    // streamingSegmentDedup's keyed boolean state, emitted keep flags
    // re-aggregated to q_dedup_lines' exact per-doc shape — so the
    // q_dedup_lines oracle checks the streaming engine path verbatim.
    "q_stream_segment_replay" -> ((s, dir) => {
      val segs = segmentedDocs(s, dir)
        .select(col("doc_id"), posexplode(col("segs")).as(Seq("pos", "seg")))
      val emitted = graft.streaming.Streams.replaySegmentDedup(segs, batches = 4)
      ord(emitted.groupBy("doc_id").agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, seg) END)), x -> x.seg)"),
          " "), lit("")).as("text_deduped")))
    }),
    // boilerplate span detection (C4-style "repeated span" rule): per
    // doc, how many of its 5-gram instances occur elsewhere in the
    // corpus. Grams key on the 60-bit md5 prefix (16-byte shuffle keys
    // instead of 5-word strings; the same hash in the oracle makes any
    // collision bit-identical across engines). Plan: one posting
    // generation, a map-side-combined groupBy for corpus tf, an equi-join
    // back, and a per-doc aggregate — the standard inverted-index shape
    // that scales linearly in corpus size.
    "q_boilerplate" -> ((s, dir) => {
      import graft.functions.GramHashes.gram_hashes
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), explode(gram_hashes(col("text"), 5)).as("s"))
      val tf = grams.groupBy("s").agg(count(lit(1)).as("tf"))
      ord(grams.join(tf, Seq("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("tf") >= 2, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_ratio",
          round(col("n_boiler").cast("double") / col("n_ngrams"), 6)))
    }),
    // corpus-frequent segments via a MERGEABLE Misra–Gries sketch + exact
    // verification (the bounded-shuffle heavy-hitter pattern; Agarwal et
    // al., PODS 2012): pass 1 aggregates one k=2048-counter summary
    // (partial aggregation ships at most k entries per map task, never
    // the raw keyspace) whose candidate set provably contains every
    // segment with support >= 0.1%; pass 2 re-counts ONLY the candidates
    // exactly (InSet map-side filter, so the final shuffle carries <= k
    // keys no matter how many distinct segments the corpus has — the
    // q_boilerplate inverted index pays the full-keyspace exchange this
    // sketch exists to avoid). The exact re-count makes the OUTPUT
    // independent of partitioning and merge order; only the unverified
    // candidate superset varies. At sf0.01 the corpus has more distinct
    // segments than k, so the eviction path is live in the checked run.
    // Integer threshold (cnt*1000 >= total): no float at the boundary.
    "q_heavy_hitters" -> ((s, dir) => {
      import graft.functions.MisraGriesAgg.misra_gries
      val segs = segmentedDocs(s, dir).select(explode(col("segs")).as("seg"))
      // 1-row, <= k+1 values: bounded collect by contract
      val sk = segs.agg(misra_gries(col("seg"), 2048).as("mg"))
        .select(col("mg.total"), col("mg.candidates")).head()
      val total = sk.getLong(0)
      val cands = sk.getSeq[String](1)
      val hh =
        if (cands.isEmpty) segs.filter(lit(false))
        else segs.filter(col("seg").isInCollection(cands))
      ord(hh.groupBy("seg").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 1000 >= total)
        .withColumn("share", round(col("cnt").cast("double") / total, 6)))
    }),
    // boilerplate span REMOVAL (the C4 rule q_boilerplate only scores):
    // every token covered by any corpus-repeated 5-gram instance is
    // dropped and documents are rebuilt from the survivors in order.
    // Plan: positional gram hashes and the filtered token stream each
    // come from ONE codegen'd map-side pass (gram_hashes / split_words +
    // posexplode — no per-doc sort window, no re-rank row_number; the
    // former form cost two corpus-wide exchanges+sorts just to line up
    // lead() offsets), then the inverted-index tf join on 60-bit hash
    // keys, span coverage exploded to (doc, pos) pairs, an anti-join
    // back onto the token stream, and the per-doc ordered rebuild
    // (buffer bounded by one document).
    "q_strip_boiler" -> ((s, dir) => {
      import graft.functions.GramHashes.gram_hashes
      import graft.functions.SplitWords.split_words
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val rt = docs.select(col("doc_id"),
        posexplode(split_words(col("text"))).as(Seq("p", "w")))
      val grams = docs.select(col("doc_id"),
        posexplode(gram_hashes(col("text"), 5)).as(Seq("p", "g")))
      val tf = grams.groupBy("g").agg(count(lit(1)).as("tf"))
      // no distinct on coverage: left_anti ignores right-side duplicates,
      // and the dedup aggregation cost more than the <=5x duplicate rows
      // it saved from the join exchange (measured at sf0.1)
      val covered = grams.join(tf, Seq("g")).filter(col("tf") >= 2)
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + 4)).as("p"))
      ord(rt.join(covered, Seq("doc_id", "p"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(p, w))), x -> x.w)"),
            " ").as("text_clean")))
    }),
    // bigram-LM corpus scoring (KenLM-proxy quality signal): a doc whose
    // bigrams are corpus-frequent reads like the corpus; one whose
    // bigrams are rare is an outlier. Integer corpus-tf sums (exact
    // across engines), mean rounded last. Same inverted-index shape as
    // q_boilerplate on 2-gram postings.
    "q_lm_score" -> ((s, dir) => {
      import graft.functions.GramHashes.gram_hashes
      val bi = t(s, dir, "documents")
        .select(col("doc_id"), explode(gram_hashes(col("text"), 2)).as("s"))
      val tf = bi.groupBy("s").agg(count(lit(1)).as("tf"))
      ord(bi.join(tf, Seq("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("tf")).as("sum_tf"))
        .withColumn("mean_tf",
          round(col("sum_tf").cast("double") / col("n_bigrams"), 6)))
    }),
    // pattern scrub: PII-shaped redaction (email + phone regexes — zero
    // hits on this synthetic corpus, which proves the seam without
    // manufacturing fake PII) followed by token-level stopword removal
    // and single-space renormalization. One codegen'd scan, no shuffle
    // before the presentation sort.
    "q_scrub" -> ((s, dir) => {
      val pii = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" +
        "|\\b\\d{3}[-.]?\\d{3}[-.]?\\d{4}\\b"
      val docs = t(s, dir, "documents")
        .withColumn("no_pii", regexp_replace(col("text"), pii, "<PII>"))
      val orig = filter(split(col("text"), "\\s+"), w => w =!= lit(""))
      val kept = filter(split(col("no_pii"), "\\s+"),
        w => w =!= lit("") && w =!= lit("a") && w =!= lit("the"))
      ord(docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pii), lit(0))).as("n_pii"),
        (size(orig) - size(kept)).as("n_removed"),
        array_join(kept, " ").as("scrubbed")))
    }),
    // exact n-gram Jaccard via shingle inverted-index join.
    // Canonicalize FIRST: identical texts collapse to one representative
    // (min doc_id) before any pairwise work — with d exact copies per doc
    // the join would otherwise blow up d²-fold (measured: a 20x-duplicated
    // corpus DNF'd in 10min without this, 4s with it). Exact-dup expansion
    // is a cheap join afterwards if pair-level output over copies is needed.
    "q_dedup_ngram_jaccard" -> ((s, dir) => {
      ord(graft.operators.TextDedup.jaccardPairs(
        canonicalDocs(s, dir), "doc_id", "text", threshold = 0.2,
        portable = !graft.Tables.benchMode,
        // bench/production mode load-tests the df-cap knob (bounds
        // per-shingle pair emission at maxDf²/2); the oracle-checked
        // path stays exact — uncapped
        maxDf = if (graft.Tables.benchMode) 64 else 0))
    }),
    // asymmetric containment |A∩B| / min(|A|,|B|): the partial-copy
    // detector (quoted paragraphs, embedded documents) that symmetric
    // Jaccard dilutes toward zero as the containing side grows. Same
    // single-scan posting-join plan as q_dedup_ngram_jaccard.
    "q_dedup_containment" -> ((s, dir) => {
      ord(graft.operators.TextDedup.containmentPairs(
        canonicalDocs(s, dir), "doc_id", "text", threshold = 0.3,
        portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0))
    }),
    // winnowing-fingerprint collisions: docs sharing their minimal
    // 32-byte-window rolling hash (the MOSS selection rule's floor) —
    // the cheapest near-dup family, ONE 8-byte key per doc, for the
    // triage pass before banded LSH. Oracle replays the byte-level
    // rolling hash in SQL (same machinery as q_fingerprint).
    "q_dedup_fingerprint" -> ((s, dir) => {
      ord(graft.operators.TextDedup.fingerprintPairs(
        canonicalDocs(s, dir), "doc_id", "text",
        maxBucket = if (graft.Tables.benchMode) 1024 else 0))
    }),
    // pairwise evidence -> duplicate GROUPS: connected components over the
    // exact-Jaccard pair graph (min-label propagation; unique fixpoint, so
    // the DuckDB recursive-CTE oracle must land on the identical labels).
    // This is the step a dedup pipeline actually acts on - keep
    // cluster_rep, drop the other members.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = graft.operators.TextDedup.jaccardPairs(
        canonicalDocs(s, dir), "doc_id", "text", threshold = 0.2,
        portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0)
      ord(graft.operators.TextDedup.duplicateClusters(pairs))
    }),
    // the same components via alternating large-star/small-star (the
    // O(log n)-round variant for chain-heavy pair graphs): identical
    // unique fixpoint, so it shares q_dedup_clusters' recursive-CTE
    // oracle verbatim — both implementations are oracle-checked.
    "q_dedup_clusters_star" -> ((s, dir) => {
      val pairs = graft.operators.TextDedup.jaccardPairs(
        canonicalDocs(s, dir), "doc_id", "text", threshold = 0.2,
        portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0)
      ord(graft.operators.TextDedup.duplicateClustersStar(pairs))
    }),
    // the auto-selecting form: a one-pass degree summary picks
    // propagation or star (Moore-bound diameter floor, see
    // TextDedup.chooseStar); same unique fixpoint either way, so it
    // shares the recursive-CTE oracle verbatim with both siblings.
    "q_dedup_clusters_auto" -> ((s, dir) => {
      val pairs = graft.operators.TextDedup.jaccardPairs(
        canonicalDocs(s, dir), "doc_id", "text", threshold = 0.2,
        portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0)
      ord(graft.operators.TextDedup.duplicateClustersAuto(pairs))
    }),
    // CLUSTER-SIZE HISTOGRAM — the first chart anyone reads after a
    // dedup pass: how many duplicate clusters of each size, and how many
    // documents they tie up. A fat tail (one 10k-member cluster) means a
    // boilerplate template, not organic duplication, and changes what
    // "keep one per cluster" costs. Rides the shared session pair graph
    // (a consumer, like the ledger); everything after the components is
    // cluster-count-sized, then histogram-sized.
    "q_dedup_cluster_sizes" -> ((s, dir) => {
      val comps = nearDupComponents(s, dir)
      ord(comps.groupBy("cluster_rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters")))
    }),
    // TRIANGLE CENSUS over the near-dup pair graph — per-node triangle
    // count, degree, and local clustering coefficient in fixed-point ppm
    // (2·T·10⁶ div d(d−1), the q_pagerank integer discipline):
    // triangle-dense neighborhoods are true duplicate CLIQUES (every
    // member near-dups every other — keep-one is safe), while
    // triangle-free hubs are threshold-transitivity artifacts (A~B~C
    // without A~C) where keep-one-per-component overdeletes — the
    // structural evidence behind a component-level dedup decision.
    // Shape: the a<b<c wedge join (two graph-sized equi-joins + the
    // closing edge lookup) — at 100 TB enumerate wedges from the
    // lower-degree endpoint (the standard distributed triangle count)
    // and the maxDf/maxBucket caps already bound the degree tail.
    // Rides the shared session pair graph like the other consumers.
    "q_graph_triangles" -> ((s, dir) => {
      ord(graft.operators.GraphRank.triangleCensus(nearDupPairs(s, dir)))
    }),
    // DEGREE HISTOGRAM of the same graph — the one-pass shape summary
    // behind TextDedup.chooseStar's propagation-vs-star decision (a
    // heavy tail means hubs; a flat degree-2 line means chains) and the
    // first thing read when a banding change shifts pair volume.
    "q_graph_degree_hist" -> ((s, dir) => {
      val p = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      ord(p.select(col("doc_a").as("node"))
        .unionAll(p.select(col("doc_b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes")))
    }),
    // PAGERANK centrality over the SAME near-dup pair graph the cluster
    // family consumes: 5 fixed iterations, damping 0.85, BIGINT
    // nano-unit fixed-point arithmetic with integral divisions only —
    // deterministic engine-to-engine, so the DuckDB oracle replays
    // every iteration exactly (unrolled CTEs). The centrality signal
    // upgrades keeper choice from "lowest id / longest" to "most
    // central member"; see GraphRank.scala for the per-round join
    // shape and the 100 TB co-partitioning contract.
    "q_pagerank" -> ((s, dir) => {
      val pairs = graft.operators.TextDedup.jaccardPairs(
        canonicalDocs(s, dir), "doc_id", "text", threshold = 0.2,
        portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 64 else 0)
      ord(graft.operators.GraphRank.pagerank(pairs, iters = 5))
    }),
    // CONVERGENCE AUDIT for the fixed iters=5 above: per-iteration total
    // and max rank-mass movement in nano-units — evidence (not
    // convention) that 5 rounds suffice on this graph. One bounded
    // 5-row trace; the oracle replays every round's movement exactly
    // (the arithmetic is the same integral fixed-point as q_pagerank).
    "q_pagerank_convergence" -> ((s, dir) => {
      ord(graft.operators.GraphRank.pagerankTrace(
        nearDupPairs(s, dir), iters = 5))
    }),
    // the component-family analogue: exactly 6 min-label rounds over the
    // same pair graph, labels-changed per round — trailing zeros prove
    // the auto-clusterer's propagation budget converges on this graph
    // with evidence, not the Moore-bound argument alone.
    "q_cc_convergence" -> ((s, dir) => {
      ord(graft.operators.TextDedup.propagationTrace(
        nearDupPairs(s, dir), rounds = 6))
    }),
    // CENTRALITY-AWARE keeper choice: the near-dup components keep
    // their highest-PageRank member (ties by min id) — "most central"
    // beats "longest" when duplicate families are built from partial
    // copies of one canonical original: the original is the node every
    // variant links to. The pair graph derives ONCE (localCheckpoint)
    // and feeds both the component labels and the rank iterations.
    "q_dedup_keep_central" -> ((s, dir) => {
      // parquet-backed via nearDupPairs: both the component labels and
      // the rank iterations replan against a plain file scan, so the
      // former shared localCheckpoint (and its release discipline) is
      // unnecessary here
      val pairs = nearDupPairs(s, dir)
      val comps = nearDupComponents(s, dir)
      val pr = graft.operators.GraphRank.pagerank(pairs, iters = 5)
        .select(col("member").as("pid"), col("pr_nano"))
      ord(graft.operators.TextDedup.keepers(comps, pr, "pid", "pr_nano")
        .withColumnRenamed("keep_id", "keep_doc")
        .withColumnRenamed("keep_score", "keep_pr_nano"))
    }),
    // CURATION LEDGER: per-document disposition across the dedup
    // cascade — the "why was my doc dropped" audit a release publishes
    // next to the data. Tier 1: exact dups point at their canonical rep
    // (md5-keyed groupBy + md5-keyed join back — text shuffles zero
    // times). Tier 2: canonical reps in a near-dup cluster point at the
    // longest member (the q_dedup_keep_best rule) via the graph-sized
    // keeper frame. Survivors point at themselves. The FIRST tier that
    // drops a doc wins, so every doc gets exactly one (status, keeper).
    "q_dedup_ledger" -> ((s, dir) => ord(curationLedger(s, dir))),
    // DEDUP WATERFALL — tier-attributed removal for the datasheet (the
    // "what did each dedup stage buy" report a pipeline publishes):
    // tier 1 exact (md5 canon) and tier 2 near (jaccard-0.2 clusters,
    // keep-longest) replayed from the shared curation ledger, then
    // tier 3 asymmetric containment >= 0.3 among the tier-2 SURVIVORS —
    // the partial copies symmetric jaccard dilutes toward zero. The
    // tier-3 removal rule is pairwise-greedy and order-free (in every
    // surviving pair the smaller-n_chars side loses; ties drop the
    // larger doc_id), so attribution needs no iterative re-matching.
    // First dropping tier wins; one row per status with corpus share.
    // Plan: ledger chain + the containment posting join restricted to
    // survivors + a statuses-sized rollup; the share denominator is a
    // 1-row broadcast (the bounded audit-join shape).
    "q_dedup_waterfall" -> ((s, dir) => {
      // the ledger is referenced twice by the overlay (kept filter +
      // status join) — the cached artifact serves both references from
      // its parquet-backed frame instead of re-deriving the chain
      val led = curationLedgerCached(s, dir)
      // containment pairs via the session artifact cache: the waterfall is a
      // CONSUMER of the containment graph (q_dedup_containment is the
      // generator-measuring row and keeps deriving inline)
      val canon = canonicalDocs(s, dir)
      val pairs = graft.plans.SessionArtifacts.parquet(canon,
        s"cont:0.3:${graft.Tables.benchMode}") {
        graft.operators.TextDedup.containmentPairs(
          canon, "doc_id", "text", threshold = 0.3,
          portable = !graft.Tables.benchMode,
          maxDf = if (graft.Tables.benchMode) 64 else 0)
      }
      val sz = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val tiers = graft.operators.TextDedup.containedOverlay(
        led, pairs, sz, "doc_id", "n_chars")
      val counts = tiers.groupBy("status").agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum("n_docs").as("__t"))
      ord(counts.crossJoin(broadcast(tot))
        .withColumn("pct", round(col("n_docs").cast("double") / col("__t"), 6))
        .drop("__t"))
    }),
    // PER-SOURCE DEDUP RATE — the ledger rolled up to the report a
    // mixture designer reads next to the datasheet: per source, how many
    // docs fell to each tier and the combined duplicate rate. A feed
    // with a high dup_rate contributes less unique signal than its raw
    // volume suggests — its mixture weight should reflect the KEPT
    // count, not the doc count. Ledger + one metadata join + one groupBy
    // (everything after the shared pair graph is family/graph-sized).
    "q_dedup_rate_by_source" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      ord(curationLedgerCached(s, dir).join(src, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("status") === "exact_dup", 1L).otherwise(0L)).as("n_exact_dup"),
          sum(when(col("status") === "near_dup", 1L).otherwise(0L)).as("n_near_dup"),
          sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
        .withColumn("dup_rate", round(
          (col("n_exact_dup") + col("n_near_dup")).cast("double") /
            col("n_docs"), 6)))
    }),
    // DUPLICATION-QUALITY BIAS — are a feed's duplicates boilerplate?
    // Per (source, ledger status): doc count and the mean quality
    // signals (chars, stopword ratio, short-token ratio) of that tier.
    // The curation call made right after the ledger: if a source's dups
    // score WORSE than its keepers (high stop/short ratios, short docs),
    // dedup is doubling as quality filtering there and the feed likely
    // carries templated text; if dups look like keepers, dedup is pure
    // redundancy removal and the quality pipeline owes nothing to it.
    // The ledger chain + q_text_quality's one-pass word_scan + one
    // metadata join; averages are DECIMAL-routed sums over per-doc
    // 6dp-rounded ratios, so both engines aggregate bit-identically.
    "q_dup_quality_bias" -> ((s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
      val scan = graft.functions.WordScan.word_scan(col("text"), stop, 2)
      val q = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          length(col("text")).as("n_chars"), scan.as("sc"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("sc").getItem(0) /
            col("sc").getItem(3).cast("double"), 6).as("stop_ratio"),
          round(col("sc").getItem(1) /
            col("sc").getItem(3).cast("double"), 6).as("short_ratio"))
      ord(curationLedgerCached(s, dir).select(col("doc_id"), col("status"))
        .join(q, "doc_id")
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast("double") /
            count(lit(1)), 6).as("avg_chars"),
          round(sum(col("stop_ratio").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("avg_stop_ratio"),
          round(sum(col("short_ratio").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("avg_short_ratio")))
    }),
    // CROSS-SOURCE DUPLICATION MATRIX — which sources mirror each
    // other: near-dup pair counts bucketed by the (source, source) of
    // their endpoints (unordered, so the matrix is upper-triangular).
    // The question every mixture design asks before weighting sources
    // independently ("is src7 just a mirror of src3?"); a heavy
    // off-diagonal cell means two feeds share provenance and their
    // mixture weights double-count. Pairs join the 2-column doc→source
    // map twice (metadata-only, never text); everything after the pair
    // generator is graph-sized.
    "q_source_overlap" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      ord(pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          col("jaccard"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("jaccard").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_jaccard")))
    }),
    // CLUSTER COHESION AUDIT — the QA report on the near-dup clustering
    // itself: per cluster, member count, intra-edge count, edge density
    // 2E/(n(n-1)), and mean/min jaccard over its edges — the numbers a
    // curation review reads before trusting keep-one-per-cluster
    // deletion (a low-density, low-min-jaccard cluster is a chained
    // false-positive merge; a dense high-min cluster is safe to
    // collapse). Everything after the pair generator runs at GRAPH
    // scale: edges join their endpoint's label, one aggregate per
    // cluster; the mean routes through DECIMAL so edge addition order
    // can't wiggle the last ulp.
    "q_cluster_cohesion" -> ((s, dir) => {
      // parquet-backed via nearDupPairs: multiple consumer passes replan
      // against a plain file scan, so no localCheckpoint to manage
      val pairs = nearDupPairs(s, dir)
      val comps = nearDupComponents(s, dir)
      val sizes = comps.groupBy("cluster_rep").agg(count(lit(1)).as("n_members"))
      val lab = comps.select(col("member").as("doc_a"), col("cluster_rep"))
      ord(pairs.join(lab, "doc_a")
        .groupBy("cluster_rep")
        .agg(count(lit(1)).as("n_edges"),
          round(sum(col("jaccard").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_jaccard"),
          min(col("jaccard")).as("min_jaccard"))
        .join(sizes, "cluster_rep")
        .withColumn("density", round(col("n_edges").cast("double") * 2 /
          (col("n_members") * (col("n_members") - 1)), 6)))
    }),
    // NORMALIZED exact dedup (the CCNet pre-pass): lowercase, strip
    // non-alphanumerics, collapse whitespace — then group on the md5 of
    // the NORMALIZED text. Catches the near-exact families raw exact
    // dedup misses (case/punctuation/spacing variants) at exact-dedup
    // cost: one codegen'd normalize scan + one 16-byte-key groupBy;
    // normalized text itself never shuffles (only its hash and length).
    "q_dedup_normalized" -> ((s, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "), "\\s+", " "))
      ord(t(s, dir, "documents")
        .select(col("doc_id"), md5(norm).as("nkey"), length(norm).as("n_chars"))
        .groupBy("nkey")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"),
          min(col("n_chars")).cast("int").as("n_chars")))
      // no n_docs > 1 filter: this corpus has no case/punct variants, so
      // the dup slice would be empty and the check vacuous — emitting
      // every group value-checks the normalization chain (and its md5)
      // on EVERY document cross-engine
    }),
    // QUALITY-AWARE keeper choice: the same near-dup components, but
    // keep the LONGEST member per cluster (ties by min doc_id) instead
    // of the arbitrary min-id representative — the rule real curation
    // pipelines use (the longest variant of a boilerplate-trimmed /
    // truncated family is usually the most complete). The keeper rank
    // needs only the tiny (member, n_chars) frame — n_chars comes from
    // the documents table's own metadata column, a 2-column pruned scan
    // joined to the component labels, never a second text scan; the
    // per-cluster window partitions by cluster_rep (no global window).
    "q_dedup_keep_best" -> ((s, dir) => {
      val comps = nearDupComponents(s, dir)
      val len = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      ord(graft.operators.TextDedup.keepers(comps, len, "doc_id", "n_chars")
        .withColumnRenamed("keep_id", "keep_doc")
        .withColumnRenamed("keep_score", "keep_chars"))
    }),
    // MinHash + LSH banding, fully oracle-checked (portable affine hash
    // family, see MinHashP above); banding is an equi-join on
    // (band, band-slice key), so the only shuffle is |docs|*bands rows,
    // independent of both shingle count and pair count.
    "q_dedup_minhash" -> ((s, dir) => {
      ord(graft.operators.TextDedup.minhashPairs(
        canonicalDocs(s, dir), "doc_id", "text", threshold = 0.2,
        portable = !graft.Tables.benchMode,
        // bench/production mode load-tests the degenerate-bucket cap (the
        // LSH analogue of maxDf); the oracle-checked path stays exact
        maxBucket = if (graft.Tables.benchMode) 1024 else 0))
    }),
    // MinHash ESTIMATOR-QUALITY audit (the dedup twin of q_ann_recall):
    // for every LSH candidate pair, the signature estimate
    // (matching components / k) against the TRUE shingle Jaccard, with
    // the absolute error — the measurement that justifies trusting the
    // sketch before deleting data on its word. True side runs at
    // threshold 0 so candidate pairs whose true similarity is LOW (the
    // estimator's failure mode) stay in the audit instead of silently
    // dropping out. Both arms are the existing single-scan operators.
    "q_minhash_est" -> ((s, dir) => {
      // Round-13 measurement: checkpointing `canon` so the two arms share
      // one canonicalization did NOT move the needle (1.39 s either way —
      // the cost is the pair work, not the md5 groupBy). Round-17: both
      // arms now ride the SESSION ARTIFACTS instead of re-deriving — the
      // 0.2-filtered slice of the raw banded candidates (minhashPairs'
      // own final filter, so rows are identical) and the threshold-0
      // truth graph the other audits read. At corpus scale run this
      // audit over a SAMPLE of candidate pairs — the estimator-vs-truth
      // measurement needs statistical coverage, not the full pair set.
      val est = minhashCands(s, dir)
        .filter(col("est_jaccard") >= 0.2)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      val tru = truthPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      ord(est.join(tru, Seq("doc_a", "doc_b"))
        .withColumn("abs_err",
          round(abs(col("est_jaccard") - col("jaccard")), 6)))
    }),
    // CANDIDATE-GENERATION RECALL AUDIT: what fraction of the true
    // jaccard >= 0.2 pairs does the minhash banding (k=32, 8 bands of 4)
    // surface as candidates at all (threshold 0 — RAW banded pairs,
    // before the estimate filter)? This is the bands×rows knob audit run
    // before trusting an LSH dedup pass at scale: q_minhash_est measures
    // the ESTIMATOR's error on surfaced pairs; this row measures what
    // never surfaces. Truth side rides the shared session pair graph;
    // 1-row counters finalize from pair-graph-sized partials.
    "q_lsh_recall" -> ((s, dir) => {
      val truth = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val cand = minhashCands(s, dir).select(col("doc_a"), col("doc_b"))
      val flags = truth.join(cand.withColumn("c", lit(1)),
        Seq("doc_a", "doc_b"), "left")
      val hits = flags.agg(count(lit(1)).as("n_true"), count(col("c")).as("n_hit"))
      ord(hits.crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .withColumn("recall", when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true"), 6))))
    }),

    // SimHash: bit-vote signature packed into one BIGINT, oracle-checked
    // (60-bit md5-derived token hashes, same in both engines). Candidate
    // generation is BANDED (4 x 15-bit bands): two signatures within
    // hamming distance 3 share at least one exact band (pigeonhole), so
    // the theta self-join becomes an equi-join — the scale-correct form.
    "q_dedup_simhash" -> ((s, dir) => {
      ord(graft.operators.TextDedup.simhashPairs(
        canonicalDocs(s, dir), "doc_id", "text", maxHamming = 3,
        portable = !graft.Tables.benchMode,
        maxBucket = if (graft.Tables.benchMode) 1024 else 0))
    }),
    // the q_lsh_recall audit for the SIMHASH family: SimHash approximates
    // COSINE of the bit-vote term vectors, not jaccard, so its recall of
    // the jaccard >= 0.2 truth set is exactly the number a practitioner
    // needs before choosing a generator family at scale — the two audits
    // side by side are the minhash-vs-simhash bake-off on this corpus.
    // Same 1-row shape as q_lsh_recall (pair-graph-sized partials).
    "q_simhash_recall" -> ((s, dir) => {
      val truth = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      // the simhash candidate artifact (q_dedup_simhash stays the inline
      // generator row)
      val canon = canonicalDocs(s, dir)
      val cand = graft.plans.SessionArtifacts.parquet(canon,
        s"sh:3:${graft.Tables.benchMode}") {
        graft.operators.TextDedup.simhashPairs(
          canon, "doc_id", "text", maxHamming = 3,
          portable = !graft.Tables.benchMode,
          maxBucket = if (graft.Tables.benchMode) 1024 else 0)
      }.select(col("doc_a"), col("doc_b"))
      val flags = truth.join(cand.withColumn("c", lit(1)),
        Seq("doc_a", "doc_b"), "left")
      val hits = flags.agg(count(lit(1)).as("n_true"), count(col("c")).as("n_hit"))
      ord(hits.crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .withColumn("recall", when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true"), 6))))
    }),
    // the EMPIRICAL S-CURVE of the minhash banding (k=32, 8 bands × 4
    // rows): candidacy rate by true-jaccard decile — the tuning plot
    // behind every (bands, rows) choice. q_lsh_recall collapses this to
    // one number at the 0.2 operating point; this row shows the whole
    // transition (theory: P(candidate) = 1-(1-j^r)^b), so a practitioner
    // reads exactly where the banding's soft threshold sits and how much
    // sub-threshold pair volume leaks through as verify-join load. Pair
    // work is the same shared-shingle truth graph + banded candidate set
    // the recall audits pay; the curve itself is a 10-row aggregate.
    "q_lsh_scurve" -> ((s, dir) => {
      // both arms from the session artifacts (see q_minhash_est)
      val tru = truthPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      val cand = minhashCands(s, dir)
        .select(col("doc_a"), col("doc_b")).withColumn("c", lit(1))
      ord(tru.join(cand, Seq("doc_a", "doc_b"), "left")
        .withColumn("bucket", least(floor(col("jaccard") * 10), lit(9)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"), count(col("c")).as("n_cand"))
        .withColumn("cand_rate",
          round(col("n_cand").cast("double") / col("n_pairs"), 6)))
    }),
    // DEDUP THRESHOLD SWEEP — the keep-rate knob plot: for each candidate
    // similarity cutoff, how many pairs survive and how many DISTINCT
    // docs have at least one neighbor at or above it (the upper bound on
    // what keep-one-per-component dedup can remove, before clustering).
    // q_lsh_scurve tunes the banding around a chosen threshold; this row
    // is how the threshold itself gets chosen — the corpus-side cost
    // curve a 100 TB operator reads before committing a cutoff. One
    // shared exact pair-graph pass (the same `tru` the recall audits
    // pay), then a 6-threshold explode over pair-sized frames and a
    // 6-row result; thresholds with zero matches keep their row.
    "q_dedup_threshold_sweep" -> ((s, dir) => {
      val canon = canonicalDocs(s, dir)
      // the shared threshold-0 truth artifact (see q_minhash_est); its
      // parquet-backed frame also serves this query's two consuming
      // branches without re-deriving the generator per branch
      val tru = truthPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      val ths = Seq(0.1, 0.2, 0.3, 0.5, 0.7, 0.9)
      def thCol = explode(array(ths.map(lit): _*)).as("t")
      val th = s.range(1).select(thCol)
      val pairsT = tru.select(thCol, col("jaccard"))
        .filter(col("jaccard") >= col("t"))
        .groupBy("t").agg(count(lit(1)).as("n_pairs"))
      val docsT = tru
        .select(col("jaccard"),
          explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .select(thCol, col("jaccard"), col("doc"))
        .filter(col("jaccard") >= col("t"))
        .groupBy("t").agg(countDistinct(col("doc")).as("n_docs_matched"))
      val total = canon.agg(count(lit(1)).as("n_docs"))
      ord(th.join(pairsT, Seq("t"), "left").join(docsT, Seq("t"), "left")
        .crossJoin(broadcast(total))
        .select(col("t"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_matched"), lit(0L)).as("n_docs_matched"),
          round(coalesce(col("n_docs_matched"), lit(0L)).cast("double") /
            col("n_docs"), 6).as("matched_frac")))
    }),
    // SHINGLE DOCUMENT-FREQUENCY HISTOGRAM — the audit behind the maxDf
    // pruning knob every inverted-index pair generator here exposes: how
    // the 3-token shingle vocabulary distributes over log2 df buckets
    // (bucket = bit-length of df), with the posting mass sitting above
    // the df=64 cap called out per bucket. A shingle in d docs
    // contributes O(d²) candidate pairs — this row is the measurement
    // that says what a cap costs in postings (and therefore what it
    // saves in pairs) BEFORE a 100 TB dedup pass commits to it. One
    // shingle pass + a vocabulary-scale groupBy + a ~20-row histogram.
    "q_shingle_df_hist" -> ((s, dir) => {
      import graft.functions.BandGenerators.shingle_posts
      val sh = canonicalDocs(s, dir).select(col("doc_id"),
        shingle_posts(col("text"), !graft.Tables.benchMode))
      ord(sh.groupBy("s").agg(count(lit(1)).as("df"))
        .groupBy(length(conv(col("df"), 10, 2)).cast("int").as("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("df")).as("n_postings"),
          min(col("df")).as("min_df"),
          max(col("df")).as("max_df"),
          sum(when(col("df") > 64, col("df")).otherwise(0L))
            .as("postings_over_cap")))
    }),
    // PAIR-VOLUME FORECAST — the cost side of q_shingle_df_hist's
    // evidence: candidate pairs the inverted-index join will enumerate,
    // Σ d(d−1)/2 over the shingle df distribution, uncapped vs under the
    // maxDf=64 cap, per log2 bucket. THE pre-flight estimate that says
    // whether a 100 TB jaccard pass is affordable as-is or needs the cap
    // (the analogous forecast for banded generators is bands·Σ per-bucket
    // volume). Same vocabulary-scale frame; integer arithmetic only.
    "q_pair_volume_forecast" -> ((s, dir) => {
      import graft.functions.BandGenerators.shingle_posts
      val sh = canonicalDocs(s, dir).select(col("doc_id"),
        shingle_posts(col("text"), !graft.Tables.benchMode))
      ord(sh.groupBy("s").agg(count(lit(1)).as("df"))
        .withColumn("cdf", least(col("df"), lit(64L)))
        .groupBy(length(conv(col("df"), 10, 2)).cast("int").as("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(expr("(df * (df - 1)) div 2")).as("pairs_uncapped"),
          sum(expr("(cdf * (cdf - 1)) div 2")).as("pairs_capped")))
    }),
    // EXACT duplicated-SUBSTRING dedup (the suffix-array rule from the
    // training-data dedup literature, keep-first-occurrence): any
    // duplicated substring of >= L tokens contains a duplicated L-token
    // window, so the union of non-keeper duplicated L-window instances IS
    // the exact set of tokens a keep-first substring dedup removes.
    // Unlike q_strip_boiler (C4 rule: drop EVERY instance of a repeated
    // gram), this keeps the globally-first instance — min (doc_id, p) per
    // window hash — and reports, per affected doc, the removed windows,
    // the MERGED maximal spans, and the exact removed-token count (union
    // length via the sorted-starts lag trick: first start contributes L,
    // each next start min(L, gap)). Plan: one codegen'd positional-gram
    // pass, one groupBy(hash) carrying (tf, argmin instance) — so keeper
    // selection rides the same shuffle as the frequency count — an
    // equi-join back on the 60-bit key, and per-doc windows partitioned
    // by doc_id (never corpus-wide). Linear in corpus size; at 100 TB add
    // document-frequency pruning of ubiquitous windows exactly as the
    // Jaccard index does with maxDf.
    "q_dedup_substrings" -> ((s, dir) => {
      ord(graft.operators.TextDedup.substringDups(
        t(s, dir, "documents"), "doc_id", "text", minLen = 8))
    }),

    // MEMORIZATION-RISK ROLLUP — the substring-dup signal aggregated per
    // source: how many of each feed's tokens sit inside cross-corpus
    // duplicated >= 8-token windows. Per-doc dup_ratio (above) finds bad
    // documents; this finds bad FEEDS — the number that decides whether a
    // source gets substring-deduped, down-weighted, or dropped before a
    // 100 TB run. One extra metadata-sized join + a sources-sized
    // aggregate on top of the window pass.
    "q_dup_tokens_by_source" -> ((s, dir) => {
      val dups = graft.operators.TextDedup.substringDups(
        t(s, dir, "documents"), "doc_id", "text", minLen = 8)
        .select(col("doc_id"), col("n_dup_tokens"))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(filter(split(col("text"), "\\s+"), x => x =!= lit("")))
          .cast("bigint").as("n_toks"))
      ord(docs.join(dups, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_dup_tokens")).as("n_docs_affected"),
          sum(col("n_toks")).as("n_tokens"),
          coalesce(sum(col("n_dup_tokens")), lit(0L)).as("n_dup_tokens"))
        .withColumn("dup_frac",
          round(col("n_dup_tokens").cast("double") / col("n_tokens"), 6)))
    }),

    // STREAMING REPLAYS: a real micro-batch StreamingQuery over a fixed
    // batch schedule, emitted rows hash-checked by the DuckDB oracle — the
    // hard correctness signal for the keyed-state operators that the
    // parity specs alone can't provide. With an uncapped bucket / a
    // sentinel watermark flush, each emitted set is a property of the
    // DATA, not the schedule (see Streams.replay* docs), which is what
    // makes a batch-SQL oracle exact.
    // batches=4 here and on the sibling replay rows: schedule-independent
    // emitted sets, halved per-trigger fixed cost (see the sliding-replay
    // comment)
    "q_stream_neardup_replay" -> ((s, dir) => {
      ord(graft.streaming.Streams.replayNearDups(
        canonicalDocs(s, dir), maxHamming = 3, portable = true, batches = 4))
    }),
    "q_stream_session_replay" -> ((s, dir) => {
      ord(graft.streaming.Streams.replayClosedSessions(
        t(s, dir, "events"), gapMs = 15 * 60 * 1000L, batches = 4)
        .select(col("user_id"), expr("unix_micros(start)").as("start_us"),
          col("n")))
    }),
    "q_stream_tumbling_replay" -> ((s, dir) => {
      ord(graft.streaming.Streams.replayTumblingCounts(t(s, dir, "events"),
        batches = 4)
        .select(expr("unix_micros(wstart)").as("wstart_us"), col("event_type"),
          col("n"), col("sum_value").cast("double").as("sum_value")))
    }),
    "q_stream_join_replay" -> ((s, dir) => {
      // batches=4 (not the harness default 8): the stream-stream join pays
      // BY FAR the highest per-micro-batch fixed cost of the five replays
      // (4 join state stores × partitions, plus a watermark-advance batch
      // per trigger — 38 s of the round-14 verify loop's 242 s); its
      // emitted set is schedule-independent by the no-late-data contract,
      // so fewer batches test the same semantics with cross-batch state
      // still exercised on every boundary.
      ord(graft.streaming.Streams.replayStreamJoin(
        t(s, dir, "events"), leftType = "view", rightType = "click",
        batches = 4)
        .select(col("user_id"), col("l_id"), col("r_id"),
          expr("unix_micros(l_ts)").as("l_ts_us"),
          expr("unix_micros(r_ts)").as("r_ts_us")))
    }),
    // embedding near-dup: cosine >= threshold pairs (brute force at test SF;
    // q_dedup_embedding_lsh below is the scale path)
    // embedding STORAGE quantization (uint8): per-dimension corpus
    // min/max (one aggregate over the exploded frame; 64 rows broadcast
    // back), floor-scaled to 0..255 — 4x/8x smaller vectors for the ANN
    // candidate tiers. Verified per vector by an exact integer code
    // checksum plus the mid-riser reconstruction squared error in
    // order-free decimal accumulation (floor + decimal, never a
    // float-order-dependent sum, so both engines agree bit-for-bit).
    // Constant dimensions (max == min) quantize to 0 by contract.
    "q_embed_quantize" -> ((s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding").cast("array<double>"))
          .as(Seq("d", "x")))
      val stats = dims.groupBy("d")
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val q = when(col("mx") > col("mn"),
        floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255).cast("int"))
        .otherwise(0)
      ord(dims.join(broadcast(stats), Seq("d"))
        .select(col("vec_id"), col("x"), col("mn"), col("mx"), q.as("q"))
        .withColumn("deq",
          col("mn") + (col("q") + 0.5) * (col("mx") - col("mn")) / 256)
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_dims"),
          sum(col("q").cast("bigint")).as("sum_q"),
          sum(((col("x") - col("deq")) * (col("x") - col("deq")))
            .cast("decimal(25,12)")).cast("double").as("sq_err")))
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.cosinePairs(e, threshold = 0.45))
    }),
    // embedding near-dup at corpus scale: the SAME cosinePairs operator
    // with the random-hyperplane sign bucket (see LshPlanes) — candidate
    // generation becomes a shuffled equi-join on the 8-bit bucket key
    // (work ∝ Σ|bucket|², not |corpus|²), recall traded for bounded cost.
    // Deterministic literal planes, so the oracle replicates the buckets.
    "q_dedup_embedding_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.cosinePairs(
        e, threshold = 0.3, bucket = Some(lshBucket),
        maxBucket = if (graft.Tables.benchMode) 1024 else 0))
    }),

    // JSONL round trip through the interchange source/sink: stage the
    // documents table as sharded JSONL once (fingerprint-cached like
    // q_pipeline_e2e's record staging), read it back SCHEMA-FIRST, and
    // project per-doc facts the oracle recomputes from the original
    // table — any escaping/unicode/type loss in the round trip diverges
    // from the oracle. JSONL is the LLM training-data interchange
    // format; the engine-native store stays Parquet.
    "q_jsonl_ingest" -> ((s, dir) => {
      val fp = t(s, dir, "documents").agg(count(lit(1)),
        coalesce(sum(col("doc_id")), lit(0L)),
        coalesce(sum(length(col("text"))), lit(0L))).head()
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir|${fp.getLong(0)}|${fp.getLong(1)}|${fp.getLong(2)}"
          .getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_jsonl_" + md.take(12)).getAbsolutePath
      stageOnce(base)(new java.io.File(base, "_SUCCESS").isFile) {
        graft.sources.Sources.writeJsonl(
          t(s, dir, "documents").select("doc_id", "text", "lang"), base)
      }
      val docs = graft.sources.Sources.readJsonl(s, base,
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING"))
      ord(docs.select(col("doc_id"),
        length(coalesce(col("text"), lit(""))).as("n_chars"), col("lang")))
    }),

    // SEMANTIC dedup end to end: the cross-family composition a real
    // pipeline runs on embeddings - LSH-bucketed cosine pairs (one
    // corpus scan) -> connected components (auto-selected variant) ->
    // keep-one-per-group summary (representative, cluster size). The
    // oracle chains the LSH pair SQL into a recursive CTE, so the whole
    // chain is value-checked, not just its stages.
    "q_dedup_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val pairs = graft.operators.Similarity.cosinePairs(
        e, threshold = 0.3, bucket = Some(lshBucket),
        maxBucket = if (graft.Tables.benchMode) 1024 else 0)
      val clusters = graft.operators.TextDedup.duplicateClustersAuto(
        pairs, "vec_a", "vec_b")
      ord(clusters.groupBy(col("cluster_rep")).agg(count(lit(1)).as("n_members")))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cells as
    // the candidate buckets — within-cell cosine pairs above threshold,
    // connected components, then KEEP THE LEAST PROTOTYPICAL member (the
    // lowest cosine to its cell centroid; the paper's keep-farthest-from-
    // centroid rule, preserving diversity where plain min-id keeps an
    // arbitrary member). 100-TB shape: candidate work is Σ|cell|² with k
    // scaled so cells stay bounded (+ the maxBucket cap in bench mode);
    // the trained-centroid frame broadcasts everywhere; ONE corpus scan
    // feeds assignment, pairs, and the centroid-cosine ranking. Fully
    // deterministic (Lloyd ties by cid, keeper ties by vec_id), so the
    // oracle replays training, components, and the keeper choice exactly.
    "q_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.semDedup(e, k = 8, iters = 2,
        threshold = 0.3,
        maxBucket = if (graft.Tables.benchMode) 1024 else 0))
    }),

    // train/eval CONTAMINATION check: shingle overlap between the corpus
    // and a held-out "benchmark" slice (doc_id % 97 == 0 stands in for an
    // eval set) — the decontamination sweep every training corpus runs.
    // Bipartite inverted-index join; the tiny benchmark side broadcasts.
    "q_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      val bench0 = d.filter(isBench)
      // bench/production mode load-tests a 10x-duplicated benchmark side
      // (distinct ids via explode — one scan): proves the broadcast on the
      // eval-set side holds as that side grows, the contamination sweep's
      // actual scaling axis. The oracle-checked path stays the 1x slice.
      val bench =
        if (graft.Tables.benchMode)
          bench0.select(col("text"), col("doc_id"),
              explode(array((0 until 10).map(lit): _*)).as("__k"))
            .select(col("text"), (col("doc_id") * 10 + col("__k")).as("doc_id"))
        else bench0
      // bench mode also exercises the boilerplate-shingle guard (the
      // family's maxDf pattern); the oracle-checked path stays uncapped
      ord(graft.operators.TextDedup.crossOverlapPairs(
        d.filter(!isBench), bench, "doc_id", "text",
        minOverlap = 2, portable = !graft.Tables.benchMode,
        maxDf = if (graft.Tables.benchMode) 256 else 0))
    }),
    // end-to-end DECONTAMINATION: the filter the contamination sweep
    // feeds — train-side docs overlapping any benchmark doc by >= 2
    // shingles are dropped; survivors keep their metadata. The pair
    // sweep is the same inverted-index equi-join as q_contamination
    // (bench side broadcasts); the removal is a left_anti on doc_id.
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      val contaminated = graft.operators.TextDedup.crossOverlapPairs(
          d.filter(!isBench), d.filter(isBench), "doc_id", "text",
          minOverlap = 2, portable = !graft.Tables.benchMode,
          maxDf = if (graft.Tables.benchMode) 256 else 0)
        .select(col("doc_id")).distinct()
      ord(d.filter(!isBench)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source")))
    }),
    // BLOOM-PREFILTERED decontamination — the same output as
    // q_decontaminate (the shared oracle checks exactly that), through
    // the plan a 100 TB corpus actually runs: the eval set's distinct
    // shingle hashes aggregate into ONE Bloom filter (a distributed
    // treeAggregate — the driver holds only the filter bytes), broadcast
    // to every task; the corpus pays a MAP-SIDE membership test per doc
    // and only bloom HITS enter the exact inverted-index verify join.
    // No false negatives (a doc sharing >= 2 shingles certainly has a
    // bloom-hit shingle), so the output is identical BY CONSTRUCTION;
    // false positives only add rows to the verify join, never to the
    // result. The win at scale: the token-scale gram frame of the whole
    // corpus never shuffles — only the pre-pruned sliver does.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      val portable = !graft.Tables.benchMode
      val benchDocs = d.filter(isBench)
      val benchGrams = benchDocs.select(explode(
        graft.functions.ShingleHashes.shingle_hashes(col("text"), portable))
        .as("g")).distinct()
      val n = math.max(benchGrams.count(), 1L)
      val bf = s.sparkContext.broadcast(
        benchGrams.stat.bloomFilter("g", n, 0.01))
      val hit = udf((arr: scala.collection.Seq[Long]) =>
        arr != null && arr.exists(bf.value.mightContainLong))
      val train = d.filter(!isBench)
      val candidates = train.filter(hit(
        graft.functions.ShingleHashes.shingle_hashes(col("text"), portable)))
      val contaminated = graft.operators.TextDedup.crossOverlapPairs(
          candidates, benchDocs, "doc_id", "text",
          minOverlap = 2, portable = portable,
          maxDf = if (graft.Tables.benchMode) 256 else 0)
        .select(col("doc_id")).distinct()
      ord(train.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source")))
    }),
    // per-source quality audit matrix: the (source × gate-reason) counts
    // a curation pass reads to see WHERE its losses come from — one
    // quality_gate scan joined to source metadata, one groupBy.
    "q_quality_by_source" -> ((s, dir) => {
      ord(qualityReasons(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy("source", "reason").agg(count(lit(1)).as("n_docs")))
    }),
    // corpus audit: document-length histogram in 100-char buckets — the
    // distribution check run before/after every filtering stage
    "q_corpus_stats" -> ((s, dir) => {
      ord(t(s, dir, "documents")
        .groupBy((floor(length(col("text")) / 100) * 100).cast("int").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(length(col("text"))).as("min_len"),
          max(length(col("text"))).as("max_len")))
    }),

    // ---- similarity search ------------------------------------------

    // brute-force cosine top-k: broadcast the query set, scan corpus once
    "q_knn_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.knn(e, col("vec_id") < 10, k = 5))
    }),
    // hard-negative MINING for contrastive training: per query, the
    // neighbors ranked 6..10 — the "close but not closest" band below
    // the presumed-positive top-5 and above the trivially-far tail.
    // Same broadcast-queries/one-scan plan as q_knn_bruteforce.
    "q_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.knnBand(e, col("vec_id") < 10, skip = 5, k = 5))
    }),
    // FILTERED vector search (metadata-constrained ANN — the production
    // vector-db pattern: "neighbors of q among docs matching q's
    // filter"): the label predicate becomes the JOIN KEY, so the filter
    // is a hash partition, not a post-scan discard — at 100 TB a
    // label-partitioned corpus makes the constrained search touch only
    // the matching partitions (the same bucket mechanism the orthant
    // and IVF tiers use; metadata filtering falls out of the existing
    // operator for free).
    "q_knn_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        col("label").cast("bigint").as("label"))
      ord(graft.operators.Similarity.knn(e, col("vec_id") < 10, k = 3,
        bucket = Some(col("label"))))
    }),
    // margin-based BITEXT MINING (cross-lingual parallel-pair mining):
    // English-pool vs rest-pool over the embeddings (lang rides in from
    // documents on the shared id), ratio margin over top-4 neighborhood
    // averages, reciprocal-best pairs above 1.0 — the hubness-robust
    // criterion raw cosine thresholds lack. See Similarity.bitextMine
    // for the per-IVF-cell contract at corpus scale.
    "q_bitext_mine" -> ((s, dir) => {
      val lang = t(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
        .join(lang, Seq("vec_id"))
      ord(graft.operators.Similarity.bitextMine(
        e, col("lang") === "en", k = 4, minMargin = 1.0))
    }),
    // the CORPUS-SCALE tier of the same miner: candidate pairs restricted
    // to shared trained-IVF cells (train -> assign -> mine per cell), so
    // the pools meet in a hash equi-join on the cell id — pair volume is
    // Σ_cell |A_cell|×|B_cell| and NOTHING corpus-sized broadcasts. The
    // margin is judged against the cell-local neighborhood (the standard
    // cell-restricted mining semantics); the oracle replays the full
    // Lloyd chain + cell-local mining bit-for-bit. Training is the same
    // memoized k=8/iters=2 quantizer the ANN family shares — a sweep
    // trains it once.
    "q_bitext_mine_cells" -> ((s, dir) => {
      val lang = t(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
        .join(lang, Seq("vec_id"))
      ord(graft.operators.Similarity.bitextMine(
        assigned, col("lang") === "en", k = 4, minMargin = 1.0,
        cell = Some(col("cid"))))
    }),
    // MMR DIVERSITY RE-RANK (Carbonell & Goldstein 1998): each query's
    // top-20 cosine candidates greedily reduced to 5 picks where every
    // pick maximizes relevance minus max-similarity-to-already-picked
    // (λ=0.5; mmr4 = rel4 − maxsim4 in exact 1e-4 integer units) — the
    // near-duplicate-results killer between retrieval and consumption.
    // All stages after candidate generation are bounded by queries×topN;
    // the oracle replays every greedy step.
    "q_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Retrieval.mmrRerank(e, col("vec_id") < 3,
        topN = 20, k = 5))
    }),
    // HYBRID retrieval via RECIPROCAL-RANK FUSION: per query doc
    // (doc_id < 5), the BM25 more-like-this arm (query = the doc's
    // distinct tokens) and the dense cosine arm (its embedding) each
    // rank top-20; ranks fuse as exact 1e9/(60+rk) nano-units — no
    // score calibration, the property that makes RRF the default
    // hybrid combiner. Arms fail differently (vocabulary mismatch vs
    // semantic drift); the fused list is what search-based curation
    // actually consumes. See Retrieval.scala for the 100 TB contract.
    "q_rrf_fusion" -> ((s, dir) => {
      val sparse = graft.operators.Retrieval.bm25MoreLikeThis(
        t(s, dir, "documents"), col("doc_id") < 5, topK = 20)
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val dense = graft.operators.Similarity.knn(e, col("vec_id") < 5, k = 20)
        .select(col("q_id"), col("neighbor").as("doc_id"), col("rk"))
      ord(graft.operators.Retrieval.rrfFuse(
        Seq(sparse.select("q_id", "doc_id", "rk"), dense), kRrf = 60, topK = 10))
    }),
    // CROSS-ENCODER-style rerank replay (the retrieve-then-rerank stack):
    // dense cosine top-20 per query (the bi-encoder stage), then a joint
    // (query text, candidate text) scorer — deterministic token-overlap
    // Jaccard blended with the stage-1 cosine in exact 1e-6 integer
    // units — re-ranks to top-10. `moved = rk_dense - rk` makes rank
    // movement a first-class column. Stage 2 is bounded by queries×topN
    // pairs; a real model scorer slots into the same bounded seam. See
    // Retrieval.crossEncoderRerank for the 100 TB contract.
    "q_rerank_cross" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Retrieval.crossEncoderRerank(
        e, t(s, dir, "documents"), col("vec_id") < 5, topN = 20, k = 10))
    }),
    // LSH-bucketed ANN: deterministic sign-sketch buckets (scale path,
    // engine-specific hashing -> rows-only)
    "q_knn_ivf" -> ((s, dir) => {
      // bucket = sign pattern of the first 8 dims (a fixed orthant sketch —
      // deterministic stand-in for trained IVF centroids)
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val orthant = expr(
        "aggregate(slice(v, 1, 8), 0L, (acc, x) -> acc * 2 + CASE WHEN x >= 0 THEN 1 ELSE 0 END)")
      ord(graft.operators.Similarity.knn(e, col("vec_id") < 10, k = 5, bucket = Some(orthant)))
    }),

    // composite quality FILTER: the scoring rules become a keep/drop
    // decision with the first failing rule as the reason — the actual
    // gate shape of a training-data pipeline (one word_scan pass per doc)
    "q_quality_filter" -> ((s, dir) => {
      ord(qualityReasons(s, dir).select(col("doc_id"), col("reason"))
        .withColumn("keep", col("reason") === "ok"))
    }),

    // end-to-end prep composition: quality gate -> exact-dedup
    // canonicalization -> per-language surviving-document counts — the
    // skeleton every training-data pipeline runs before tokenization.
    // Each stage is the operator verified on its own above; this query
    // verifies the CHAIN (filters feed the dedup groupBy on one lineage).
    "q_prep_pipeline" -> ((s, dir) => {
      val kept = t(s, dir, "documents")
        .join(qualityReasons(s, dir).filter(col("reason") === "ok")
          .select("doc_id"), "doc_id")
      // `min(lang)` as a STRING buffer would force the corpus-scale
      // canonicalization out of HashAggregate (fixed-width buffers only)
      // into a full SortAggregate — the round-4 plan audit's one wrong
      // plan. Instead min() runs over an order-isomorphic FIXED-WIDTH
      // encoding (packLang): the first 14 UTF-8 BYTES of lang, big-endian
      // into a DECIMAL(38,0) — still a fixed 16-byte mutable aggregation
      // buffer, so the chain stays HashAggregate (spec-guarded), while
      // 14 bytes covers every registered BCP-47 tag (zh-Hant-TW = 10)
      // and the byte-level pad keeps the isomorphism for non-ASCII tags.
      ord(kept
        .groupBy(md5(col("text")).as("__h"), col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(packLang(col("lang"))).as("__lc"))
        .select(unpackLang(col("__lc")).as("lang"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs")))
    }),

    // THE FULL CURATION CHAIN in one declarative plan — quality gate →
    // exact-dedup canonicalization → per-language UniMax cap →
    // deterministic 80/10/10 split → audited release manifest (counts +
    // id checksum per (split, lang)). Each stage is the operator
    // verified on its own; this query verifies the chain at release
    // shape: one corpus scan feeds the gate+dedup lineage, the lang cap
    // compiles to WindowGroupLimit (selection exchange carries
    // langs×cap×partitions rows, not the corpus), and every downstream
    // decision is a deterministic function of doc_id — re-running the
    // release reproduces it bit-for-bit.
    "q_curation_e2e" -> ((s, dir) => {
      val kept = t(s, dir, "documents")
        .join(qualityReasons(s, dir).filter(col("reason") === "ok")
          .select("doc_id"), "doc_id")
      val canon = kept
        .groupBy(md5(col("text")).as("__h"), col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(packLang(col("lang"))).as("__lc"))
        .select(col("doc_id"), unpackLang(col("__lc")).as("lang"))
      val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
      val capped = canon
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(draw, col("doc_id"))))
        .filter(col("rk") <= 100)
      val split = when(draw % 100 < 80, "train")
        .when(draw % 100 < 90, "valid").otherwise("test")
      ord(capped.groupBy(split.as("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum")))
    }),

    // random-hyperplane LSH ANN: bucket = 8 sign bits of fixed ±1
    // hyperplanes (see LshPlanes) — the classic cosine-LSH scale path;
    // candidates only within a bucket (~|corpus|/256 of the scan),
    // recall traded for bounded work. Exact same buckets in the oracle.
    "q_knn_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.knn(e, col("vec_id") < 10, k = 5, bucket = Some(lshBucket)))
    }),

    // TRAINED IVF coarse quantization: deterministic Lloyd k-means
    // (lowest-vec_id seeds, decimal-exact centroid means — see
    // Similarity.trainIvf) + nearest-centroid assignment. Each iteration
    // broadcasts k centroids and scans the corpus once; the oracle
    // replays both iterations bit-for-bit.
    "q_ivf_train" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      ord(graft.operators.Similarity.assignToCentroids(e, cents)
        .select(col("vec_id"), col("cid")))
    }),
    // corpus CLUSTERING audit (the SemDeDup/topic-balance shape): train
    // k-means over the embedding corpus, assign every vector, and report
    // per-cluster size + representative (min vec_id) — the mixture
    // report a data-curation pass reads before re-weighting clusters.
    // Same broadcast-centroids/one-corpus-scan shape as the IVF family;
    // the oracle replays the Lloyd chain bit-for-bit.
    "q_cluster_assign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      ord(graft.operators.Similarity.assignToCentroids(e, cents)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("rep_vec")))
    }),
    // IVF CELL-BALANCE AUDIT — the straggler check run before trusting a
    // trained index at scale: one row of corpus-wide skew facts (cell
    // count, min/max population, imbalance = max/mean) plus the expected
    // 1-probe scan fraction Σ(n_c/N)² — the fraction of the corpus an
    // average query actually touches when queries distribute like the
    // data. imbalance ≫ 1 means one cell serves most queries (a hot
    // partition at 100 TB); scan_frac_1probe ≈ 1/k is the healthy value.
    // Everything after the one assignment scan is k-row.
    "q_ivf_balance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val cell = graft.operators.Similarity.assignToCentroids(e, cents)
        .groupBy("cid").agg(count(lit(1)).as("n"))
      ord(cell.agg(
          count(lit(1)).as("n_cells"),
          sum(col("n")).as("n_vecs"),
          min(col("n")).as("min_cell"),
          max(col("n")).as("max_cell"),
          sum(col("n") * col("n")).as("__ss"))
        .withColumn("imbalance", round(
          col("max_cell").cast("double") * col("n_cells") / col("n_vecs"), 6))
        .withColumn("scan_frac_1probe", round(
          col("__ss").cast("double") / (col("n_vecs") * col("n_vecs")), 6))
        .drop("__ss"))
    }),
    // EMBEDDING-SPACE OUTLIER AUDIT — per trained cell: member count,
    // mean/std of the squared distance to the centroid, and how many
    // members sit more than 2σ out. Far-from-every-centroid vectors are
    // the embedding-space junk (encoder failures, off-distribution
    // payloads) a curation pass quarantines before they poison ANN
    // recall or semantic dedup. Determinism contract: distances round to
    // 6 then route through DECIMAL power sums (order-free), the z and σ
    // expressions are fixed double trees over those exact sums — so the
    // oracle replays every comparison bit-for-bit. One assignment scan;
    // everything after is k-row.
    // DEAD/COLLAPSED-DIMENSION AUDIT — per embedding dimension: count,
    // mean, sample variance, min, max. The encoder health check read
    // BEFORE committing to PCA/MRL truncation or SQ8 ranges: a
    // near-zero-variance dimension carries no signal (truncate it for
    // free), a saturated min/max hints at clipping upstream, and a mean
    // far from 0 breaks symmetric quantizers. One posexplode +
    // dim-keyed aggregate (dims-sized output); the q_embed_outliers
    // DECIMAL power-sum recipe per dimension, so both engines aggregate
    // bit-identically.
    "q_embed_dim_variance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x0")))
        .select(col("dim"), round(col("x0"), 6).as("x"))
      val xd = col("x").cast("decimal(18,6)")
      ord(e.groupBy("dim").agg(
          count(lit(1)).as("n_vecs"),
          sum(xd).cast("double").as("s1"),
          sum(xd * xd).cast("double").as("s2"),
          round(min(col("x")), 6).as("min_x"),
          round(max(col("x")), 6).as("max_x"))
        .select(col("dim"), col("n_vecs"),
          round(col("s1") / col("n_vecs"), 6).as("mean"),
          round((col("s2") - col("s1") * col("s1") / col("n_vecs")) /
            (col("n_vecs") - 1), 6).as("variance"),
          col("min_x"), col("max_x")))
    }),
    "q_embed_outliers" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val withDist = graft.operators.Similarity.assignToCentroids(e, cents)
        .join(broadcast(cents), "cid")
        .select(col("cid"), col("vec_id"),
          round(graft.functions.VecSqDiff.vec_sqdiff(col("v"), col("cen")), 6)
            .as("d"))
      val dd = col("d").cast("decimal(18,6)")
      val stats = withDist.groupBy("cid").agg(
          count(lit(1)).as("n"),
          sum(dd).cast("double").as("s1"),
          sum(dd * dd).cast("double").as("s2"))
        .withColumn("mean_d", col("s1") / col("n"))
        .withColumn("var_d", when(col("n") > 1,
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .otherwise(lit(0.0)))
      val zc = withDist.join(broadcast(stats), "cid")
        .withColumn("z", when(col("var_d") > 0,
          (col("d") - col("mean_d")) / sqrt(col("var_d"))).otherwise(lit(0.0)))
        .groupBy("cid")
        .agg(count(when(col("z") > 2.0, 1)).as("n_outliers"),
          round(max(col("z")), 4).as("max_z"))
      ord(stats.select(col("cid"), col("n").as("n_vecs"),
          round(col("mean_d"), 6).as("mean_dist"),
          round(when(col("var_d") > 0, sqrt(col("var_d"))).otherwise(lit(0.0)), 6)
            .as("std_dist"))
        .join(zc, "cid"))
    }),
    // TOPIC × SOURCE MIXTURE — which sources dominate which embedding
    // clusters: the trained k-means cells crossed with the doc→source
    // metadata, per (cluster, source) count + within-cluster share +
    // the dominant-source flag. A cluster owned >90% by one feed is a
    // provenance topic, not a semantic one — the signal cluster-balanced
    // capping (q_mix_cluster_capped) should see before treating cells as
    // topics. Same broadcast-centroids/one-scan shape as the IVF family;
    // everything after assignment is (cells × sources)-sized.
    "q_cluster_source_mix" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val cell = assigned.join(src, col("vec_id") === col("doc_id"))
        .groupBy("cid", "source").agg(count(lit(1)).as("n_docs"))
      val tot = org.apache.spark.sql.expressions.Window.partitionBy("cid")
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy("cid").orderBy(col("n_docs").desc, col("source"))
      ord(cell
        .withColumn("share",
          round(col("n_docs").cast("double") / sum(col("n_docs")).over(tot), 6))
        .withColumn("is_dominant", row_number().over(rk) === 1))
    }),
    // the full trained-IVF ANN path: train -> assign -> top-k within the
    // assigned cell (knn's bucket param takes the assignment column, so
    // candidate generation is the cell equi-join, not a corpus scan)
    "q_knn_ivf_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      // trainIvf on a file-backed corpus is memoized and returns a
      // literal-backed k-row frame, so fanning it into multiple consumers
      // replays NO training (the round-4 plan audit counted 8 corpus
      // scans here under lazy lineage; the round-12 memo also dedups the
      // training across the whole catalog sweep)
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
      ord(graft.operators.Similarity.knn(
        assigned, col("vec_id") < 10, k = 5, bucket = Some(col("cid"))))
    }),
    // multi-cell IVF probing (the recall knob real IVF search turns):
    // each query searches its nprobe=2 nearest cells instead of only its
    // own — the probe list broadcasts, the assigned corpus still scans
    // once. Fully deterministic (centroid ties by cid, cosine ties by
    // vec_id), so the oracle replays training + probing bit-for-bit.
    "q_knn_ivf_probed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
      ord(graft.operators.Similarity.knnIvfProbed(
        assigned, cents, col("vec_id") < 10, k = 5, nprobe = 2))
    }),

    // In-engine ANN QUALITY EVALUATION: recall@5 of the IVF-probed
    // search against exact brute force, per query — the measurement a
    // production vector pipeline runs before trusting an index (and
    // re-runs on every reindex). Both arms are the existing one-scan
    // operators; the corpus is scanned twice total (once per arm), the
    // top-k frames that meet in the recall join are |queries|·k rows.
    // Queries whose probed cells miss every true neighbor keep a row
    // with recall 0 (left join from the exact arm). Fully
    // deterministic, so the oracle replays BOTH arms and the exact
    // integer match counts.
    "q_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val exact = graft.operators.Similarity.knn(e, col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("neighbor"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
      val approx = graft.operators.Similarity.knnIvfProbed(
          assigned, cents, col("vec_id") < 10, k = 5, nprobe = 2)
        .select(col("q_id"), col("neighbor"))
      val m = exact.join(approx, Seq("q_id", "neighbor"))
        .groupBy("q_id").agg(count(lit(1)).as("nm"))
      val ks = exact.groupBy("q_id").agg(count(lit(1)).as("k"))
      ord(ks.join(m, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("nm"), lit(0L)).as("n_match"),
          (coalesce(col("nm"), lit(0L)).cast("double") / col("k")).as("recall")))
    }),

    // the RECALL-vs-COST CURVE over the nprobe knob (1 → 2 → 4 of 8
    // cells): corpus-level recall@5 of the probed search at each
    // setting — the actual tradeoff table a vector deployment reads
    // before fixing nprobe (q_ann_recall is one point of this curve;
    // scan cost grows ~nprobe/cells while recall saturates). The exact
    // arm derives once and each probed arm is the existing one-scan
    // operator; every frame meeting in the recall joins is
    // |queries|·k rows, and the three per-nprobe 1-row aggregates
    // union into the 3-row curve. Frames stay lazy: the repeated
    // corpus scans are cheap columnar reads, while checkpointing the
    // corpus-sized assignment would trade a scan for a full
    // materialization (the q_minhash_est measurement).
    "q_ann_recall_curve" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      // NOTE (round-18 A/B): pinning `exact` to a lazy checkpoint for its
      // four consumers measured +2 AQE stage-jobs and flat wall — the
      // broadcast-heavy match joins already share the knn subplan cheaply
      // here, so it stays unpinned.
      val exact = graft.operators.Similarity.knn(e, col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("neighbor"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
      val ks = exact.groupBy("q_id").agg(count(lit(1)).as("k"))
      val curve = Seq(1, 2, 4).map { np =>
        val approx = graft.operators.Similarity.knnIvfProbed(
            assigned, cents, col("vec_id") < 10, k = 5, nprobe = np)
          .select(col("q_id"), col("neighbor"))
        val m = exact.join(approx, Seq("q_id", "neighbor"))
          .groupBy("q_id").agg(count(lit(1)).as("nm"))
        ks.join(m, Seq("q_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce(col("nm"), lit(0L))).as("n_match"),
            sum(col("k")).as("n_true"))
          .withColumn("nprobe", lit(np))
      }
      ord(curve.reduce(_ unionByName _)
        .withColumn("recall",
          round(col("n_match").cast("double") / col("n_true"), 6))
        .select(col("nprobe"), col("n_queries"), col("n_match"),
          col("n_true"), col("recall")))
    }),
    // the SAMPLE-TRAIN / FULL-ENCODE split that makes quantizer training
    // affordable at 100 TB (training cost is per-iteration corpus scans;
    // quality saturates at a few hundred points per centroid): Lloyd
    // runs on a deterministic 25% sample, the FULL corpus is assigned
    // and searched. The oracle replays the sampled training exactly.
    "q_knn_ivf_sampled" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(
          e.filter(pmod(col("vec_id"), lit(4)) === 0), k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
      ord(graft.operators.Similarity.knnIvfProbed(
        assigned, cents, col("vec_id") < 10, k = 5, nprobe = 2))
    }),

    // PRODUCT QUANTIZATION (IVF-PQ's compression half): m=4 subspace
    // codebooks of ksub=8 centroids each, trained by the same
    // deterministic Lloyd as q_ivf_train on the vector slices; the
    // 512-byte double vector becomes m small codes — the 100-TB memory
    // story — and encoding is one shuffle-free static-argmin projection.
    // The oracle replays all four subspace trainings bit-for-bit.
    "q_pq_encode" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cb = graft.operators.Similarity.trainPq(e, m = 4, ksub = 8, iters = 2)
      val enc = graft.operators.Similarity.encodePq(e, cb)
      ord(enc.select(col("vec_id"),
        element_at(col("codes"), 1).as("c0"), element_at(col("codes"), 2).as("c1"),
        element_at(col("codes"), 3).as("c2"), element_at(col("codes"), 4).as("c3")))
    }),
    // asymmetric-distance ANN over the PQ codes: each query precomputes
    // its m x ksub LUT once (broadcast), each corpus candidate costs m
    // array lookups instead of d multiplies. Distances sum in fixed
    // subspace order so the oracle reproduces the exact double.
    "q_knn_pq_adc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      // trainPq returns a literal-backed frame (training already ran,
      // fused, during construction) - no checkpoint needed for fan-out
      val cb = graft.operators.Similarity.trainPq(e, m = 4, ksub = 8, iters = 2)
      ord(graft.operators.Similarity.knnPqAdc(e, cb, col("vec_id") < 10, k = 5))
    }),
    // ADC with exact re-rank (IVFADC-R's refine stage): the PQ estimate
    // cuts to each query's 15 best candidates, full-precision distances
    // re-order them into the top 5 - compression error only costs
    // recall past the candidate cut, at 15/|corpus| of the exact FLOPs.
    "q_knn_pq_refine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cb = graft.operators.Similarity.trainPq(e, m = 4, ksub = 8, iters = 2)
      ord(graft.operators.Similarity.knnPqAdcRefined(
        e, cb, col("vec_id") < 10, k = 5, rerank = 15))
    }),
    // the COMPOSED IVF-PQ search - coarse cells prune candidates
    // (nprobe=2 of 8), PQ codes + LUTs score the survivors: both pruning
    // axes of the 100-TB ANN architecture in one oracle-checked query.
    "q_knn_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val cb = graft.operators.Similarity.trainPq(e, m = 4, ksub = 8, iters = 2)
      ord(graft.operators.Similarity.knnIvfPq(
        e, cents, cb, col("vec_id") < 10, k = 5, nprobe = 2))
    }),
    // canonical IVFADC (Jégou et al. §IV): the PQ codebooks quantize
    // RESIDUALS v - centroid(cell), and each (query, probed cell) pair
    // builds its own LUT from the query residual — better recall at the
    // same m x ksub budget than raw-vector PQ. The oracle replays coarse
    // training, the residual projection, all 4 residual-space subspace
    // trainings, probing and the per-cell LUTs end-to-end.
    "q_knn_ivfpq_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      // trainIvf on a file-backed corpus returns a literal-backed frame
      // (SessionArtifacts.rows) — NO localCheckpoint here: the residual frame
      // below must stay (file scan ⋈ LocalRelation) so trainPq's cache can
      // fingerprint it; a checkpointed LogicalRDD leaf would force the
      // residual codebook to re-train on every catalog pass
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val res = graft.operators.Similarity.residuals(e, cents)
      val cb = graft.operators.Similarity.trainPq(res, m = 4, ksub = 8, iters = 2)
      ord(graft.operators.Similarity.knnIvfPqResidual(
        e, cents, cb, col("vec_id") < 10, k = 5, nprobe = 2))
    }),
    // the COMPLETE production stack (Faiss IVFPQR): coarse prune +
    // residual-PQ estimate + exact re-rank of the 15 best estimates -
    // all three error/cost knobs composed, oracle-replayed end to end.
    "q_knn_ivfpq_refine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val res = graft.operators.Similarity.residuals(e, cents)  // see q_knn_ivfpq_residual
      val cb = graft.operators.Similarity.trainPq(res, m = 4, ksub = 8, iters = 2)
      ord(graft.operators.Similarity.knnIvfPqResidualRefined(
        e, cents, cb, col("vec_id") < 10, k = 5, nprobe = 2, rerank = 15))
    }),

    // ---- text analysis ----------------------------------------------

    "q_text_quality" -> ((s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
      // alpha_ratio uses the identity sum(len(tokens)) = len(text) - #ws
      // chars (split removes exactly the \s chars): the interpreted
      // per-token aggregate lambda becomes one codegen'd regexp_count —
      // same value bit-for-bit, ~3x faster on the 20x-docs scale probe
      // everything comes from ONE single-pass word_scan expression: token
      // count (split semantics), whitespace chars (alpha identity), stop
      // and short word-run counts — no split array, no regex, no lambdas
      val scan = graft.functions.WordScan.word_scan(col("text"), stop, 2)
      ord(t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"), scan.as("sc"))
        .select(col("doc_id"), col("n_chars"),
          col("sc").getItem(3).as("n_tokens"),
          round((col("n_chars") - col("sc").getItem(4)) /
            col("n_chars").cast("double"), 6).as("alpha_ratio"),
          round(col("sc").getItem(0) / col("sc").getItem(3).cast("double"), 6).as("stop_ratio"),
          round(col("sc").getItem(1) / col("sc").getItem(3).cast("double"), 6).as("short_ratio")))
    }),
    // language ID: whole-word stopword occurrence counts per candidate
    // language, as codegen'd regexp counts (one RE2/Java-compatible DFA
    // pass per language) — the interpreted filter+IN lambda form was the
    // slowest scan on the 20x-docs probe (4.2s -> sub-second)
    "q_lang_id" -> ((s, dir) => {
      val en = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
      val de = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
      val fr = Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "un", "une")
      def cnt(ws: Seq[String]) = graft.functions.WordScan.word_set_count(col("text"), ws)
      ord(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          cnt(en).as("c_en"), cnt(de).as("c_de"), cnt(fr).as("c_fr"))
        .withColumn("pred_lang",
          when(col("c_en") >= col("c_de") && col("c_en") >= col("c_fr"), "en")
            .when(col("c_de") >= col("c_fr"), "de")
            .otherwise("fr")))
    }),
    // LANGUAGE-ID CONFUSION MATRIX — the heuristic identifier audited
    // against the metadata lang tag, per (lang, pred_lang): count,
    // within-language share, and the diagonal flag. The mixture queries
    // (q_mix_lang_capped, the UniMax cap) trust lang labels; this row is
    // the check that the cheap n-gram identifier and the upstream tags
    // agree before either is used to route 100 TB. One corpus scan into
    // a languages²-sized aggregate; the share window runs over that tiny
    // frame, never the corpus.
    "q_langid_confusion" -> ((s, dir) => {
      val en = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
      val de = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
      val fr = Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "un", "une")
      def cnt(ws: Seq[String]) = graft.functions.WordScan.word_set_count(col("text"), ws)
      val pred = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          cnt(en).as("c_en"), cnt(de).as("c_de"), cnt(fr).as("c_fr"))
        .withColumn("pred_lang",
          when(col("c_en") >= col("c_de") && col("c_en") >= col("c_fr"), "en")
            .when(col("c_de") >= col("c_fr"), "de")
            .otherwise("fr"))
      val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      ord(pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          round(col("n_docs").cast("double") / sum(col("n_docs")).over(byLang), 6))
        .withColumn("is_correct", col("pred_lang") === col("lang")))
    }),
    // CORPUS NATURALNESS audit: the Zipf log-log slope of each source's
    // word-frequency distribution (natural text sits near −1; templated
    // or generated feeds flatten or steepen it — a distribution-level
    // signal per-doc quality gates cannot see). Least-squares slope over
    // (ln rank, ln tf) with the q_stats_agg exactness contract: ln
    // values ROUNDED to 6 before any sum (both engines' ln agree at
    // that rounding — the q_tfidf/q_bm25 precedent), power sums
    // decimal-routed (order-free), the closed form evaluated in one
    // fixed expression tree. The rank window partitions by source over
    // the source's VOCABULARY (≪ corpus); the corpus stream is touched
    // once by the wordcount.
    "q_zipf_slope" -> ((s, dir) => {
      def d(c: org.apache.spark.sql.Column) =
        if (graft.Tables.benchMode) sum(c)
        else sum(c.cast("decimal(38,6)")).cast("double")
      val f = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val wnd = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("tf").desc, col("w"))
      val xy = f.withColumn("rnk", row_number().over(wnd))
        .select(col("source"),
          round(log(col("rnk").cast("double")), 6).as("x"),
          round(log(col("tf").cast("double")), 6).as("y"))
      ord(xy.groupBy("source")
        .agg(count(lit(1)).cast("double").as("nd"),
          d(col("x")).as("sx"), d(col("x") * col("x")).as("sxx"),
          d(col("y")).as("sy"), d(col("x") * col("y")).as("sxy"))
        .select(col("source"), col("nd").cast("bigint").as("n_words"),
          round((col("nd") * col("sxy") - col("sx") * col("sy")) /
            (col("nd") * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope")))
    }),
    // READABILITY (Flesch reading ease) in fixed-point milli-points —
    // the classic audience-level quality signal next to the
    // distributional ones: 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words), with syllables approximated as vowel-group
    // runs (the standard regex proxy) and sentences as [.!?]+ runs
    // (min 1). Every ratio is BIGINT scaled integer division (the
    // q_interp_linear/q_pagerank discipline), so the score is
    // bit-identical cross-engine — no double rounding ties. One
    // codegen'd regex scan per doc, zero shuffles beyond presentation.
    "q_readability" -> ((s, dir) => {
      val w = size(filter(split(col("text"), "\\s+"), x => x =!= lit("")))
        .cast("bigint")
      val sent = greatest(lit(1L),
        coalesce(regexp_count(col("text"), lit("[.!?]+")).cast("bigint"), lit(0L)))
      val syl = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("bigint")
      ord(t(s, dir, "documents")
        .select(col("doc_id"), w.as("n_words"), sent.as("n_sentences"),
          syl.as("n_syllables"))
        .withColumn("flesch_milli", when(col("n_words") > 0,
          lit(206835L) -
            expr("(1015 * ((n_words * 1000) div n_sentences)) div 1000") -
            expr("(84600 * ((n_syllables * 1000) div n_words)) div 1000"))))
    }),
    // PER-DOCUMENT TOKEN ENTROPY: Shannon entropy (nats) of the doc's
    // word distribution — the information-density quality signal (a
    // low-entropy doc is boilerplate/repetition whatever its length;
    // complements q_repetition's positional n-gram ratios with a
    // position-free distributional one). Exactness: each -(p)·ln(p) term
    // is rounded to 10 dp and DECIMAL-routed, so the per-doc sum is
    // order-free and both engines agree bit-for-bit (the q_zipf_slope ln
    // convention). Scale shape: explode → (doc, word) hash aggregate →
    // doc-keyed aggregate; everything partitions on doc_id, no global
    // state at all.
    "q_doc_entropy" -> ((s, dir) => {
      val words = filter(split(col("text"), "\\s+"), w => w =!= lit(""))
      val counts = t(s, dir, "documents")
        .select(col("doc_id"), explode(words).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val n = counts.groupBy("doc_id")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
      val p = col("c").cast("double") / col("n").cast("double")
      ord(counts.join(n, "doc_id")
        .withColumn("term",
          round(-p * log(p), 10).cast("decimal(28,10)"))
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_tokens"),
          max(col("n_distinct")).as("n_distinct"),
          round(sum(col("term")).cast("double"), 6).as("entropy")))
    }),
    // N-GRAM NOVELTY: per document, the share of its distinct trigram
    // shingles whose FIRST corpus occurrence (min doc_id) is this
    // document — the corpus-redundancy curve a curation pass watches as
    // feeds accrete (an exact copy scores 0, near-copies score low, and
    // a source whose novelty decays has stopped contributing signal).
    // Same 60-bit portable shingle generator as the jaccard family, so
    // the parity contract is already proven. Scale shape: one map-side
    // shingle pass, one gram-keyed min aggregate (the inverted index's
    // first-posting column), one gram-keyed join back, one doc-keyed
    // aggregate — everything shuffles on the gram or doc hash, nothing
    // global.
    "q_ngram_novelty" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), explode(
          graft.functions.ShingleHashes.shingle_hashes(col("text"),
            portable = true)).as("g"))
      val first = grams.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      ord(grams.join(first, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_grams"), 6)))
    }),
    // model-based quality filtering (the fastText/DCLM classifier shape):
    // a hashed-bigram linear scorer where the weight table is a
    // deterministic function of the 60-bit feature hash — inference is
    // ONE codegen'd map-side pass per document (feature hashing replaces
    // the dictionary: no vocab lookup, no shuffle, nothing to broadcast),
    // which is exactly why hashed linear classifiers are the standard
    // quality gate at corpus scale. Real deployments swap the derived
    // weights for trained ones; the plumbing (hash → weight → sum →
    // threshold) is identical and oracle-replayed bit-for-bit.
    "q_quality_classifier" -> ((s, dir) => {
      import graft.functions.GramScore.gram_score
      // coalesce to '' BEFORE the generator: gram_score is null-propagating
      // (NULL text -> NULL feats/score), but the oracle's LEFT JOIN restores
      // such docs as (0, 0, false) — the same convention q_mm_phash uses.
      ord(t(s, dir, "documents")
        .select(col("doc_id"),
          gram_score(coalesce(col("text"), lit("")), 2, 2001, 1000).as("sc"))
        .select(col("doc_id"),
          col("sc").getItem(0).as("n_feats"),
          col("sc").getItem(1).as("score_fp"))
        .withColumn("keep", col("n_feats") > 0 && col("score_fp") > 0))
    }),
    // CALIBRATION of the feature-hashed classifier score against the
    // heuristic quality gate: mean feature weight bucketed into ten fixed
    // bins over its ±1000 range, per-bin document count and
    // heuristic-keep rate. A learned filter is only trustworthy where its
    // score MONOTONICALLY tracks an independent signal — this is that
    // audit, run before swapping the classifier in for the heuristic at
    // scale. Both inputs are the already-verified operators on one
    // corpus scan each; the calibration itself is a 10-row aggregate.
    "q_quality_calibration" -> ((s, dir) => {
      import graft.functions.GramScore.gram_score
      val scored = t(s, dir, "documents").select(col("doc_id"),
          gram_score(coalesce(col("text"), lit("")), 2, 2001, 1000).as("sc"))
        .select(col("doc_id"),
          col("sc").getItem(0).as("n_feats"),
          col("sc").getItem(1).as("score_fp"))
        .withColumn("avg_w", when(col("n_feats") > 0,
          col("score_fp").cast("double") / col("n_feats")).otherwise(lit(0.0)))
      val labels = qualityReasons(s, dir)
        .select(col("doc_id"), (col("reason") === "ok").as("keep"))
      ord(scored.join(labels, "doc_id")
        .withColumn("bucket",
          least(greatest(floor((col("avg_w") + 1000) / 200), lit(0)), lit(9))
            .cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_keep"))
        .withColumn("keep_rate",
          round(col("n_keep").cast("double") / col("n_docs"), 6)))
    }),
    // PERPLEXITY-PROXY quality scoring (the KenLM-filter shape of CCNet/
    // RefinedWeb, model-free): train an add-1-smoothed bigram LM over the
    // corpus in ONE generator pass (bigram + unigram counts, both
    // map-side combined and vocab-scale), then score every document by
    // its mean bigram log-probability. Low avg_logp = improbable word
    // sequences = the gibberish/boilerplate tail a perplexity filter
    // drops. Each per-bigram term rounds to 6 before the DECIMAL-routed
    // mean, so the score is bit-identical cross-engine. Scale shape: the
    // only big-big exchange is the doc-bigram stream joining the
    // vocab-scale LM tables on the gram key (token-scale, the same
    // exchange any exact LM scorer pays); at 100 TB hash the LM into a
    // feature-hashed weight table (the q_quality_classifier trick) and
    // the join disappears entirely. Sub-2-token docs restore as
    // (0, NULL) via the left join — no bigrams means no evidence, not
    // perfect probability.
    "q_lm_logprob" -> ((s, dir) => {
      import graft.functions.GramTexts.gram_texts
      val docs = t(s, dir, "documents")
      val txt = coalesce(col("text"), lit(""))
      val bi = docs.select(explode(gram_texts(txt, 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c2"))
      val uni = docs
        .select(explode(filter(split(txt, "\\s+"), w => w =!= lit(""))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val vRow = uni.agg(count(lit(1)).as("v"))
      val db = docs.select(col("doc_id"), explode(gram_texts(txt, 2)).as("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
      val scored = db.join(bi, "bg")
        .join(uni, col("w1") === col("w"))
        .crossJoin(broadcast(vRow))
        .select(col("doc_id"),
          round(log((col("c2") + 1).cast("double") /
            (col("c1") + col("v")).cast("double")), 6).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("lp").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("avg_logp"))
      ord(docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("avg_logp")))
    }),
    // STUPID-BACKOFF trigram scoring (Brants et al. 2007 — the web-scale
    // LM score that skips normalization): the LM trains on the even-id
    // half and scores the HELD-OUT odd-id half, so every backoff tier
    // genuinely fires (training-corpus self-scoring never backs off —
    // every trigram is its own evidence). Per trigram position:
    // seen trigram -> c3/c2(ctx), else seen last-bigram -> 0.4·c2/c1(w₋₁),
    // else the add-1 unigram floor 0.16·(c1(w)+1)/(T+V) (the floor also
    // absorbs OOV words, so log never sees zero). Per-term round(ln,6)
    // then the DECIMAL-routed mean; sub-3-token docs restore as (0,NULL).
    // Scale shape: identical to q_lm_logprob — the only corpus-scale
    // exchange is the held-out gram stream joining the vocab-scale count
    // tables on gram keys; the 1-row (T,V) frame broadcasts. At 100 TB
    // hash the three count tables into feature-hashed weights (the
    // q_quality_classifier trick) and every join disappears.
    "q_lm_backoff" -> ((s, dir) => {
      import graft.functions.GramTexts.gram_texts
      val docs = t(s, dir, "documents")
      val txt = coalesce(col("text"), lit(""))
      val train = docs.filter(col("doc_id") % 2 === 0)
      val held = docs.filter(col("doc_id") % 2 === 1)
      val tri = train.select(explode(gram_texts(txt, 3)).as("tg"))
        .groupBy("tg").agg(count(lit(1)).as("c3"))
      val bi = train.select(explode(gram_texts(txt, 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c2"))
      val uni = train
        .select(explode(filter(split(txt, "\\s+"), w => w =!= lit(""))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val stats = uni.agg(sum(col("c1")).as("t_tokens"), count(lit(1)).as("v"))
      val hg = held.select(col("doc_id"), explode(gram_texts(txt, 3)).as("tg"))
        .withColumn("ctx2", substring_index(col("tg"), " ", 2))
        .withColumn("lb", substring_index(col("tg"), " ", -2))
        .withColumn("wd", substring_index(col("tg"), " ", -1))
        .withColumn("w1", substring_index(col("lb"), " ", 1))
      // a train-side trigram implies its prefix bigram (and a train-side
      // bigram its first unigram), so each CASE arm's denominator is
      // non-null whenever the arm fires
      val p = when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2ctx"))
        .when(col("c2lb").isNotNull,
          lit(0.4) * col("c2lb").cast("double") / col("c1w1"))
        .otherwise(lit(0.16) * (coalesce(col("c1w"), lit(0L)) + 1).cast("double") /
          (col("t_tokens") + col("v")).cast("double"))
      val scored = hg
        .join(tri, Seq("tg"), "left")
        .join(bi.select(col("bg").as("ctx2"), col("c2").as("c2ctx")),
          Seq("ctx2"), "left")
        .join(bi.select(col("bg").as("lb"), col("c2").as("c2lb")),
          Seq("lb"), "left")
        .join(uni.select(col("w").as("w1"), col("c1").as("c1w1")),
          Seq("w1"), "left")
        .join(uni.select(col("w").as("wd"), col("c1").as("c1w")),
          Seq("wd"), "left")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), round(log(p), 6).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          round(sum(col("lp").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("avg_logp"))
      ord(held.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
          col("avg_logp")))
    }),
    // tokenizer vocabulary SIZING: cumulative token coverage at candidate
    // vocab sizes — the curve every tokenizer budget decision reads
    // (how much of the corpus do the top-k words cover?). The global
    // frequency rank runs through ScalableWindows (quantile-bucketed
    // row_number — no corpus-vocabulary single-partition sort), then one
    // broadcast theta-join against the 3-row size frame and a
    // vocab-scale aggregate. The corpus-sized stream is touched exactly
    // once, by the map-side-combined word count.
    "q_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val freq = t(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("tf"))
      val ranked = graft.operators.ScalableWindows.withGlobalRowNumber(
        freq, Seq(-col("tf"), col("w")), "rn")
      val sizes = Seq(256, 1024, 4096).toDF("vocab_size")
      val tot = freq.agg(sum(col("tf")).as("total_tokens"))
      ord(ranked.join(broadcast(sizes), col("rn") <= col("vocab_size"))
        .groupBy("vocab_size")
        .agg(count(lit(1)).as("n_vocab_words"), sum(col("tf")).as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .withColumn("coverage",
          round(col("covered_tokens").cast("double") / col("total_tokens"), 6)))
    }),
    // token counting: whitespace tokens vs a BPE-ish pretokenizer (GPT-2
    // style contraction/letter-run/digit-run/punct-run classes, lookahead
    // dropped so Java regex and RE2 agree) — the tokens-per-word ratio is
    // the standard cost estimate for LLM training-data budgeting
    "q_token_stats" -> ((s, dir) => {
      ord(t(s, dir, "documents").select(
          col("doc_id"),
          size(filter(split(col("text"), "\\s+"), w => w =!= lit(""))).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BpeRegex), lit(0))).as("n_bpe_tokens"))
        .withColumn("bpe_per_ws", round(
          col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 6)))
    }),
    // vocabulary extraction with term + document frequency — the input to
    // tokenizer/BPE training and stopword induction. Classic wordcount
    // shape: one map-side-combined groupBy on the token, top-k via
    // TakeOrderedAndProject (no global sort of the vocabulary)
    "q_vocab" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      ord(words.groupBy("w")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("w")).limit(100))
    }),
    // bigram counts for LM data prep: adjacent-token pairs from the
    // codegen'd gram_texts generator (one map-side projection — no
    // per-doc window, so no corpus-wide exchange + sort over the
    // exploded token stream), then the map-side-combined count. Ties at
    // the k-boundary broken by the bigram text, so the top-k cut is
    // deterministic.
    "q_ngram_counts" -> ((s, dir) => {
      import graft.functions.GramTexts.gram_texts
      val bi = t(s, dir, "documents")
        .select(explode(gram_texts(col("text"), 2)).as("bigram"))
      ord(bi.groupBy("bigram").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("bigram")).limit(100))
    }),
    // BPE tokenizer TRAINING (Sennrich et al. 2016) in the shape real
    // trainers scale: ONE corpus pass builds the word-frequency dict;
    // each merge round then runs at vocab scale (pair counts weighted
    // by word freq, deterministic argmax, left-to-right greedy fusion).
    // The oracle replays all 5 rounds bit-for-bit — winning pair, merged
    // symbol, and weighted count per round. See operators/BpeTrainer.
    "q_bpe_train" -> ((s, dir) => {
      ord(graft.operators.BpeTrainer.train(
        graft.operators.BpeTrainer.wordFreq(t(s, dir, "documents"), "text"),
        steps = 5))
    }),
    // tokenizer APPLICATION: replay the learned merges over the DISTINCT
    // word dictionary (one static codegen'd replace chain — never over
    // raw corpus text) and join back to the corpus for per-document
    // subword token counts — the "how many tokens is this corpus under
    // my tokenizer" accounting every training-budget estimate needs.
    "q_bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wf = graft.operators.BpeTrainer.wordFreq(docs, "text")
      // CONSUMER of the trained tokenizer (a SessionArtifacts.rows entry —
      // q_bpe_train keeps training inline so its row times the
      // derivation); keyed on the un-checkpointed dict frame
      val merges = graft.operators.BpeTrainer.trainCached(wf, steps = 5)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val dict = graft.operators.BpeTrainer.symbolize(wf.select("word"), merges)
        .select(col("word"), size(split(col("syms"), " ")).as("n_syms"))
      val words = docs.select(col("doc_id"),
        explode(filter(split(col("text"), "\\s+"), w => w =!= lit(""))).as("word"))
      ord(words.join(dict, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_syms").cast("bigint")).as("n_bpe_tokens")))
    }),
    // tokenizer QUALITY AUDIT: per-source fertility (BPE tokens per
    // word — the compression the tokenizer achieves on each slice of
    // the mixture) plus the fragmentation count (words splitting into
    // >4 subwords, the OOV-ish long tail). Fertility drift across
    // sources is how a mismatched tokenizer shows up before training;
    // same dictionary-replay shape as q_bpe_tokenize (merges applied
    // once over DISTINCT words, never raw text).
    "q_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wf = graft.operators.BpeTrainer.wordFreq(docs, "text")
      // consumer of the trained tokenizer (see q_bpe_tokenize)
      val merges = graft.operators.BpeTrainer.trainCached(wf, steps = 5)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val dict = graft.operators.BpeTrainer.symbolize(wf.select("word"), merges)
        .select(col("word"), size(split(col("syms"), " ")).as("n_syms"))
      val words = docs.select(col("source"),
        explode(filter(split(col("text"), "\\s+"), w => w =!= lit(""))).as("word"))
      ord(words.join(dict, Seq("word"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_syms").cast("bigint")).as("n_bpe_tokens"),
          sum(when(col("n_syms") > 4, 1L).otherwise(0L)).as("n_fragmented"))
        .withColumn("fertility",
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)))
    }),
    // source-weighted corpus MIXING: per-source sampling weights realized
    // as floor(w) whole copies plus one more with probability frac(w) —
    // the epoch/data-mixture step of corpus prep (upsample books, damp
    // web, drop a blocked source). Deterministic: the fractional draw is
    // a 28-bit md5 integer of doc_id against a per-source integer
    // threshold, never a float compare, so both engines pick identical
    // docs. One scan, explode materializes the mixture, counts verify it.
    // deterministic train/valid/test split: the reproducible-assignment
    // primitive every corpus release needs — a 28-bit md5 draw on the
    // doc id (content-independent: re-runs, re-partitions, and text
    // edits can never move a document between splits), 80/10/10,
    // audited per (split, source). One codegen'd scan + one groupBy.
    "q_split_train_test" -> ((s, dir) => {
      val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % 100
      val split = when(draw < 80, "train").when(draw < 90, "valid")
        .otherwise("test")
      ord(t(s, dir, "documents")
        .groupBy(split.as("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")))
    }),
    // HELD-OUT OOV AUDIT — the vocabulary-generalization check next to
    // q_vocab_coverage's sizing curve: the train split's word vocabulary
    // scored against the valid/test token streams — token-level OOV rate
    // and distinct unseen types per held-out split. High held-out OOV =
    // a vocabulary overfit to train sources (coverage on train says
    // nothing about it). Same md5 split rule as q_split_train_test; the
    // only big exchange is the token stream joining the vocab on the
    // word key (the LM-scoring shape); everything after is splits-sized.
    "q_vocab_oov" -> ((s, dir) => {
      val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % 100
      val spl = when(draw < 80, "train").when(draw < 90, "valid")
        .otherwise("test")
      val toks = t(s, dir, "documents")
        .select(spl.as("split"),
          explode(filter(split(col("text"), "\\s+"), w => w =!= lit(""))).as("w"))
      val vocab = toks.filter(col("split") === "train").select("w").distinct()
        .withColumn("in_vocab", lit(1))
      ord(toks.filter(col("split") =!= "train")
        .join(vocab, Seq("w"), "left")
        .groupBy("split")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("in_vocab").isNull, 1)).as("n_oov"),
          countDistinct(when(col("in_vocab").isNull, col("w"))).as("n_oov_types"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6)))
    }),
    // SPLIT-LEAKAGE AUDIT: duplicate evidence CROSSING the deterministic
    // train/valid/test boundary (q_split_train_test's md5 draw) — the
    // eval-integrity check every training pipeline runs before trusting
    // held-out numbers (a test doc whose near-copy sits in train is a
    // leaked answer, not a measurement). Two tiers in one report: exact
    // (one text family with members in two splits — pair mass Σ nₐ·n_b
    // per split pair, jaccard 1 by definition) and near (canonical
    // jaccard pairs whose endpoints split differently — the shared
    // session pair graph again). Everything after the generators is
    // family/graph-sized; the split rule is a per-row md5, no shuffle of
    // its own.
    "q_split_leakage" -> ((s, dir) => {
      def splitOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val draw = conv(substring(md5(c.cast("string")), 1, 7), 16, 10)
          .cast("bigint") % 100
        when(draw < 80, "train").when(draw < 90, "valid").otherwise("test")
      }
      val docs = t(s, dir, "documents")
      val fam = docs
        .select(md5(col("text")).as("h"), splitOf(col("doc_id")).as("sp"))
        .groupBy("h", "sp").agg(count(lit(1)).as("n"))
      val exact = fam.as("a").join(fam.as("b"), "h")
        .filter(col("a.sp") < col("b.sp"))
        .groupBy(col("a.sp").as("split_a"), col("b.sp").as("split_b"))
        .agg(sum(col("a.n") * col("b.n")).cast("bigint").as("n_pairs"))
        .select(lit("exact").as("leak_kind"), col("split_a"), col("split_b"),
          col("n_pairs"), lit(1.0).as("mean_jaccard"))
      val near = nearDupPairs(s, dir)
        .select(col("jaccard"),
          splitOf(col("doc_a")).as("sa"), splitOf(col("doc_b")).as("sb"))
        .filter(col("sa") =!= col("sb"))
        .groupBy(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("jaccard").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_jaccard"))
        .select(lit("near").as("leak_kind"), col("split_a"), col("split_b"),
          col("n_pairs"), col("mean_jaccard"))
      ord(exact.unionByName(near))
    }),
    // LEAKAGE-SAFE FAMILY SPLIT: the fix q_split_leakage's findings call
    // for — the split draw is taken on the duplicate FAMILY representative
    // (exact-dup rep, then near-dup component rep over the shared session
    // pair graph), so every exact copy and every near-duplicate of a
    // document lands in the same split BY CONSTRUCTION and the leakage
    // audit reads zero under this rule (spec'd in QueriesContractSpec).
    // The Pile / RefinedWeb-style cluster-aware holdout. Scale shape: the
    // family map is component-labels-sized (graph vertices, not corpus);
    // the per-doc work is one md5 draw + one hash join against that map.
    "q_split_by_family" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val fam = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          min(col("doc_id")).over(Window.partitionBy(md5(col("text"))))
            .as("rep"))
        .join(nearDupComponents(s, dir)
            .select(col("member").as("rep"), col("cluster_rep")),
          Seq("rep"), "left")
        .select(col("doc_id"), col("source"), col("n_chars"),
          coalesce(col("cluster_rep"), col("rep")).as("family_rep"))
      val draw = conv(substring(md5(col("family_rep").cast("string")), 1, 7),
        16, 10).cast("bigint") % 100
      val split = when(draw < 80, "train").when(draw < 90, "valid")
        .otherwise("test")
      ord(fam.groupBy(split.as("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("family_rep")).as("n_families"),
          sum(col("n_chars")).as("sum_chars")))
    }),
    "q_mix_sources" -> ((s, dir) => {
      val base28 = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
      // weights: src0 -> 2.5x, src1 -> 0.25x, src2 -> dropped, rest 1x
      val wfloor = when(col("source") === "src0", 2)
        .when(col("source") === "src1" || col("source") === "src2", 0)
        .otherwise(1)
      val thresh = when(col("source") === "src0", 134217728L)   // 0.5 * 2^28
        .when(col("source") === "src1", 67108864L)              // 0.25 * 2^28
        .otherwise(0L)
      val mixed = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          (wfloor + when(base28 < thresh, 1).otherwise(0)).as("n_copies"))
        .filter(col("n_copies") > 0)
        .select(col("source"), col("doc_id"),
          explode(sequence(lit(1), col("n_copies"))).as("copy"))
      ord(mixed.groupBy("source")
        .agg(count_distinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_rows")))
    }),
    // TEMPERATURE-SCALED source mixing (the mT5/XLM-R α-sampling rule,
    // α = 0.3): sampling share q_i ∝ p_i^α — low-resource sources are
    // boosted, dominant ones damped, the standard multilingual-mixture
    // knob between "proportional" (α=1) and "uniform" (α=0). Exactness
    // contract: the only non-rational step (pow) is rounded to 12 dp and
    // routed through DECIMAL for the order-free normalizer sum; every
    // later ratio divides identical doubles, so both engines agree
    // bit-for-bit. Scale shape: one groupBy to per-source counts, then
    // all arithmetic on a sources-sized frame (broadcast 1-row totals) —
    // nothing corpus-sized moves after the first aggregate.
    "q_mix_temperature" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val total = counts.agg(sum(col("n_docs")).as("total"))
      val pRaw = col("n_docs").cast("double") / col("total").cast("double")
      val scored = counts.crossJoin(broadcast(total))
        .withColumn("pa", round(pow(pRaw, 0.3), 12).cast("decimal(20,12)"))
      val z = scored.agg(sum(col("pa")).as("z"))
      ord(scored.crossJoin(broadcast(z))
        .withColumn("p", round(pRaw, 6))
        .withColumn("q_share",
          round(col("pa").cast("double") / col("z").cast("double"), 6))
        .withColumn("up_factor", round(col("q_share") / col("p"), 6))
        .withColumn("n_target",
          floor(col("q_share") * col("total")).cast("bigint"))
        .select(col("source"), col("n_docs"), col("p"), col("q_share"),
          col("up_factor"), col("n_target")))
    }),
    // CLUSTER-BALANCED capped sampling: q_mix_lang_capped's rule keyed
    // on LEARNED k-means cells instead of a metadata column — the
    // topic-balance step (SemDeDup/DoReMi-style cluster reweighting)
    // run on the same trained clustering as q_cluster_assign. Each
    // cell keeps at most 50 vectors by lowest deterministic 28-bit md5
    // draw on vec_id (ties vec_id); per-cell audit reports candidates,
    // kept, and a kept-id checksum so the draw itself is value-checked.
    // Same scale shape as the IVF family: centroids broadcast, corpus
    // scanned once, WindowGroupLimit prunes the selection exchange.
    "q_mix_cluster_capped" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = graft.operators.Similarity.trainIvf(e, k = 8, iters = 2)
      val assigned = graft.operators.Similarity.assignToCentroids(e, cents)
      val draw = conv(substring(md5(col("vec_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
      val d = assigned.select(col("cid"), col("vec_id"), draw.as("draw"))
      val kept = d.withColumn("rn", row_number().over(
          Window.partitionBy("cid").orderBy(col("draw"), col("vec_id"))))
        .filter(col("rn") <= 50)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("kept_id_sum"))
      val counts = d.groupBy("cid").agg(count(lit(1)).as("n_members"))
      ord(counts.join(kept, Seq("cid"))
        .select(col("cid"), col("n_members"), col("n_kept"), col("kept_id_sum")))
    }),
    // CORPUS DATASHEET: the per-source report a curation pass reads
    // first — volume, length, language spread, quality pass-rate, and
    // within-source exact-dup count — in ONE quality_gate scan + ONE
    // groupBy. Duplicate counting is count - count_distinct(md5(text)):
    // the 16-byte hash shuffles for the distinct, never the text.
    "q_datasheet" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("lang"),
        col("n_chars"),
        graft.functions.QualityGate.quality_gate(col("text"),
          Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"), 2)
          .as("reason"),
        md5(col("text")).as("h"))
      ord(d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        count_distinct(col("lang")).as("n_langs"),
        sum(when(col("reason") === "ok", 1L).otherwise(0L)).as("n_ok"),
        (count(lit(1)) - count_distinct(col("h"))).as("n_dup_docs"))
        .withColumn("mean_chars",
          round(col("sum_chars").cast("double") / col("n_docs"), 4))
        .withColumn("pct_ok",
          round(col("n_ok").cast("double") / col("n_docs"), 6)))
    }),
    // DOCUMENT CHUNKING (RAG / long-context prep): overlapping
    // token-window splits — 64-word chunks at stride 48 (16-word
    // overlap), one row per chunk with a content key. The dual of
    // packing (q_pack_sequences concatenates docs to fill a context
    // window; chunking splits docs that overflow one). 100-TB shape:
    // pure map-side — split, sequence of starts, posexplode, slice,
    // hash — zero shuffles beyond the presentation sort; chunk
    // identity is (doc_id, chunk_idx) and the 60-bit md5 chunk_key
    // supports downstream chunk-level dedup/lookup.
    "q_chunk_docs" -> ((s, dir) => {
      ord(docChunks(s, dir)
        .select(col("doc_id"), col("chunk_idx"), size(col("cw")).as("n_words"),
          chunkKey(col("cw")).as("chunk_key")))
    }),
    // CHUNK-LEVEL cross-document dedup: which 64-word chunks recur in
    // more than one document — the chunk-granularity approximation of
    // exact substring dedup (Lee et al. 2021: repeated long spans are
    // memorization fuel). Rides the q_chunk_docs lineage; the only
    // shuffle is the groupBy on the 8-byte chunk_key (chunk text never
    // shuffles), so cost at 100 TB is the chunk count, not chunk bytes.
    "q_dedup_chunks" -> ((s, dir) => {
      val chunks = docChunks(s, dir)
        .select(col("doc_id"), chunkKey(col("cw")).as("chunk_key"))
      ord(chunks.groupBy("chunk_key")
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1))
    }),
    // PER-LANGUAGE CAPPED sampling (the UniMax shape, Chung et al. 2023):
    // every language keeps at most CAP docs, chosen by the deterministic
    // 28-bit md5 draw (lowest draws win, ties by doc_id) — language
    // balancing without repeating a content-dependent choice. 100-TB
    // shape: the selection is a rank window partitioned by lang whose
    // filter Spark rewrites into partial+final WindowGroupLimit — each
    // input partition pre-prunes to <= CAP rows per language BEFORE the
    // exchange, so shuffle volume is langs x CAP x partitions, not the
    // corpus (asserted in PlanCheckSpec); the per-language candidate
    // counts come from a separate partial+final aggregate over the same
    // 2-column pruned scan (folding the count into the window as an
    // unordered count-over-partition would force full-partition
    // materialization and defeat the prune).
    "q_mix_lang_capped" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
      val d = t(s, dir, "documents").select(col("lang"), col("doc_id"), draw.as("draw"))
      val kept = d.withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("draw"), col("doc_id"))))
        .filter(col("rn") <= 100)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      ord(counts.join(kept, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_kept"), col("kept_id_sum")))
    }),
    // QUALITY-WEIGHTED subsampling: soft-filtering instead of the hard
    // gate — docs passing the quality gate are all kept, each REJECTED
    // bucket salvages a deterministic 25% (content-independent 28-bit
    // md5 draw on doc_id, the q_mix_sources/q_split_train_test family:
    // re-runs, re-partitioning, and text edits can never move a doc in
    // or out of the sample). Keeping a calibrated slice of lower-quality
    // data is standard practice (hard filters measurably hurt diversity);
    // the audit output is per-reason (candidates, kept, kept-id checksum)
    // so the draw itself is value-checked, not just the counts. One
    // single-pass quality_gate scan + one groupBy — no joins, no windows.
    "q_sample_by_quality" -> ((s, dir) => {
      val base28 = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
      val keep = (col("reason") === "ok") || (base28 < lit(67108864L)) // 0.25 * 2^28
      ord(qualityReasons(s, dir)
        .withColumn("keep", keep)
        .groupBy("reason")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum")))
    }),
    // intra-document repetition: top-bigram fraction (the Gopher-style
    // "page dominated by one repeated phrase" gate). A pure per-document
    // statistic, so it is ONE codegen'd rep_scan expression per doc —
    // zero shuffles; the relational explode→count→re-aggregate form would
    // move every (doc, bigram) pair through two corpus-wide exchanges
    // (the oracle keeps that form and must agree exactly).
    "q_repetition" -> ((s, dir) => {
      val r = graft.functions.RepScan.rep_scan(col("text"))
      ord(t(s, dir, "documents")
        .select(col("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).as("n_bigrams"),
          col("r").getItem(1).as("max_tf"),
          when(col("r").getItem(0) > 0,
            round(col("r").getItem(1) / col("r").getItem(0).cast("double"), 6))
            .as("rep_ratio")))
    }),
    // the full Gopher-style repetition signal set: top-gram fraction AND
    // duplicate-gram fraction at orders 2 and 3, each a single map-side
    // codegen'd rep_scan_n pass (zero shuffles before the presentation
    // sort; the oracle keeps the relational explode→count→re-aggregate
    // form — two corpus-wide exchanges per order — and must agree).
    "q_rep_signals" -> ((s, dir) => {
      import graft.functions.RepScanN.rep_scan_n
      def frac(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
        when(den > 0, round(num.cast("double") / den, 6))
      ord(t(s, dir, "documents")
        .select(col("doc_id"),
          rep_scan_n(col("text"), 2).as("r2"),
          rep_scan_n(col("text"), 3).as("r3"))
        .select(col("doc_id"),
          col("r2")(0).as("n_2grams"),
          frac(col("r2")(1), col("r2")(0)).as("top2_frac"),
          frac(col("r2")(2), col("r2")(0)).as("dup2_frac"),
          col("r3")(0).as("n_3grams"),
          frac(col("r3")(1), col("r3")(0)).as("top3_frac"),
          frac(col("r3")(2), col("r3")(0)).as("dup3_frac")))
    }),
    // sequence packing: concatenate documents in a deterministic order and
    // split at a context-length budget — the layout step between data prep
    // and tokenization. pack_id = (token start offset) div budget over the
    // GLOBAL running token sum, computed by ScalableWindows' prefix-sum
    // (quantile buckets + broadcast offsets; partitions forces the
    // distributed path — no serial exchange over the corpus).
    "q_pack_sequences" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= lit(""))).as("n"))
      val cum = graft.operators.ScalableWindows.withGlobalRunningSum(
        toks, col("n").cast("bigint"), Seq(col("doc_id")), "cum", partitions = 8)
      ord(cum
        .withColumn("pack_id", expr("(cum - n) div 2048"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc")))
    }),
    // CONTEXT-WINDOW TRUNCATION audit — what each candidate context
    // length costs in lost tokens if documents are truncated (not
    // packed): per budget L ∈ {512, 2048, 8192}, how many docs exceed L
    // and what token mass falls past it. The table read next to
    // q_pack_efficiency when choosing truncate-vs-pack and the window
    // size itself. One token-count scan crossed with the 3-row budget
    // frame (broadcast), then a budgets-sized aggregate.
    "q_context_truncation" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents").select(
        size(filter(split(col("text"), "\\s+"), x => x =!= lit("")))
          .cast("bigint").as("n"))
      val budgets = Seq(512L, 2048L, 8192L).toDF("budget")
      ord(toks.crossJoin(broadcast(budgets))
        .groupBy("budget")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("n_tokens"),
          count(when(col("n") > col("budget"), 1)).as("n_docs_truncated"),
          sum(when(col("n") > col("budget"), col("n") - col("budget"))
            .otherwise(0L)).as("tokens_lost"))
        .withColumn("loss_ppm",
          expr("(1000000 * tokens_lost) div n_tokens")))
    }),
    // PACKING-EFFICIENCY audit of the q_pack_sequences layout: the bins
    // against their 2048-token budget — overflow bins (a doc longer than
    // the budget overruns its bin by design in concat-then-split-at-
    // boundary packing), fill extremes, the total padding a trainer
    // would pay, and the integer ppm fill rate. The utilization number
    // read before choosing budget/packing strategy at scale. Same
    // distributed running-sum lineage; the 1-row summary finalizes from
    // per-partition partials over the pack-id aggregate.
    "q_pack_efficiency" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= lit(""))).as("n"))
      val cum = graft.operators.ScalableWindows.withGlobalRunningSum(
        toks, col("n").cast("bigint"), Seq(col("doc_id")), "cum", partitions = 8)
      val packs = cum.withColumn("pack_id", expr("(cum - n) div 2048"))
        .groupBy("pack_id").agg(sum(col("n")).as("n_tokens"))
      ord(packs.agg(
          count(lit(1)).as("n_packs"),
          sum(col("n_tokens")).as("n_tokens"),
          count(when(col("n_tokens") > 2048, 1)).as("n_overflow"),
          max(col("n_tokens")).as("max_fill"),
          min(col("n_tokens")).as("min_fill"),
          sum(when(col("n_tokens") < 2048, lit(2048L) - col("n_tokens"))
            .otherwise(0L)).as("padding_tokens"))
        .withColumn("fill_ppm",
          expr("(1000000 * n_tokens) div (n_packs * 2048)")))
    }),
    // SYSTEMATIC PPS SAMPLING (probability-proportional-to-size, the
    // survey-sampling method): k evenly spaced integer thresholds over
    // the cumulative weight line select documents with probability ∝
    // weight WITHOUT transcendentals — Efraimidis-Spirakis keys
    // (u^(1/w)) need pow/ln, which no two libms round identically, so
    // they can never be oracle-exact; here every quantity is a BIGINT
    // and the draw replays bit-for-bit. A doc heavier than the stride is
    // hit more than once — n_hits is its multiplicity. Plan: one pruned
    // 2-column scan → distributed global running sum (quantile buckets +
    // broadcast offsets, forced distributed) → broadcast theta-join
    // against the k-row threshold frame derived from the 1-row total.
    "q_pps_sample" -> ((s, dir) => {
      import s.implicits._
      val k = 50
      val wts = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("bigint").as("w"))
      val cum = graft.operators.ScalableWindows.withGlobalRunningSum(
        wts, col("w"), Seq(col("doc_id")), "cw", partitions = 8)
      val tot = wts.agg(sum(col("w")).as("tw"))
      val th = Seq.range(0, k).toDF("j").crossJoin(broadcast(tot))
        .select(col("j"), expr(s"((2 * j + 1) * tw) div ${2 * k}").as("t"))
      ord(cum
        .join(broadcast(th), col("t") > col("cw") - col("w") && col("t") <= col("cw"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("n_hits"), min(col("j")).as("first_draw")))
    }),
    // TOKENIZER-AWARE sequence packing — the composition a real layout
    // step runs: context-window bins over the BPE token counts from the
    // trained tokenizer (not whitespace counts), on the same global
    // prefix-sum machinery as q_pack_sequences. Chains train →
    // symbolize → per-doc counts → distributed running sum → bins, all
    // value-checked whole by the oracle.
    "q_pack_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wf = graft.operators.BpeTrainer.wordFreq(docs, "text")
      // consumer of the trained tokenizer (see q_bpe_tokenize)
      val merges = graft.operators.BpeTrainer.trainCached(wf, steps = 5)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val dict = graft.operators.BpeTrainer.symbolize(wf.select("word"), merges)
        .select(col("word"), size(split(col("syms"), " ")).as("ns"))
      val words = docs.select(col("doc_id"),
        explode(filter(split(col("text"), "\\s+"), w => w =!= lit(""))).as("word"))
      val toks = words.join(dict, Seq("word"))
        .groupBy("doc_id").agg(sum(col("ns").cast("bigint")).as("n"))
      val cum = graft.operators.ScalableWindows.withGlobalRunningSum(
        toks, col("n"), Seq(col("doc_id")), "cum", partitions = 8)
      ord(cum
        .withColumn("pack_id", expr("(cum - n) div 2048"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc")))
    }),
    // per-document top-3 TF-IDF terms (stopword induction / keyword
    // extraction over the corpus). Single lineage: tf per (doc, term),
    // document frequency as a count over the term partition of that SAME
    // frame (a second derivation joined back would scan the corpus twice —
    // the LSH lesson), idf in micro-units (round(ln·1e6) as BIGINT) so
    // ranking and hashing compare integers, not raw doubles. Residual
    // cross-engine risk, documented: the micro-unit idf still derives
    // from ONE double ln() per distinct df, and if Spark's Math.log and
    // DuckDB's libm ln differ by 1 ULP within ~1e-6 relative of a .5
    // micro-unit boundary the rounded idf flips by 1 — unlike the
    // md5-integer families used elsewhere, this cannot be made fully
    // integral without changing the score's definition (cross-doc
    // ordering mixes tf and ln(nd/df), which has no exact integer
    // equivalent). Not observed at any test SF.
    // Plan-tail audit (round 5): the per-doc top-3 runs ONE partial/final
    // WindowGroupLimit pair — Sort+WGL(partial) before the doc_id
    // exchange prunes to ≤3 rows per (doc, partition), then Sort+WGL
    // (final) after it; both sorts are inherent to the pattern (same
    // shape as q_topk_pergroup). The alternative — df as a separate
    // groupBy(w) aggregate broadcast-joined back, saving the full-frame
    // w-exchange — would consume the tf frame TWICE and Spark re-derives
    // unshared subplans, re-scanning the corpus (the LSH lesson). The
    // window-over-the-same-frame form stays the single-derivation optimum.
    "q_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val withDf = tf.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("w"))))
      val scored = withDf.crossJoin(broadcast(docs.agg(count(lit(1)).as("nd"))))
        .withColumn("tfidf_micro", col("tf") *
          round(log(col("nd").cast("double") / col("df")) * 1e6, 0).cast("bigint"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf_micro").desc, col("w"))
      ord(scored.withColumn("rk", row_number().over(byDoc))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("w"), col("tfidf_micro"), col("rk")))
    }),
    // SKIP-GRAM (word, context) pair extraction, window ±2 — the
    // training-pair prep for word2vec-family embedding training over a
    // corpus. lead() over the per-doc position window generates each
    // ordered pair once at distance 1 and 2; both directions then
    // materialize by symmetry (union of (w,c) and (c,w)) — one token
    // shuffle total, top-100 pairs reported. At 100 TB this is the
    // shape that feeds negative-sampling batches.
    // The codegen'd skipgram_pairs generator emits each ordered pair
    // once at distance 1 and 2 MAP-SIDE — no per-doc lead() window, so
    // no corpus-wide exchange + sort over the exploded token stream; the
    // only shuffle left is the final pair count.
    "q_skipgram_pairs" -> ((s, dir) => {
      import graft.functions.SkipGramPairs.skipgram_pairs
      val fwd = t(s, dir, "documents")
        .select(explode(skipgram_pairs(col("text"), 2)).as("p"))
        .select(col("p.w").as("w"), col("p.c").as("c"))
      val sym = fwd.unionAll(fwd.select(col("c").as("w"), col("w").as("c")))
      ord(sym.groupBy("w", "c").agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("w"), col("c")).limit(100))
    }),
    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    // the word CO-OCCURRENCE graph (window 2, words >= 4 chars — the
    // stopword-ish cut), top-20 by centrality. Reuses GraphRank.pagerank
    // verbatim — the centrality operator is graph-agnostic; word nodes
    // become 60-bit md5 ids (both engines hash identically, so even a
    // collision merges the same two nodes on both sides). The graph is
    // VOCAB-sized: co-occurrence pairs distinct per unordered word pair,
    // so the 5 rank iterations never touch a corpus-scale frame; the
    // word dictionary joins back only for the final 20 rows' labels.
    // Exact copies contribute identical pairs, so the distinct edge set
    // is invariant under canonicalization — pair extraction runs over
    // canonical reps (the q_dedup_* contract), cutting exploded pair
    // volume by the duplication factor on copy-heavy corpora while the
    // oracle replays over raw documents and must agree.
    "q_textrank" -> ((s, dir) => {
      import graft.functions.SkipGramPairs.skipgram_pairs
      val co = canonicalDocs(s, dir)
        .select(explode(skipgram_pairs(col("text"), 2)).as("p"))
        .select(col("p.w").as("wa"), col("p.c").as("wb"))
        .filter(length(col("wa")) >= 4 && length(col("wb")) >= 4 &&
          col("wa") =!= col("wb"))
      val h = (c: org.apache.spark.sql.Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")
      // the WORD-level distinct pair set feeds both the hashed edge list
      // and the label dictionary (every graph node appears in some pair,
      // so the dict over pairs equals the dict over the raw co stream) —
      // the former independent dict branch re-ran the skipgram generator
      // + a second corpus-wide distinct; both consumers now share the one
      // distinct-pair exchange (round-17, guide §2.4)
      val pairs0 = co
        .select(least(col("wa"), col("wb")).as("a"),
          greatest(col("wa"), col("wb")).as("b"))
        .distinct()
      val pairs = pairs0.select(h(col("a")).as("doc_a"), h(col("b")).as("doc_b"))
      val dict = pairs0.select(col("a").as("word"))
        .unionAll(pairs0.select(col("b").as("word")))
        .distinct()
        .select(col("word"), h(col("word")).as("node"))
      val pr = graft.operators.GraphRank.pagerank(pairs, iters = 5)
      ord(pr.join(dict, pr("member") === dict("node"))
        .select(col("word"), col("deg"), col("pr_nano"))
        .orderBy(col("pr_nano").desc, col("word")).limit(20))
    }),
    // per-entity Z-SCORE anomaly flags: mean/σ per user from EXACT
    // decimal power sums (the q_stats_agg contract — identical doubles
    // both engines), events beyond mean+3σ flagged; the monitoring
    // sweep every event pipeline runs. One aggregate + one broadcast
    // join back — the corpus is scanned twice, shuffled once.
    "q_anomaly_zscore" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,10)")).as("s1"),
        sum((col("value").cast("decimal(28,10)") *
          col("value").cast("decimal(28,10)")).cast("decimal(38,10)")).as("s2"))
        .withColumn("mean", col("s1").cast("double") / col("n"))
        .withColumn("sd", sqrt(
          (col("s2").cast("double") - col("s1").cast("double") *
            col("s1").cast("double") / col("n")) / col("n")))
      ord(ev.join(broadcast(stats.select("user_id", "n", "mean", "sd")), "user_id")
        .groupBy("user_id")
        .agg(max(col("n")).as("n_events"),
          sum(when(col("value") > col("mean") + lit(3.0) * col("sd"), 1L)
            .otherwise(0L)).as("n_outliers")))
    }),

    // BM25 retrieval scoring (Robertson-Spärck Jones, k1=1.2 b=0.75):
    // rank the corpus for a keyword query — the retrieval scorer behind
    // search-based curation (finding docs about a topic to up/downweight)
    // and eval-set mining. Only query-term postings aggregate (the
    // corpus-wide work is one token scan for doc lengths); df/idf come
    // from the tiny per-term frame, broadcast back. Per-(doc,term)
    // scores round to MICRO-UNITS before the integer sum — the q_tfidf
    // log-portability contract: both engines compute the identical
    // double expression tree, round once, and sum exact BIGINTs.
    "q_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val lens = words.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val stats = lens.agg(count(lit(1)).as("nd"), sum(col("len")).as("tl"))
      val tfq = words.filter(col("w").isin("hash", "join", "scan"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfq = tfq.groupBy("w").agg(count(lit(1)).as("df"))
      val avgLen = col("tl").cast("double") / col("nd")
      val idf = log(((col("nd") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
      val denom = col("tf").cast("double") +
        lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * (col("len").cast("double") / avgLen))
      val term = idf * ((col("tf").cast("double") * lit(2.2)) / denom)
      val scored = tfq.join(broadcast(dfq), Seq("w"))
        .join(lens, Seq("doc_id")).crossJoin(broadcast(stats))
        .withColumn("term_micro", round(term * lit(1000000.0), 0).cast("bigint"))
      ord(scored.groupBy("doc_id")
        .agg(sum(col("term_micro")).as("bm25_micro"), count(lit(1)).as("n_terms"))
        .orderBy(col("bm25_micro").desc, col("doc_id")).limit(10))
    }),

    // CONTENT-DEFINED chunking audit (rsync/FastCDC boundary rule):
    // chunk cuts fall where the 32-byte rolling window hash has its low
    // 6 bits zero — boundaries depend only on LOCAL bytes, so an edit
    // reshapes at most the chunks it touches, which is what makes
    // chunk-level dedup stable under insertions (fixed-stride chunking
    // shifts every boundary after one inserted byte; cf. q_chunk_docs'
    // stride windows). One codegen'd cdc_cuts pass per doc, zero
    // shuffles before the presentation sort; the oracle recomputes
    // every window hash mod 2^64 from the document bytes.
    "q_chunk_cdc" -> ((s, dir) => {
      ord(t(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("bigint").as("n_bytes"),
          graft.functions.CdcCuts.cdc_cuts(col("text"), 32).as("n_cuts"))
        .withColumn("n_chunks", col("n_cuts") + 1))
    }),
    // CDC-boundary chunk dedup — q_dedup_chunks with CONTENT-DEFINED
    // chunks instead of fixed 64-word strides: each doc splits at the
    // q_chunk_cdc cut rule and every chunk gets the full polynomial
    // rolling hash of its own bytes (codegen'd cdc_chunk_hashes, one
    // map-side pass). Shared content between edited copies lands
    // identical chunk hashes even when surrounding bytes moved — the
    // property fixed-stride chunking loses after one insertion. Only
    // the 8-byte chunk keys shuffle (groupBy), never chunk text.
    "q_dedup_chunks_cdc" -> ((s, dir) => {
      import graft.functions.CdcChunkHashes.cdc_chunk_hashes
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(cdc_chunk_hashes(col("text"), 32))
            .as(Seq("chunk_idx", "chunk_key")))
      ord(chunks.groupBy("chunk_key")
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1))
    }),

    // document fingerprinting: custom codegen'd Catalyst expressions
    // (rolling polynomial hash + winnowing-style min-window hash)
    "q_fingerprint" -> ((s, dir) => {
      import graft.functions.RollingHash.{rolling_hash, min_window_hash}
      ord(t(s, dir, "documents").select(col("doc_id"),
        rolling_hash(col("text")).as("fp"),
        min_window_hash(col("text"), 32).as("fp_min32")))
    }),

    // ---- UDF surface (SURVEY §2c): scalar UDF, array UDF + explode,
    // typed Aggregator UDAF ------------------------------------------

    // array-returning tokenizer UDF + explode (generator pattern) + scalar
    // tag UDF — same algorithms as the engine operators, exposed through
    // the spark.sql.functions.udf registration path
    "q_udf_tokenize" -> ((s, dir) => {
      val tokenizeUdf = udf((text: String) =>
        graft.operators.Annotators.TokenPattern.findAllIn(text).toSeq)
      val tagUdf = udf((tok: String) => graft.operators.Annotators.PosTagger.tag(tok))
      ord(t(s, dir, "documents")
        .select(md5(col("text")).as("h"), explode(tokenizeUdf(col("text"))).as("token"))
        .groupBy(col("h"), tagUdf(col("token")).as("tag"))
        .agg(count(lit(1)).as("n")))
    }),
    // typed Aggregator UDAF: per-source common-token intersection fold
    // (the aggregator form of the reference's common-annotation detection)
    "q_agg_intersect" -> ((s, dir) => {
      val common = udaf(graft.functions.SetIntersect)
      ord(t(s, dir, "documents")
        .select(col("source"), split(col("text"), "\\s+").as("toks"))
        .groupBy("source")
        .agg(array_join(common(col("toks")), ",").as("common_tokens")))
    }),

    // ---- multimodal plumbing ----------------------------------------

    // opaque binary payload + typed metadata; batch decode in
    // mapPartitions behind the Multimodal.Decoder seam (the default is a
    // deterministic stub — no codec libs in this container; a deployment
    // injects its real decoder without touching this query)
    "q_mm_decode" -> ((s, dir) => {
      ord(graft.operators.Multimodal.decode(mmPayloads(s, dir)))
    }),
    // byte-exact MEDIA dedup: the first pass every multimodal corpus
    // runs — identical payload bytes collapse on the md5 of the BINARY
    // column (16-byte shuffle keys; payload bytes never shuffle), same
    // hash-groupBy shape as q_dedup_exact on text
    "q_mm_dedup" -> ((s, dir) => {
      ord(mmPayloads(s, dir).toDF("doc_id", "payload")
        .groupBy(md5(col("payload")).as("h"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper")))
    }),
    // AUDIO-style windowed energy analysis — the waveform third of the
    // multimodal trio (image=q_mm_phash, video=q_mm_frames): treat the
    // payload as 8-bit PCM, slide 64-sample windows at stride 32,
    // compute exact integer energy Σ(s−128)² per window, and gate
    // activity at a fixed threshold (the VAD-shaped primitive real
    // audio curation runs to drop silence/noise-only clips). Per-doc
    // output: sample/window counts, active windows, peak energy — all
    // integers, so the oracle replays the whole window sweep from the
    // md5-constructed samples. Batch shape: one narrow mapPartitions
    // pass, no shuffle before the presentation sort.
    "q_mm_audio" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      ord(t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(Option(text).getOrElse("").getBytes("UTF-8"))
          val n = (md(0) & 0xff) * 16 + 256
          def sample(i: Int): Int = md(i % 16) & 0xff
          val nw = (n - 64) / 32 + 1
          var active = 0L
          var maxE = 0L
          var k = 0
          while (k < nw) {
            var e = 0L
            var j = 0
            while (j < 64) {
              val d = sample(k * 32 + j) - 128
              e += d.toLong * d
              j += 1
            }
            if (e > 350000L) active += 1
            if (e > maxE) maxE = e
            k += 1
          }
          (id, n.toLong, nw.toLong, active, maxE)
        }).toDF("doc_id", "n_samples", "n_windows", "n_active", "max_energy"))
    }),

    // PERCEPTUAL image near-dup (dHash, Krawetz): decode → nearest-
    // resample to 9×8 through the REAL PpmCodec path → BT.601 integer
    // luminance → 64 horizontal-gradient bits packed into one BIGINT →
    // 4×16-bit banded candidate pairs within Hamming ≤ 6. This is the
    // visual-duplicate detector byte-exact dedup (q_mm_frame_dedup)
    // cannot be: re-encoded/resized copies keep their gradient
    // structure. Image dims derive from the payload's own first bytes,
    // so byte-identical payloads land identical hashes. All integer
    // arithmetic — the oracle replays decode, resample, luminance,
    // gradient, banding, and Hamming from the md5-constructed pixels.
    "q_mm_phash" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      // canonicalize FIRST (the q_dedup_* contract): identical payloads
      // collapse to one min-doc_id representative before banding — with d
      // exact copies the band self-join otherwise pays d² per bucket
      // (measured: 129x wall at 20x-duplicated data; 1.7x after)
      val ph = canonicalDocs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(Option(text).getOrElse("").getBytes("UTF-8"))
          val w = ((md(0) & 0xff) % 31) + 1
          val h = ((md(1) & 0xff) % 17) + 1
          val payload = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
            Array.tabulate(w * h * 3)(i => md(i % 16))
          val r = graft.operators.PpmCodec.resampleNearest(payload, 9, 8)
          val (_, _, _, off) = graft.operators.PpmCodec.header(r)
          def lum(x: Int, y: Int): Int = {
            val p = off + (y * 9 + x) * 3
            (299 * (r(p) & 0xff) + 587 * (r(p + 1) & 0xff) +
              114 * (r(p + 2) & 0xff)) / 1000
          }
          var sig = 0L
          var i = 0
          while (i < 64) {
            val x = i % 8; val y = i / 8
            if (lum(x + 1, y) > lum(x, y)) sig |= (1L << i)
            i += 1
          }
          (id, sig)
        }).toDF("doc_id", "phash")
        .localCheckpoint(true) // one decode pass; both join sides read it
      val banded = ph.select(col("doc_id"), col("phash"),
          explode(expr("sequence(0, 3)")).as("band"))
        .withColumn("bkey",
          expr("shiftright(phash, cast(band * 16 as int)) & 65535"))
      ord(banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("cast(bit_count(a.phash ^ b.phash) as int)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 6))
    }),

    // the REAL codec through the driver gate: synthesize a valid P6
    // payload per document (dims from doc_id, plane bytes cycling the
    // text's md5 digest), decode it with PpmCodec — actual header
    // parsing and plane indexing, not a stub — and let the oracle
    // value-check dimensions, byte count and the (0,0) pixel's R,G,B
    // (the digest's first three bytes). A codec parse bug now fails
    // correctness, not just a ScalaTest.
    "q_mm_decode_real" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      ord(t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val w = (id % 31 + 1).toInt
          val h = (id % 17 + 1).toInt
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(Option(text).getOrElse("").getBytes("UTF-8"))
          val payload = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
            Array.tabulate(w * h * 3)(i => md(i % 16))
          // ONE real header parse per row (pixel() would re-parse it);
          // the (0,0) pixel is the first plane triple at the parsed offset
          val (pw, ph, _, off) = graft.operators.PpmCodec.header(payload)
          (id, payload.length, pw, ph,
            payload(off) & 0xff, payload(off + 1) & 0xff, payload(off + 2) & 0xff)
        })
        .toDF("doc_id", "n_bytes", "width", "height", "r0", "g0", "b0"))
    }),
    // multimodal resize: dimension metadata transform over the decoded
    // payloads — fit into a 224x224 box with aspect preserved (integer
    // arithmetic, so the oracle replicates it); the real resampler plugs
    // in through the same Decoder seam
    "q_mm_resize" -> ((s, dir) => {
      ord(graft.operators.Multimodal.resize(mmPayloads(s, dir), box = 224))
    }),
    // multimodal frame sampling: every k-th fixed-size slice of the
    // payload (video-frame analogue); emits (frame_no, offset, frame fp)
    // — one row per sampled frame, the explode-shaped batch a real
    // decoder feeds downstream
    "q_mm_frames" -> ((s, dir) => {
      ord(graft.operators.Multimodal.sampleFrames(
        mmPayloads(s, dir), frameLen = 64, stride = 128))
    }),
    // cross-payload FRAME dedup: which sampled frames recur across
    // media payloads (the video near-dup primitive — repeated intros,
    // static cards, bit-identical segments). The q_mm_frames lineage
    // grouped on the 8-byte rolling-hash fingerprint: frame bytes never
    // shuffle, so cost is the frame count, not frame bytes — the
    // chunk-dedup contract applied to media.
    "q_mm_frame_dedup" -> ((s, dir) => {
      ord(graft.operators.Multimodal.sampleFrames(
          mmPayloads(s, dir), frameLen = 64, stride = 128)
        .groupBy("frame_fp")
        .agg(count(lit(1)).as("n_frames"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_frames") > 1))
    }),
    // SCENE-CUT segmentation over the sampled frame stream — the video
    // third of frame analytics (q_mm_frames samples, q_mm_frame_dedup
    // finds cross-payload repeats; this finds WITHIN-payload structure):
    // a cut wherever the frame fingerprint changes, per-payload segment
    // count and the longest static run (a long run of identical frames =
    // a static card / freeze — the trim-before-training signal). One
    // frame pass + doc-partitioned lag/running-sum windows (the
    // gaps-and-islands shape, never corpus-wide), then segment-sized
    // aggregates.
    "q_mm_scene_cut" -> ((s, dir) => {
      val fr = graft.operators.Multimodal.sampleFrames(
        mmPayloads(s, dir), frameLen = 64, stride = 128)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_no")
      val lagFp = lag(col("frame_fp"), 1).over(w)
      val marked = fr
        .withColumn("chg",
          when(lagFp.isNull || col("frame_fp") =!= lagFp, 1L).otherwise(0L))
        .withColumn("seg", sum(col("chg")).over(w))
      ord(marked.groupBy("doc_id", "seg").agg(count(lit(1)).as("run"))
        .groupBy("doc_id")
        .agg(sum(col("run")).as("n_frames"),
          count(lit(1)).as("n_segments"),
          max(col("run")).as("max_static_run")))
    }),
    // multimodal feature extraction: per-batch featurizer over the opaque
    // payload — the default 8-bin byte histogram stands in for an
    // image/audio feature extractor behind the Featurizer seam
    "q_mm_features" -> ((s, dir) => {
      val feats = graft.operators.Multimodal.features(mmPayloads(s, dir))
      ord(feats.select(col("doc_id"), col("n_bytes"),
        array_join(col("byte_hist"), ",").as("hist")))
    }),

    // ---- round-11 curation additions ---------------------------------

    // CCNet-style perplexity BUCKETS: the head/middle/tail tercile
    // assignment the CCNet pipeline keys its keep/discard policy on —
    // here over the bigram-LM corpus-fit score (q_lm_score's signal;
    // higher mean corpus-tf = more in-distribution = head). The global
    // tercile runs through ScalableWindows.withGlobalNtile (quantile
    // buckets + broadcast offsets — no serial exchange at corpus scale);
    // ordering ties broken by doc_id so the cut is total. Audited
    // per-bucket with an id checksum so the assignment itself is
    // value-checked, not just the counts.
    "q_lm_buckets" -> ((s, dir) => {
      // bigram hashes from the codegen'd generator (identical md5-prefix
      // values to the old conv(substring(md5(...))) build) — one map-side
      // projection instead of the per-doc lead() window's corpus-wide
      // exchange + sort (the q_strip_boiler fusion, applied here)
      val bi = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.GramHashes.gram_hashes(col("text"), 2)).as("s"))
      val tf = bi.groupBy("s").agg(count(lit(1)).as("tf"))
      val scored = bi.join(tf, Seq("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("tf")).as("sum_tf"))
        .select(col("doc_id"),
          round(col("sum_tf").cast("double") / col("n_bigrams"), 6).as("mean_tf"))
        // one (doc_id, mean_tf) row per document — tiny at any corpus
        // size. The distributed ntile derives its input 2-3x (quantile
        // probe + offsets + main pass); checkpointing here pays the
        // bigram inverted-index join ONCE instead (3.3s -> 1.3s at
        // sf0.1). LAZY since round 18: the ntile's own quantile-probe
        // action materializes it — same reuse, one fewer blocking job.
        // Released by the harness's between-query sweep.
        .localCheckpoint(eager = false)
      val bucketed = graft.operators.ScalableWindows.withGlobalNtile(
        scored, 3, Seq(col("mean_tf") * -1, col("doc_id")), "b", partitions = 8)
      ord(bucketed
        .groupBy(when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("mean_tf")), 6).as("min_score"),
          round(max(col("mean_tf")), 6).as("max_score"),
          sum(col("doc_id")).as("id_checksum")))
    }),

    // blocklist / bad-words filter (the C4 gate): a document is dropped
    // when any token matches the blocklist. The list is a literal (at
    // 100 TB it broadcasts for free); the check is one map-side
    // arrays_overlap over the tokenized text — no shuffle before the
    // audit groupBy. Reported per (source, blocked) with an id checksum
    // so membership of each class is value-checked.
    "q_blocklist_filter" -> ((s, dir) => {
      val bad = array(lit("slow"), lit("broken"), lit("spam"))
      val hit = arrays_overlap(split(lower(col("text")), "\\s+"), bad)
      ord(t(s, dir, "documents")
        .select(col("source"), col("doc_id"), hit.as("blocked"))
        .groupBy("source", "blocked")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum")))
    }),

    // deterministic TRAINING-ORDER shuffle: the reproducible global
    // pseudo-random order a corpus release ships with (content-
    // independent 28-bit md5 draw on doc_id, ties by doc_id — re-runs
    // and re-partitions can never reorder). The global position comes
    // from ScalableWindows.withGlobalRowNumber: quantile-bucket local
    // row_numbers + broadcast offsets, no single-partition exchange —
    // at 100 TB this is a sort by an 8-byte key, nothing more.
    "q_shuffle_train_order" -> ((s, dir) => {
      val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
      val d = t(s, dir, "documents").select(col("doc_id"), draw.as("draw"))
      ord(graft.operators.ScalableWindows
        .withGlobalRowNumber(d, Seq(col("draw"), col("doc_id")), "train_pos",
          partitions = 8)
        .select(col("doc_id"), col("train_pos")))
    }),

    // token-budget EPOCH allocation: given a total training-token budget,
    // split it across sources by the sqrt-damped UniMax-style rule
    // (w_s = sqrt(tokens_s) — upweights small sources without letting a
    // giant source swallow the budget) and report the implied epochs per
    // source. Exact integer token counts; sqrt/divide are IEEE-identical
    // cross-engine; each sqrt routes through a decimal cast before the
    // order-free sum so the normalizer is engine-exact. One scan + one
    // groupBy + a 1-row broadcast join.
    "q_token_budget_epochs" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          size(filter(split(col("text"), "\\s+"), w => w =!= lit("")))
            .cast("bigint").as("n"))
        .groupBy("source").agg(sum(col("n")).as("tokens"))
      val sw = toks.agg(
        sum(sqrt(col("tokens").cast("double")).cast("decimal(38,9)"))
          .cast("double").as("sw"))
      val quota = lit(3000000.0) * sqrt(col("tokens").cast("double")) / col("sw")
      ord(toks.crossJoin(broadcast(sw))
        .select(col("source"), col("tokens"),
          round(quota, 3).as("quota_tokens"),
          round(quota / col("tokens").cast("double"), 6).as("epochs")))
    }),

    // SQ8 top-k: the scalar-quantization rung of the ANN ladder (between
    // float brute force and PQ) — 1-byte-per-dim codes, exact integer
    // code-space L2 distances, zero training. See Similarity.knnSq8.
    "q_knn_sq8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.knnSq8(e, col("vec_id") < 5, k = 5))
    }),

    // Matryoshka truncate-then-refine: prefix-dimension cosine cuts the
    // candidate set at prefixDims/d of the FLOPs, full-dimension cosine
    // re-ranks the survivors — the MRL analogue of ADC+refine. See
    // Similarity.knnMrl.
    "q_knn_mrl" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.knnMrl(
        e, col("vec_id") < 5, prefixDims = 16, candidates = 20, k = 5))
    }),

    // 1-bit binary-quantization ANN — the cheapest quantization rung:
    // sign-bit signatures (64 dims in ONE BIGINT), codegen'd
    // bit_count-xor Hamming cut, exact cosine re-rank. See
    // Similarity.knnBinary.
    "q_knn_binary" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.knnBinary(
        e, col("vec_id") < 10, candidates = 20, k = 5))
    }),

    // blocking + VERIFY near-dup (record-linkage contract): cheap
    // deterministic block key (md5 of the first 5 words — shared
    // openings) generates candidates, exact Levenshtein ≤ 50 verifies
    // them. Canonicalize FIRST like every near-dup operator — d exact
    // copies per doc would put d²/2 Levenshtein calls on 1-2KB
    // near-identical texts in every block (the 20x probe DNF'd without
    // this; the verifier is O(len²) PER PAIR, far costlier than a
    // shingle intersection). The maxBucket cap bounds what remains.
    // See TextDedup.blockedEditPairs.
    "q_dedup_blocked_edit" -> ((s, dir) => {
      ord(graft.operators.TextDedup.blockedEditPairs(
        canonicalDocs(s, dir), "doc_id", "text",
        blockWords = 5, maxEdit = 50,
        maxBucket = if (graft.Tables.benchMode) 1024 else 0))
    }),

    // Chunk→document embedding MEAN POOLING in the distributed long
    // form: posexplode to (doc, dim, value) rows, one partial+final
    // aggregate keyed on (doc, dim), mean closed from the decimal-exact
    // sum. Parallel across BOTH the document and dimension axes — at
    // 100 TB with 4096-dim vectors nothing ever holds a whole pooled
    // vector in an aggregation buffer, and map-side combine compacts
    // each partition's chunks before the one shuffle. (The zip_with /
    // aggregate lambda fold would be interpreted per element — the
    // measured 12× trap — and caps parallelism at the doc axis.)
    // Chunks are grouped 5-per-doc by vec_id; each chunk lands in its
    // OWN slot aggregate (sum over exactly one non-null value = exact)
    // and the mean closes in fixed left-to-right double addition, so
    // the result is bit-identical cross-engine without decimal routing
    // (double→DECIMAL casts round differently between engines — the
    // first formulation here lost 2e-15 to exactly that).
    "q_embed_pool" -> ((s, dir) => {
      val chunks = t(s, dir, "embeddings")
        .selectExpr("vec_id div 5 AS doc_id", "vec_id % 5 AS slot",
          "posexplode(cast(embedding AS array<double>)) AS (pos, v)")
      val slots = (0 to 4).map(k =>
        sum(when(col("slot") === k, col("v"))).as(s"c$k"))
      ord(chunks.groupBy("doc_id", "pos")
        .agg(count(lit(1)).as("n_chunks"), slots: _*)
        .select(col("doc_id"), col("pos"), col("n_chunks"),
          ((0 to 4).map(k => coalesce(col(s"c$k"), lit(0.0)))
            .reduceLeft(_ + _) / col("n_chunks")).as("mean_val")))
    }),

    // embedding WHITENING prep: per-vector projection onto the top
    // principal component of the mean-centered corpus, by distributed
    // power iteration (3 fixed iterates) — the covariance matrix never
    // materializes; each iterate is ONE corpus aggregate against the
    // broadcast 1-row current vector, and nothing collects to the
    // driver. See Similarity.pcaProject for the cross-engine exactness
    // contract (index-order dots, decimal-routed per-dim sums, 6-decimal
    // renormalized iterates).
    "q_embed_pca" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.pcaProject(e, dim = 64, iters = 3))
    }),
    // top-TWO components by DEFLATION (the 2-D corpus map / whitening
    // prep): pc2 power-iterates over xc − (xc·pc1)·pc1 — per-row exact
    // deflation against the broadcast rounded pc1, so both engines build
    // identical deflated rows and the oracle replays BOTH iterate
    // chains; projection is still one corpus scan against three
    // broadcast 1-row artifacts, and both components join the quantizer
    // memo (a sweep trains each once).
    "q_embed_pca2" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      ord(graft.operators.Similarity.pcaProject2(e, dim = 64, iters = 3))
    }),
    // LATE-INTERACTION retrieval (ColBERT MaxSim, Khattab & Zaharia
    // 2020): multi-vector scoring — score(q, d) = Σ over query chunks
    // of the max cosine against any of d's chunks — over the 5-chunks-
    // per-doc layout q_embed_pool established. The query docs' chunk
    // frame broadcasts (queries are always the small side), the corpus
    // chunk table scans ONCE, and both reductions (per-query-chunk max,
    // per-doc sum) are map-side-combined aggregates on small keys; the
    // per-doc sum routes through DECIMAL(18,6) so the ≤5-term addition
    // is order-free and bit-identical cross-engine. At 100 TB the
    // production form prunes candidates with an ANN tier first (the
    // ladder above) — the scoring plumbing is identical.
    "q_maxsim" -> ((s, dir) => {
      import graft.functions.VecDot.vec_dot
      val ch = t(s, dir, "embeddings")
        .select(expr("vec_id div 5").as("doc"), expr("vec_id % 5").as("slot"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("n2", vec_dot(col("v"), col("v")))
      val q = ch.filter(col("doc") < 3)
        .select(col("doc").as("q_doc"), col("slot").as("q_slot"),
          col("v").as("qv"), col("n2").as("qn2"))
      val scored = ch.filter(col("doc") >= 3)
        .crossJoin(broadcast(q))
        .select(col("q_doc"), col("q_slot"), col("doc"),
          round(vec_dot(col("v"), col("qv")) /
            (sqrt(col("n2")) * sqrt(col("qn2"))), 6).as("cos"))
        .groupBy("q_doc", "q_slot", "doc").agg(max(col("cos")).as("mx"))
        .groupBy("q_doc", "doc")
        .agg(sum(col("mx").cast("decimal(18,6)")).cast("double").as("maxsim"),
          count(lit(1)).as("n_qtok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_doc").orderBy(col("maxsim").desc, col("doc"))
      ord(scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3))
    }),
    // DSIR-style hashed-ngram importance resampling (Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"):
    // fit a raw and a target token distribution over 128 md5 hash
    // buckets, score each document by its mean scaled bucket ratio
    // (linear-domain variant), then keep docs by a deterministic md5
    // Bernoulli draw with probability score/SCALE. The whole pipeline
    // stays in exact BIGINT space (scaled floor-div ratios, integer
    // draw compare), so the resample is bit-for-bit cross-engine —
    // the q_split_train_test stability contract: re-runs and
    // re-partitioning can never move a doc in or out of the sample.
    // Scale shape: ONE token-scale aggregation total — the corpus
    // explodes once into (doc, bucket) counts (map-side combine caps
    // each partition's contribution at docs×128 rows); the 128-row
    // bucket distribution then derives from that small frame, and the
    // per-doc score is a weighted sum over it against the BROADCAST
    // ratio table. No token ever crosses a second shuffle and nothing
    // is collected. (The first formulation re-scanned raw tokens for
    // the score pass — 14.1 s on the 20× probe vs 10.6 s for this one,
    // 11× at 20× data; what remains is the irreducible single
    // md5-per-token scan.)
    "q_importance_resample" -> ((s, dir) => {
      // per-TOKEN bucket hash — the one genuinely per-token-hot hash in
      // the catalog. Bench/production mode uses the xxhash64 family (the
      // Tables.benchMode convention every dedup generator follows: the
      // oracle gate replays the portable md5 form, production hashes
      // native); the portable form stays the exact conv/substring/md5
      // chain the DuckDB oracle replays bit-for-bit.
      val bucket =
        if (graft.Tables.benchMode) pmod(xxhash64(col("w")), lit(128L))
        else conv(substring(md5(col("w")), 1, 7), 16, 10).cast("bigint") % 128
      val docBuckets = t(s, dir, "documents")
        .selectExpr("doc_id", "source", "explode(split(text, '\\\\s+')) AS w")
        .filter(col("w") =!= "")
        .withColumn("b", bucket)
        .groupBy("doc_id", "source", "b")
        .agg(count(lit(1)).as("n"))
      val ratio = docBuckets.groupBy("b")
        .agg(sum(col("n")).as("n_raw"),
          sum(when(col("source") === "src0", col("n")).otherwise(0L)).as("n_tgt"))
        .select(col("b"),
          expr("((n_tgt + 1) * 1000000) div (n_raw + 1)").as("r"))
      val scored = docBuckets.join(broadcast(ratio), Seq("b"))
        .groupBy("doc_id", "source")
        .agg(sum(col("n")).as("n_tokens"), sum(col("n") * col("r")).as("sum_r"))
        .withColumn("score", expr("sum_r div n_tokens"))
      val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint")
      ord(scored
        .withColumn("keep", draw * lit(1000000L) < col("score") * lit(268435456L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"),
          sum(col("score")).as("sum_score")))
    }),
  )

  /** Shared multimodal input: the documents table's text bytes standing in
    * for opaque media payloads (one typed (id, payload) batch source). */
  private def mmPayloads(s: SparkSession, dir: String) = {
    val spark = s
    import spark.implicits._
    t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** GPT-2-style pretokenizer classes, minus the trailing-space lookahead
    * (RE2 has no lookahead; with the same pattern both engines count
    * identically — alternation is leftmost-first in Java regex and RE2). */
  private val BpeRegex =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"

  /** The same regex as a DuckDB SQL string literal (quotes doubled;
    * backslashes pass through — DuckDB strings don't process escapes). */
  private val BpeRegexSql = "'" + BpeRegex.replace("'", "''") + "'"

  /** The k-round BPE replay (q_bpe_train): per round, adjacent-symbol
    * pair counts weighted by word freq from the previous symbol frame,
    * the deterministic argmax (count DESC, pair ASC), and sentinel-padded
    * fusion — replace() is left-to-right non-overlapping in DuckDB
    * exactly like the Spark side's \Q-quoted regexp_replace, which is
    * BPE's greedy merge rule. */
  private def bpeCtes(steps: Int): String = {
    val rounds = (1 to steps).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS (SELECT p, sum(freq) AS cnt FROM (
         |  SELECT freq, unnest([a[j] || ' ' || a[j+1] for j in range(1, len(a))]) AS p
         |  FROM (SELECT freq, string_split(s, ' ') AS a FROM $prev)) GROUP BY p),
         |b$i AS (SELECT p, cnt FROM p$i ORDER BY cnt DESC, p ASC LIMIT 1),
         |s$i AS (SELECT word, freq, trim(replace(replace(
         |  ' ' || replace(s, ' ', '  ') || ' ',
         |  ' ' || replace((SELECT p FROM b$i), ' ', '  ') || ' ',
         |  ' ' || replace((SELECT p FROM b$i), ' ', '') || ' '), '  ', ' ')) AS s FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS word
       |  FROM documents) GROUP BY word),
       |s0 AS (SELECT word, freq, array_to_string([word[j] for j in range(1, len(word) + 1)], ' ') AS s FROM w),
       |$rounds""".stripMargin
  }

  private def bpeOracle(steps: Int): String = {
    val sel = (1 to steps).map { i =>
      s"SELECT $i AS step, (SELECT p FROM b$i) AS pair, " +
        s"replace((SELECT p FROM b$i), ' ', '') AS merged, " +
        s"CAST((SELECT cnt FROM b$i) AS BIGINT) AS cnt"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(steps)}
       |SELECT * FROM (
       |$sel
       |) ORDER BY ALL NULLS FIRST""".stripMargin
  }

  /** q_bpe_tokenize: the learned dictionary's final symbolization
    * (`s<steps>`) joined back to the corpus words — per-document subword
    * token counts under the trained merges. */
  private def bpeTokenizeOracle(steps: Int): String =
    s"""WITH ${bpeCtes(steps)},
       |dw AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS word
       |  FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(len(string_split(s$steps.s, ' '))) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN s$steps USING (word)
       |GROUP BY doc_id ORDER BY ALL NULLS FIRST""".stripMargin

  /** q_bpe_fertility: the tokenize replay aggregated per source. */
  private def bpeFertilityOracle(steps: Int): String =
    s"""WITH ${bpeCtes(steps)},
       |dw AS (SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS word
       |  FROM documents)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(len(string_split(s$steps.s, ' '))) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(CASE WHEN len(string_split(s$steps.s, ' ')) > 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fragmented,
       |  round(CAST(SUM(len(string_split(s$steps.s, ' '))) AS DOUBLE) / COUNT(*), 6) AS fertility
       |FROM dw JOIN s$steps USING (word)
       |GROUP BY source ORDER BY ALL NULLS FIRST""".stripMargin

  /** q_pack_bpe: the tokenize replay feeding the running-sum packing. */
  private def bpePackOracle(steps: Int): String =
    s"""WITH ${bpeCtes(steps)},
       |dw AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS word
       |  FROM documents),
       |t AS (SELECT doc_id, CAST(SUM(len(string_split(s$steps.s, ' '))) AS BIGINT) AS n
       |      FROM dw JOIN s$steps USING (word) GROUP BY doc_id),
       |c AS (SELECT doc_id, n, sum(n) OVER (
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT CAST((cum - n) // 2048 AS BIGINT) AS pack_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin

  /** One nearest-centroid assignment step of the IVF oracle: distance is
    * the left-to-right squared-diff fold (exactly Spark's zip_with+
    * aggregate order), ties broken by cid. */
  private def ivfAssignSql(vSrc: String, cSrc: String): String =
    s"""SELECT vec_id, v, cid FROM (
       |  SELECT x.vec_id, x.v, s.cid,
       |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |      list_sum([(x.v[d] - s.cen[d]) * (x.v[d] - s.cen[d]) FOR d IN range(1, len(x.v) + 1)]), s.cid) AS rn
       |  FROM $vSrc x, $cSrc s) WHERE rn = 1""".stripMargin

  /** One centroid-update step: per-dimension decimal-exact mean (matches
    * Spark's DECIMAL(30,12) accumulation — order-free, so partial
    * aggregation cannot perturb it). */
  private def ivfUpdateSql(aSrc: String): String =
    s"""SELECT cid, list(m ORDER BY d) AS cen FROM (
       |  SELECT cid, d, CAST(sum(CAST(v[d] AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM $aSrc, unnest(range(1, len(v) + 1)) AS t(d) GROUP BY cid, d) GROUP BY cid""".stripMargin

  /** Per-subspace PQ replay (the j-th slice `v[a:b]`): the identical
    * Lloyd chain the q_ivf_train oracle runs, plus dense 0-based codes
    * by centroid-id rank and the code-keyed codebook — exactly
    * trainPq / encodePq's construction, so Spark and DuckDB agree on
    * every code bit-for-bit. */
  private def pqSubspaceCtes(j: Int, dsub: Int, ksub: Int, src: String): String = {
    val a = j * dsub + 1
    val b = (j + 1) * dsub
    s"""v$j AS (SELECT vec_id, v[$a:$b] AS v FROM $src),
       |c0_$j AS (SELECT vec_id AS cid, v AS cen FROM v$j ORDER BY vec_id LIMIT $ksub),
       |a1_$j AS (${ivfAssignSql(s"v$j", s"c0_$j")}),
       |c1_$j AS (${ivfUpdateSql(s"a1_$j")}),
       |a2_$j AS (${ivfAssignSql(s"v$j", s"c1_$j")}),
       |c2_$j AS (${ivfUpdateSql(s"a2_$j")}),
       |rk_$j AS (SELECT cid, CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS code FROM c2_$j),
       |cb_$j AS (SELECT r.code, c.cen FROM c2_$j c JOIN rk_$j r USING (cid)),
       |fin_$j AS (${ivfAssignSql(s"v$j", s"c2_$j")}),
       |codes_$j AS (SELECT f.vec_id, r.code FROM fin_$j f JOIN rk_$j r USING (cid))""".stripMargin
  }

  /** The full 4-subspace chain + the joined (vec_id, c0..c3) encoding.
    * `src` is the vector source CTE — "v" for raw-vector PQ, a residual
    * CTE for the IVFADC variant. */
  private def pqEncCtes(src: String = "v"): String =
    s"""${(0 until 4).map(pqSubspaceCtes(_, 16, 8, src)).mkString(",\n")},
       |enc AS (SELECT vec_id, codes_0.code AS c0, codes_1.code AS c1,
       |    codes_2.code AS c2, codes_3.code AS c3
       |  FROM codes_0 JOIN codes_1 USING (vec_id)
       |  JOIN codes_2 USING (vec_id) JOIN codes_3 USING (vec_id))""".stripMargin

  /** The residual-IVFADC replay through the ADC estimate: coarse Lloyd
    * chain, residual projection, 4 residual-space subspace trainings +
    * encoding, nprobe=2 probing, per-(query, cell) LUTs from the query
    * residual, and `scored(q_id, vec_id, adist)`. Shared verbatim by
    * q_knn_ivfpq_residual (ranks the estimate) and q_knn_ivfpq_refine
    * (cuts to 15 candidates and re-ranks by exact distance). */
  private def residualScoredCtes: String =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
       |a1 AS (${ivfAssignSql("v", "c0")}),
       |c1 AS (${ivfUpdateSql("a1")}),
       |a2 AS (${ivfAssignSql("v", "c1")}),
       |c2 AS (${ivfUpdateSql("a2")}),
       |fin AS (${ivfAssignSql("v", "c2")}),
       |res AS (SELECT f.vec_id, [f.v[d] - c.cen[d] FOR d IN range(1, len(f.v) + 1)] AS v
       |  FROM fin f JOIN c2 c USING (cid)),
       |${pqEncCtes("res")},
       |q0 AS (SELECT vec_id AS q_id, v FROM v WHERE vec_id < 10),
       |probes AS (
       |  SELECT q_id, cid AS qb FROM (
       |    SELECT q.q_id, s.cid,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        list_sum([(q.v[d] - s.cen[d]) * (q.v[d] - s.cen[d]) FOR d IN range(1, len(q.v) + 1)]), s.cid) AS rn
       |    FROM q0 q, c2 s) WHERE rn <= 2),
       |qres AS (SELECT p.q_id, p.qb, [q.v[d] - c.cen[d] FOR d IN range(1, len(q.v) + 1)] AS v
       |  FROM probes p JOIN q0 q USING (q_id) JOIN c2 c ON c.cid = p.qb),
       |${(0 until 4).map { j =>
           val a = j * 16 + 1
           s"""lut_$j AS (SELECT r.q_id, r.qb, b.code,
              |    list_sum([(r.v[$a + d - 1] - b.cen[d]) * (r.v[$a + d - 1] - b.cen[d]) FOR d IN range(1, len(b.cen) + 1)]) AS dd
              |  FROM qres r, cb_$j b)""".stripMargin
         }.mkString(",\n")},
       |scored AS (SELECT p.q_id, e.vec_id,
       |    round(((l0.dd + l1.dd) + l2.dd) + l3.dd, 4) AS adist
       |  FROM enc e
       |  JOIN fin f USING (vec_id)
       |  JOIN probes p ON f.cid = p.qb AND e.vec_id <> p.q_id
       |  JOIN lut_0 l0 ON l0.q_id = p.q_id AND l0.qb = p.qb AND l0.code = e.c0
       |  JOIN lut_1 l1 ON l1.q_id = p.q_id AND l1.qb = p.qb AND l1.code = e.c1
       |  JOIN lut_2 l2 ON l2.q_id = p.q_id AND l2.qb = p.qb AND l2.code = e.c2
       |  JOIN lut_3 l3 ON l3.q_id = p.q_id AND l3.qb = p.qb AND l3.code = e.c3)""".stripMargin

  /** DuckDB HUGEINT constants for unsigned-64 wrap arithmetic. */
  private val M64 = "CAST('18446744073709551616' AS HUGEINT)"
  private val M63 = "CAST('9223372036854775808' AS HUGEINT)"

  /** 64-bit wrap-around product of two HUGEINT expressions each < 2^64:
    * the left operand is split at 2^32 so every intermediate stays below
    * 2^97 — HUGEINT is 127-bit, so a direct 64×64-bit product would
    * overflow. */
  private def mulModSql(a: String, b: String): String =
    s"((((($a) // 4294967296) * ($b)) % 4294967296 * 4294967296 + (($a) % 4294967296) * ($b)) % $M64)"

  private val HashMod = BigInt(1) << 64
  private val HashB = BigInt(1000003)
  private val HashBInv = HashB.modInverse(HashMod)

  /** Prefix-hash CTE chain over each document's UTF-8 bytes under the
    * catalog's polynomial fingerprint h = fold((a,b) -> (a·1000003 + b)
    * mod 2^64). O(total bytes) instead of the O(bytes × 32) per-window
    * `list_reduce` comprehension it replaces — the four rolling-hash
    * oracles measured ~6 s EACH at sf0.01 (two thirds of the whole
    * catalog's post-materialization DuckDB wall) because DuckDB
    * re-allocates the 32-element slice + lambda chain per window.
    *
    * Identity (B = 1000003 is odd, hence invertible mod 2^64):
    *   P[n]    = Σ_{j≤n} b[j]·B^(n−j)          — the prefix hash
    *           = B^n · Σ_{j≤n} b[j]·B^(−j)     — one windowed SUM
    *   h(a,b]  = P[b] − P[a]·B^(b−a)           — any substring's hash
    * Powers B^k / B^(−k) come from 16 chained square-and-multiply CTE
    * levels (k < 65536; docs are ≤ ~600 bytes at every oracle SF —
    * nesting the ladder as ONE expression would double the SQL text per
    * bit instead). Assumes non-empty text (the generator guarantees
    * ≥ 44 bytes; an empty doc would lose its P[0] = 0 row).
    *
    * Emits: `h(doc_id, hx, nb)`, `pw(k, bpow, ipow)` for k ≤ max(nb),
    * `pre(doc_id, nb, pos, p)` = P[pos] for pos 1..nb, and
    * `win(doc_id, nb, pos, hw)` = the 32-byte window hash ending at
    * `pos ≥ 32` — exactly the `i IN range(nb−31)` window set of the
    * replaced form with pos = i+32. */
  private def prefixHashCtes(src: String): String = {
    val levels = (0 until 16).map { j =>
      val cb = HashB.modPow(BigInt(1) << j, HashMod)
      val ci = HashBInv.modPow(BigInt(1) << j, HashMod)
      s"""pw${j + 1} AS (SELECT k,
         |  CASE WHEN (k >> $j) & 1 = 1 THEN ${mulModSql("bpow", s"CAST('$cb' AS HUGEINT)")} ELSE bpow END AS bpow,
         |  CASE WHEN (k >> $j) & 1 = 1 THEN ${mulModSql("ipow", s"CAST('$ci' AS HUGEINT)")} ELSE ipow END AS ipow
         |  FROM pw$j)""".stripMargin
    }.mkString(",\n")
    val b32 = s"CAST('${HashB.modPow(BigInt(32), HashMod)}' AS HUGEINT)"
    s"""h AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM $src),
       |mx AS MATERIALIZED (SELECT max(nb) AS mx FROM h),
       |pw0 AS (SELECT CAST(t.k AS INT) AS k, CAST(1 AS HUGEINT) AS bpow, CAST(1 AS HUGEINT) AS ipow
       |  FROM mx, unnest(range(0, mx + 1)) AS t(k)),
       |$levels,
       |pw AS MATERIALIZED (SELECT * FROM pw16),
       |byterows AS MATERIALIZED (
       |  SELECT doc_id, nb, CAST(t.i AS INT) AS pos,
       |    CAST(CAST('0x' || substr(hx, 2*t.i - 1, 2) AS BIGINT) AS HUGEINT) AS b
       |  FROM h, unnest(range(1, nb + 1)) AS t(i)),
       |hterms AS (SELECT br.doc_id, br.nb, br.pos, (br.b * pw.ipow) % $M64 AS term
       |  FROM byterows br JOIN pw ON pw.k = br.pos),
       |hsum AS (SELECT doc_id, nb, pos,
       |    SUM(term) OVER (PARTITION BY doc_id ORDER BY pos) % $M64 AS sacc
       |  FROM hterms),
       |pre AS MATERIALIZED (SELECT hsum.doc_id, hsum.nb, hsum.pos, ${mulModSql("pw.bpow", "hsum.sacc")} AS p
       |  FROM hsum JOIN pw ON pw.k = hsum.pos),
       |lagp AS (SELECT doc_id, nb, pos, p,
       |    COALESCE(lag(p, 32) OVER (PARTITION BY doc_id ORDER BY pos), CAST(0 AS HUGEINT)) AS p0
       |  FROM pre),
       |win AS MATERIALIZED (SELECT doc_id, nb, pos,
       |    (p - ${mulModSql("p0", b32)} + $M64) % $M64 AS hw
       |  FROM lagp WHERE pos >= 32)""".stripMargin
  }

  private val minhashMins: String = (0 until 32).map(i =>
    s"min((${aCoef(i)} * base + ${bCoef(i)}) % $MinHashP) AS h$i").mkString(",\n  ")
  private val minhashArr: String = (0 until 32).map(i => s"h$i").mkString("[", ", ", "]")

  /** q_dedup_clusters_star and _auto share q_dedup_clusters' oracle: all
    * three implementations compute the same unique fixpoint (see the
    * catalog entries), so one recursive-CTE spec checks them all. */
  def oracles: Map[String, String] =
    oracles0 +
      ("q_dedup_clusters_star" -> oracles0("q_dedup_clusters")) +
      ("q_dedup_clusters_auto" -> oracles0("q_dedup_clusters")) +
      // the streaming segment replay re-aggregates to q_dedup_lines'
      // exact per-doc shape (ordered feed => identical keep-first rule),
      // so the batch oracle checks the streaming engine path verbatim
      ("q_stream_segment_replay" -> oracles0("q_dedup_lines")) +
      // the bloom prefilter admits no false negatives and the exact
      // verify join removes its false positives, so the output equals
      // q_decontaminate's by construction — the shared oracle checks it
      ("q_decontaminate_bloom" -> oracles0("q_decontaminate"))

  /** The curation-ledger CTE chain (exact reps + recursive components +
    * longest-member keepers), shared by the q_dedup_ledger oracle and
    * the per-source rate rollup. `led` is the final per-doc
    * (doc_id, status, keeper_id) frame. */
  private val ledgerCtes: String =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
      |  FROM documents),
      |canon AS (
      |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
      |w AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
      |  WHERE len(string_split_regex(text, '\s+')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
      |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
      |    FROM w)),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT doc_a, doc_b
      |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
      |          UNION ALL SELECT doc_b, doc_a FROM p),
      |reach(src, lbl) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
      |comp AS (SELECT src AS member, min(lbl) AS cluster_rep FROM reach GROUP BY src),
      |j AS (SELECT c.cluster_rep, c.member, d.n_chars
      |      FROM comp c JOIN documents d ON c.member = d.doc_id),
      |k AS (SELECT cluster_rep, member,
      |    row_number() OVER (PARTITION BY cluster_rep ORDER BY n_chars DESC, member) AS rn
      |  FROM j),
      |keep AS (SELECT cluster_rep, member AS keep_id FROM k WHERE rn = 1),
      |nm AS (SELECT c.member, kp.keep_id FROM comp c JOIN keep kp USING (cluster_rep)),
      |led AS (
      |  SELECT g.doc_id,
      |    CASE WHEN g.doc_id != g.rep THEN 'exact_dup'
      |         WHEN nm.keep_id IS NOT NULL AND nm.keep_id != g.doc_id THEN 'near_dup'
      |         ELSE 'kept' END AS status,
      |    CASE WHEN g.doc_id != g.rep THEN g.rep
      |         WHEN nm.keep_id IS NOT NULL THEN nm.keep_id
      |         ELSE g.doc_id END AS keeper_id
      |  FROM g LEFT JOIN nm ON g.rep = nm.member)""".stripMargin

  private val oracles0: Map[String, String] = Map(
    "q_dedup_minhash" ->
      s"""WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |      WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |sh AS (SELECT DISTINCT doc_id, s FROM (
         |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
         |hb AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS base FROM sh),
         |sig0 AS (SELECT doc_id,
         |  $minhashMins
         |  FROM hb GROUP BY doc_id),
         |sig AS (SELECT doc_id, $minhashArr AS sig FROM sig0),
         |banded AS (SELECT doc_id, sig, b AS band, array_to_string(sig[b*4+1:b*4+4], '_') AS bkey
         |           FROM sig, range(8) r(b)),
         |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(len([i FOR i IN range(1, 33) IF x.sig[i] = y.sig[i]]) AS INT) AS n_match
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, n_match, round(CAST(n_match AS DOUBLE) / 32, 6) AS est_jaccard
         |FROM pairs WHERE round(CAST(n_match AS DOUBLE) / 32, 6) >= 0.2
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_minhash_est" ->
      s"""WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |      WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |shs AS (SELECT DISTINCT doc_id, s FROM (
         |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
         |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM shs),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |tru AS (
         |  SELECT doc_a, doc_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS jaccard
         |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id),
         |hb AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS base FROM shs),
         |sig0 AS (SELECT doc_id,
         |  $minhashMins
         |  FROM hb GROUP BY doc_id),
         |sig AS (SELECT doc_id, $minhashArr AS sig FROM sig0),
         |banded AS (SELECT doc_id, sig, b AS band, array_to_string(sig[b*4+1:b*4+4], '_') AS bkey
         |           FROM sig, range(8) r(b)),
         |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(len([i FOR i IN range(1, 33) IF x.sig[i] = y.sig[i]]) AS INT) AS n_match
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |est AS (SELECT doc_a, doc_b, round(CAST(n_match AS DOUBLE) / 32, 6) AS est_jaccard
         |        FROM pairs WHERE round(CAST(n_match AS DOUBLE) / 32, 6) >= 0.2)
         |SELECT doc_a, doc_b, est_jaccard, jaccard,
         |  round(abs(est_jaccard - jaccard), 6) AS abs_err
         |FROM est JOIN tru USING (doc_a, doc_b)
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_minhash_est chains, counted: true >= 0.2 pairs vs RAW banded
    // candidates (no estimate filter) vs their intersection
    "q_lsh_recall" ->
      s"""WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |      WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |shs AS (SELECT DISTINCT doc_id, s FROM (
         |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
         |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM shs),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |tru AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
         |hb AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS base FROM shs),
         |sig0 AS (SELECT doc_id,
         |  $minhashMins
         |  FROM hb GROUP BY doc_id),
         |sig AS (SELECT doc_id, $minhashArr AS sig FROM sig0),
         |banded AS (SELECT doc_id, sig, b AS band, array_to_string(sig[b*4+1:b*4+4], '_') AS bkey
         |           FROM sig, range(8) r(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |hit AS (SELECT tru.doc_a, tru.doc_b FROM tru JOIN cand USING (doc_a, doc_b))
         |SELECT CAST((SELECT COUNT(*) FROM tru) AS BIGINT) AS n_true,
         |  CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
         |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
         |  CASE WHEN (SELECT COUNT(*) FROM tru) > 0
         |    THEN round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) / (SELECT COUNT(*) FROM tru), 6)
         |    ELSE NULL END AS recall
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the recall chain WITHOUT the 0.2 truth cut, jaccard kept and
    // decile-bucketed, candidates flagged by left join
    "q_lsh_scurve" ->
      s"""WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |      WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |shs AS (SELECT DISTINCT doc_id, s FROM (
         |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
         |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM shs),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |tru AS (
         |  SELECT doc_a, doc_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS j
         |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id),
         |hb AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS base FROM shs),
         |sig0 AS (SELECT doc_id,
         |  $minhashMins
         |  FROM hb GROUP BY doc_id),
         |sig AS (SELECT doc_id, $minhashArr AS sig FROM sig0),
         |banded AS (SELECT doc_id, sig, b AS band, array_to_string(sig[b*4+1:b*4+4], '_') AS bkey
         |           FROM sig, range(8) r(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |f AS (SELECT t.j, c.doc_a IS NOT NULL AS hit
         |      FROM tru t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         |SELECT CAST(LEAST(floor(j * 10), 9) AS INT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_cand,
         |  round(CAST(COUNT(CASE WHEN hit THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS cand_rate
         |FROM f GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // same exact-jaccard truth chain as q_lsh_scurve, swept over cutoffs;
    // scalar subqueries keep zero-match thresholds as explicit rows
    "q_dedup_threshold_sweep" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |      WHERE len(string_split_regex(text, '\s+')) >= 3),
        |shs AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM shs),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |tru AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS j
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id),
        |ends AS (SELECT j, doc_a AS doc FROM tru UNION ALL SELECT j, doc_b AS doc FROM tru),
        |th AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.5, 0.7, 0.9]) AS DOUBLE) AS t)
        |SELECT t,
        |  CAST((SELECT COUNT(*) FROM tru WHERE j >= t) AS BIGINT) AS n_pairs,
        |  CAST((SELECT COUNT(DISTINCT doc) FROM ends WHERE j >= t) AS BIGINT) AS n_docs_matched,
        |  round(CAST((SELECT COUNT(DISTINCT doc) FROM ends WHERE j >= t) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM canon), 6) AS matched_frac
        |FROM th ORDER BY ALL NULLS FIRST""".stripMargin,
    // the jaccard sh chain's per-shingle df, bucketed by bit length
    "q_shingle_df_hist" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |      WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
        |d AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY h)
        |SELECT CAST(length(bin(df)) AS INT) AS df_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(df) AS BIGINT) AS n_postings,
        |  CAST(MIN(df) AS BIGINT) AS min_df,
        |  CAST(MAX(df) AS BIGINT) AS max_df,
        |  CAST(COALESCE(SUM(CASE WHEN df > 64 THEN df ELSE 0 END), 0) AS BIGINT) AS postings_over_cap
        |FROM d GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_simhash" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |d AS (SELECT doc_id, list_transform(list_filter(string_split_regex(text, '\s+'), w -> w != ''),
        |        w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS hs FROM canon),
        |sig AS (SELECT doc_id, CAST(list_sum([CASE WHEN 2 * len([h FOR h IN hs IF (h >> b) & 1 = 1]) > len(hs)
        |        THEN (1::BIGINT << b) ELSE 0 END FOR b IN range(60)]) AS BIGINT) AS simhash FROM d),
        |banded AS (SELECT doc_id, simhash, b AS band, (simhash >> (b * 15)) & 32767 AS bkey
        |           FROM sig, range(4) r(b)),
        |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the jaccard truth chain counted against the simhash banded pairs
    "q_simhash_recall" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |      WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |tru AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |d AS (SELECT doc_id, list_transform(list_filter(string_split_regex(text, '\s+'), w -> w != ''),
        |        w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS hs FROM canon),
        |sig AS (SELECT doc_id, CAST(list_sum([CASE WHEN 2 * len([h FOR h IN hs IF (h >> b) & 1 = 1]) > len(hs)
        |        THEN (1::BIGINT << b) ELSE 0 END FOR b IN range(60)]) AS BIGINT) AS simhash FROM d),
        |banded AS (SELECT doc_id, simhash, b AS band, (simhash >> (b * 15)) & 32767 AS bkey
        |           FROM sig, range(4) r(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
        |hit AS (SELECT tru.doc_a, tru.doc_b FROM tru JOIN cand USING (doc_a, doc_b))
        |SELECT CAST((SELECT COUNT(*) FROM tru) AS BIGINT) AS n_true,
        |  CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
        |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
        |  CASE WHEN (SELECT COUNT(*) FROM tru) > 0
        |    THEN round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) / (SELECT COUNT(*) FROM tru), 6)
        |    ELSE NULL END AS recall
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // streaming replay of the same SimHash pigeonhole dedup: one row per
    // (pair, shared band) — the banded join WITHOUT the pair-level
    // DISTINCT, since the stream emits once per shared band by contract
    "q_stream_neardup_replay" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |d AS (SELECT doc_id, list_transform(list_filter(string_split_regex(text, '\s+'), w -> w != ''),
        |        w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS hs FROM canon),
        |sig AS (SELECT doc_id, CAST(list_sum([CASE WHEN 2 * len([h FOR h IN hs IF (h >> b) & 1 = 1]) > len(hs)
        |        THEN (1::BIGINT << b) ELSE 0 END FOR b IN range(60)]) AS BIGINT) AS simhash FROM d),
        |banded AS (SELECT doc_id, simhash, b AS band, (simhash >> (b * 15)) & 32767 AS bkey
        |           FROM sig, range(4) r(b)),
        |pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(x.band AS INT) AS band,
        |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, band, hamming FROM pairs WHERE hamming <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // streaming replay of gap sessionization (15-min gap; the sentinel
    // flush makes the emitted set the full gaps-and-islands result)
    "q_stream_session_replay" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 900000000
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(us) AS start_us, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid ORDER BY ALL NULLS FIRST""".stripMargin,
    // streaming replay of the tumbling windowed aggregation (sentinel
    // flush closes every window; decimal-routed sum = exact cross-engine)
    "q_stream_tumbling_replay" ->
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS wstart_us, event_type,
        |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the two-windows-per-event expansion (1h width, 30min slide)
    "q_stream_sliding_replay" ->
      """WITH x AS (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |  time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS wstart
        |  FROM events)
        |SELECT epoch_us(wstart) AS wstart_us, CAST(COUNT(*) AS BIGINT) AS n
        |FROM x GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the batch per-window top-3 the ranked timeout emission must equal
    "q_stream_topk_replay" ->
      """WITH c AS (
        |  SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS wstart_us, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT wstart_us, event_type, n,
        |  CAST(row_number() OVER (PARTITION BY wstart_us ORDER BY n DESC, event_type) AS INT) AS rk
        |  FROM c)
        |SELECT wstart_us, event_type, n, rk FROM r WHERE rk <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // streaming replay of the watermarked interval stream-stream join:
    // under no-late-data the emitted set equals the batch interval join
    "q_stream_join_replay" ->
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
        |  epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts
        | AND r.ts <= l.ts + INTERVAL '10 minutes'
        |WHERE l.event_type = 'view' AND r.event_type = 'click'
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_lsh" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |$lshBucketCtes,
         |n AS (SELECT vec_id, v, bucket, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM b),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS qb FROM n WHERE vec_id < 10),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
         |  FROM n JOIN q ON bucket = qb AND vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id AS neighbor, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk FROM scored)
         |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_ivf" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |b AS (SELECT vec_id, v,
        |  list_sum([CASE WHEN v[i+1] >= 0 THEN (1::BIGINT << (7 - i)) ELSE 0 END FOR i IN range(8)]) AS bucket FROM v),
        |n AS (SELECT vec_id, v, bucket, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM b),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS qb FROM n WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, vec_id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
        |  FROM n JOIN q ON bucket = qb AND vec_id <> q_id),
        |ranked AS (SELECT q_id, vec_id AS neighbor, cos,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk FROM scored)
        |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_quality_filter" ->
      """WITH m AS (SELECT doc_id, length(text) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |    len(regexp_extract_all(text, '\s')) AS ws_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS n_stop,
        |    len(regexp_extract_all(text, '\b\w{1,2}\b')) AS n_short
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN (n_chars - ws_chars) / CAST(n_chars AS DOUBLE) < 0.7 THEN 'low_alpha'
        |         WHEN n_short / CAST(n_tokens AS DOUBLE) > 0.4 THEN 'high_short'
        |         WHEN n_stop / CAST(n_tokens AS DOUBLE) < 0.01 THEN 'no_stopwords'
        |         ELSE 'ok' END AS reason
        |  FROM m)
        |SELECT doc_id, reason, reason = 'ok' AS keep FROM r
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_contamination" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM w))
        |SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
        |FROM sh c JOIN sh b ON c.s = b.s
        |WHERE c.doc_id % 97 != 0 AND b.doc_id % 97 = 0
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_corpus_stats" ->
      """SELECT CAST((length(text) // 100) * 100 AS INT) AS len_bucket,
        |  COUNT(*) AS n_docs,
        |  CAST(MIN(length(text)) AS INT) AS min_len,
        |  CAST(MAX(length(text)) AS INT) AS max_len
        |FROM documents GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_prep_pipeline" ->
      """WITH m AS (SELECT doc_id, length(text) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |    len(regexp_extract_all(text, '\s')) AS ws_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS n_stop,
        |    len(regexp_extract_all(text, '\b\w{1,2}\b')) AS n_short
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN (n_chars - ws_chars) / CAST(n_chars AS DOUBLE) < 0.7 THEN 'low_alpha'
        |         WHEN n_short / CAST(n_tokens AS DOUBLE) > 0.4 THEN 'high_short'
        |         WHEN n_stop / CAST(n_tokens AS DOUBLE) < 0.01 THEN 'no_stopwords'
        |         ELSE 'ok' END AS reason
        |  FROM m),
        |k AS (SELECT d.text, d.lang FROM documents d JOIN r ON d.doc_id = r.doc_id
        |      WHERE r.reason = 'ok'),
        |c AS (SELECT min(lang) AS lang FROM k GROUP BY text)
        |SELECT lang, COUNT(*) AS n_docs FROM c GROUP BY lang
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_curation_e2e" ->
      """WITH m AS (SELECT doc_id, length(text) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |    len(regexp_extract_all(text, '\s')) AS ws_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS n_stop,
        |    len(regexp_extract_all(text, '\b\w{1,2}\b')) AS n_short
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN (n_chars - ws_chars) / CAST(n_chars AS DOUBLE) < 0.7 THEN 'low_alpha'
        |         WHEN n_short / CAST(n_tokens AS DOUBLE) > 0.4 THEN 'high_short'
        |         WHEN n_stop / CAST(n_tokens AS DOUBLE) < 0.01 THEN 'no_stopwords'
        |         ELSE 'ok' END AS reason
        |  FROM m),
        |k AS (SELECT d.doc_id, d.text, d.lang FROM documents d JOIN r ON d.doc_id = r.doc_id
        |      WHERE r.reason = 'ok'),
        |c AS (SELECT min(doc_id) AS doc_id, min(lang) AS lang FROM k GROUP BY text),
        |w AS (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS draw
        |  FROM c),
        |cap AS (SELECT doc_id, lang, draw,
        |    row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rk
        |  FROM w)
        |SELECT CASE WHEN draw % 100 < 80 THEN 'train'
        |            WHEN draw % 100 < 90 THEN 'valid' ELSE 'test' END AS split,
        |  lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM cap WHERE rk <= 100 GROUP BY 1, 2
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_chunk_cdc" ->
      s"""WITH ${prefixHashCtes("documents")},
         |nc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cuts
         |  FROM win WHERE hw % 64 = 0 GROUP BY doc_id)
         |SELECT h.doc_id, CAST(h.nb AS BIGINT) AS n_bytes,
         |  COALESCE(nc.n_cuts, 0) AS n_cuts,
         |  COALESCE(nc.n_cuts, 0) + 1 AS n_chunks
         |FROM h LEFT JOIN nc USING (doc_id) ORDER BY ALL NULLS FIRST""".stripMargin,
    // replays every cut position (window hash mod 2^64, low 6 bits
    // zero), splits the byte list at the cuts (+ trailing remainder),
    // re-hashes each chunk with the same polynomial, and groups on the
    // signed 64-bit chunk key exactly like the Spark side
    "q_dedup_chunks_cdc" ->
      s"""WITH ${prefixHashCtes("documents")},
         |bd AS (SELECT doc_id, nb, list_prepend(0, list_sort(list(pos))) AS bd0
         |  FROM win WHERE hw % 64 = 0 GROUP BY doc_id, nb),
         |bdall AS (SELECT h.doc_id, h.nb, COALESCE(bd.bd0, [0]) AS bd0
         |  FROM h LEFT JOIN bd USING (doc_id, nb)),
         |bounds AS (SELECT doc_id, nb,
         |    CASE WHEN bd0[len(bd0)] < nb THEN list_concat(bd0, [nb]) ELSE bd0 END AS bd
         |  FROM bdall),
         |spans AS (SELECT doc_id, bd[ci+1] AS a, bd[ci+2] AS b
         |  FROM bounds, unnest(range(len(bd) - 1)) AS u(ci)),
         |pa AS (SELECT s.doc_id, s.a, s.b, COALESCE(x.p, CAST(0 AS HUGEINT)) AS pa
         |  FROM spans s LEFT JOIN pre x ON x.doc_id = s.doc_id AND x.pos = s.a),
         |ch AS (SELECT p2.doc_id,
         |    (x.p - ${mulModSql("p2.pa", "pw.bpow")} + $M64) % $M64 AS hu
         |  FROM pa p2 JOIN pre x ON x.doc_id = p2.doc_id AND x.pos = p2.b
         |  JOIN pw ON pw.k = p2.b - p2.a)
         |SELECT CAST(CASE WHEN hu >= $M63 THEN hu - $M64 ELSE hu END AS BIGINT) AS chunk_key,
         |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc
         |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_fingerprint" ->
      s"""WITH ${prefixHashCtes("documents")},
         |fp AS (SELECT doc_id, nb, p AS fpu FROM pre WHERE pos = nb),
         |mn AS (SELECT doc_id, min(hw) AS mn FROM win GROUP BY doc_id),
         |mw AS (SELECT f.doc_id, f.fpu, CASE WHEN f.nb <= 32 THEN f.fpu ELSE m.mn END AS mwu
         |  FROM fp f LEFT JOIN mn m USING (doc_id))
         |SELECT doc_id,
         |  CAST(CASE WHEN fpu >= $M63 THEN fpu - $M64 ELSE fpu END AS BIGINT) AS fp,
         |  CAST(CASE WHEN mwu >= $M63 THEN mwu - $M64 ELSE mwu END AS BIGINT) AS fp_min32
         |FROM mw ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_ivf_train" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")})
         |SELECT vec_id, cid FROM fin ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_cluster_assign" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")})
         |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members, min(vec_id) AS rep_vec
         |FROM fin GROUP BY cid ORDER BY ALL NULLS FIRST""".stripMargin,
    // the Lloyd chain + per-cell counts collapsed to the one-row skew
    // summary
    "q_ivf_balance" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |cell AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM fin GROUP BY cid)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(n) AS BIGINT) AS n_vecs,
         |  CAST(MIN(n) AS BIGINT) AS min_cell,
         |  CAST(MAX(n) AS BIGINT) AS max_cell,
         |  round(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n), 6) AS imbalance,
         |  round(CAST(SUM(n * n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) * SUM(n)), 6) AS scan_frac_1probe
         |FROM cell ORDER BY ALL NULLS FIRST""".stripMargin,
    // per-dimension DECIMAL power sums over 6dp-rounded values — the
    // q_embed_outliers recipe keyed by dimension
    "q_embed_dim_variance" ->
      """WITH x AS (
        |  SELECT CAST(i - 1 AS INT) AS dim,
        |    round(CAST(embedding[i] AS DOUBLE), 6) AS x
        |  FROM embeddings, range(1, 65) r(i)),
        |s AS (
        |  SELECT dim, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s2,
        |    round(MIN(x), 6) AS min_x,
        |    round(MAX(x), 6) AS max_x
        |  FROM x GROUP BY dim)
        |SELECT dim, CAST(n AS BIGINT) AS n_vecs,
        |  round(s1 / n, 6) AS mean,
        |  round((s2 - s1 * s1 / n) / (n - 1), 6) AS variance,
        |  min_x, max_x
        |FROM s ORDER BY ALL NULLS FIRST""".stripMargin,
    // the Lloyd chain + per-vector squared distance to the final
    // centroid (rounded to 6), DECIMAL power sums, fixed double z tree
    "q_embed_outliers" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |wd AS (SELECT f.cid, f.vec_id,
         |  round(list_sum([(f.v[i] - c.cen[i]) * (f.v[i] - c.cen[i]) FOR i IN range(1, len(f.v) + 1)]), 6) AS d
         |  FROM fin f JOIN c2 c USING (cid)),
         |st AS (SELECT cid, COUNT(*) AS n,
         |  CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         |  CAST(SUM(CAST(d AS DECIMAL(18,6)) * CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS s2
         |  FROM wd GROUP BY cid),
         |ms AS (SELECT cid, n, s1 / n AS mean_d,
         |  CASE WHEN n > 1 THEN (s2 - s1 * s1 / n) / (n - 1) ELSE 0.0 END AS var_d
         |  FROM st),
         |z AS (SELECT wd.cid,
         |  CASE WHEN var_d > 0 THEN (d - mean_d) / sqrt(var_d) ELSE 0.0 END AS z
         |  FROM wd JOIN ms USING (cid)),
         |zc AS (SELECT cid,
         |  CAST(COUNT(CASE WHEN z > 2.0 THEN 1 END) AS BIGINT) AS n_outliers,
         |  round(MAX(z), 4) AS max_z FROM z GROUP BY cid)
         |SELECT m.cid, CAST(m.n AS BIGINT) AS n_vecs,
         |  round(m.mean_d, 6) AS mean_dist,
         |  round(CASE WHEN m.var_d > 0 THEN sqrt(m.var_d) ELSE 0.0 END, 6) AS std_dist,
         |  zc.n_outliers, zc.max_z
         |FROM ms m JOIN zc USING (cid) ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_knn_ivf_trained Lloyd chain + doc->source metadata join +
    // per-cluster share/dominance windows
    "q_cluster_source_mix" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |cell AS (
         |  SELECT f.cid, d.source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM fin f JOIN documents d ON f.vec_id = d.doc_id
         |  GROUP BY 1, 2)
         |SELECT cid, source, n_docs,
         |  round(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY cid), 6) AS share,
         |  row_number() OVER (PARTITION BY cid ORDER BY n_docs DESC, source) = 1 AS is_dominant
         |FROM cell ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_ivf_trained" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |n AS (SELECT vec_id, v, cid, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM fin),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cid AS qb FROM n WHERE vec_id < 10),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
         |  FROM n JOIN q ON cid = qb AND vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id AS neighbor, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk FROM scored)
         |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_ivf_probed" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |n AS (SELECT vec_id, v, cid, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM fin),
         |q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |probes AS (
         |  SELECT q_id, qv, qn, cid AS qb FROM (
         |    SELECT q.q_id, q.qv, q.qn, s.cid,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum([(q.qv[d] - s.cen[d]) * (q.qv[d] - s.cen[d]) FOR d IN range(1, len(q.qv) + 1)]), s.cid) AS rn
         |    FROM q0 q, c2 s) WHERE rn <= 2),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
         |  FROM n JOIN probes ON cid = qb AND vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id AS neighbor, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk FROM scored)
         |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // both arms replayed: the IVF chain (identical to q_knn_ivf_probed)
    // plus the brute-force arm over the same normalized frame, then the
    // exact integer recall join
    "q_ann_recall" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |n AS (SELECT vec_id, v, cid, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM fin),
         |q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |probes AS (
         |  SELECT q_id, qv, qn, cid AS qb FROM (
         |    SELECT q.q_id, q.qv, q.qn, s.cid,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum([(q.qv[d] - s.cen[d]) * (q.qv[d] - s.cen[d]) FOR d IN range(1, len(q.qv) + 1)]), s.cid) AS rn
         |    FROM q0 q, c2 s) WHERE rn <= 2),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
         |  FROM n JOIN probes ON cid = qb AND vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id AS neighbor,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM scored),
         |bscored AS (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
         |  FROM n JOIN q0 ON vec_id <> q_id),
         |branked AS (SELECT q_id, vec_id AS neighbor,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM bscored),
         |it AS (SELECT q_id, neighbor FROM ranked WHERE rk <= 5),
         |bt AS (SELECT q_id, neighbor FROM branked WHERE rk <= 5),
         |m AS (SELECT bt.q_id AS q_id, COUNT(*) AS nm
         |      FROM bt JOIN it ON bt.q_id = it.q_id AND bt.neighbor = it.neighbor
         |      GROUP BY bt.q_id)
         |SELECT q0.q_id, CAST(coalesce(m.nm, 0) AS BIGINT) AS n_match,
         |  CAST(coalesce(m.nm, 0) AS DOUBLE) / 5 AS recall
         |FROM q0 LEFT JOIN m ON q0.q_id = m.q_id
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_ann_recall chain with the probe cut parameterized: one
    // shared exact arm (bt/bk), three probed arms, 3-row union
    "q_ann_recall_curve" -> {
      val arms = Seq(1, 2, 4).map { np =>
        s"""p$np AS (
           |  SELECT q_id, qv, qn, cid AS qb FROM (
           |    SELECT q.q_id, q.qv, q.qn, s.cid,
           |      row_number() OVER (PARTITION BY q.q_id ORDER BY
           |        list_sum([(q.qv[d] - s.cen[d]) * (q.qv[d] - s.cen[d]) FOR d IN range(1, len(q.qv) + 1)]), s.cid) AS rn
           |    FROM q0 q, c2 s) WHERE rn <= $np),
           |s$np AS (
           |  SELECT q_id, vec_id,
           |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
           |  FROM n JOIN p$np ON cid = qb AND vec_id <> q_id),
           |r$np AS (SELECT q_id, vec_id AS neighbor,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM s$np),
           |i$np AS (SELECT q_id, neighbor FROM r$np WHERE rk <= 5),
           |m$np AS (SELECT bt.q_id AS q_id, COUNT(*) AS nm
           |      FROM bt JOIN i$np ON bt.q_id = i$np.q_id AND bt.neighbor = i$np.neighbor
           |      GROUP BY bt.q_id),
           |g$np AS (SELECT $np AS nprobe, COUNT(*) AS n_queries,
           |  SUM(COALESCE(m$np.nm, 0)) AS n_match, SUM(bk.k) AS n_true
           |  FROM bk LEFT JOIN m$np USING (q_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |n AS (SELECT vec_id, v, cid, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM fin),
         |q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |bscored AS (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
         |  FROM n JOIN q0 ON vec_id <> q_id),
         |branked AS (SELECT q_id, vec_id AS neighbor,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM bscored),
         |bt AS (SELECT q_id, neighbor FROM branked WHERE rk <= 5),
         |bk AS (SELECT q_id, COUNT(*) AS k FROM bt GROUP BY q_id),
         |$arms
         |SELECT CAST(nprobe AS INT) AS nprobe, CAST(n_queries AS BIGINT) AS n_queries,
         |  CAST(n_match AS BIGINT) AS n_match, CAST(n_true AS BIGINT) AS n_true,
         |  round(CAST(n_match AS DOUBLE) / n_true, 6) AS recall
         |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g4)
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    "q_knn_ivf_sampled" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |vt AS (SELECT vec_id, v FROM v WHERE vec_id % 4 = 0),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM vt ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("vt", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("vt", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |n AS (SELECT vec_id, v, cid, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM fin),
         |q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |probes AS (
         |  SELECT q_id, qv, qn, cid AS qb FROM (
         |    SELECT q.q_id, q.qv, q.qn, s.cid,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum([(q.qv[d] - s.cen[d]) * (q.qv[d] - s.cen[d]) FOR d IN range(1, len(q.qv) + 1)]), s.cid) AS rn
         |    FROM q0 q, c2 s) WHERE rn <= 2),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
         |  FROM n JOIN probes ON cid = qb AND vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id AS neighbor, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk FROM scored)
         |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_pq_encode" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${pqEncCtes()}
         |SELECT vec_id, c0, c1, c2, c3 FROM enc ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_pq_adc" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${pqEncCtes()},
         |q0 AS (SELECT vec_id AS q_id, v FROM v WHERE vec_id < 10),
         |${(0 until 4).map { j =>
             val a = j * 16 + 1
             s"""lut_$j AS (SELECT q.q_id, b.code,
                |    list_sum([(q.v[$a + d - 1] - b.cen[d]) * (q.v[$a + d - 1] - b.cen[d]) FOR d IN range(1, len(b.cen) + 1)]) AS dd
                |  FROM q0 q, cb_$j b)""".stripMargin
           }.mkString(",\n")},
         |scored AS (SELECT l0.q_id, e.vec_id,
         |    round(((l0.dd + l1.dd) + l2.dd) + l3.dd, 4) AS adist
         |  FROM enc e
         |  JOIN lut_0 l0 ON l0.code = e.c0
         |  JOIN lut_1 l1 ON l1.code = e.c1 AND l1.q_id = l0.q_id
         |  JOIN lut_2 l2 ON l2.code = e.c2 AND l2.q_id = l0.q_id
         |  JOIN lut_3 l3 ON l3.code = e.c3 AND l3.q_id = l0.q_id
         |  WHERE e.vec_id <> l0.q_id),
         |ranked AS (SELECT q_id, vec_id AS neighbor, adist,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS INT) AS rk
         |  FROM scored)
         |SELECT q_id, neighbor, adist, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_pq_refine" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${pqEncCtes()},
         |q0 AS (SELECT vec_id AS q_id, v FROM v WHERE vec_id < 10),
         |${(0 until 4).map { j =>
             val a = j * 16 + 1
             s"""lut_$j AS (SELECT q.q_id, b.code,
                |    list_sum([(q.v[$a + d - 1] - b.cen[d]) * (q.v[$a + d - 1] - b.cen[d]) FOR d IN range(1, len(b.cen) + 1)]) AS dd
                |  FROM q0 q, cb_$j b)""".stripMargin
           }.mkString(",\n")},
         |scored AS (SELECT l0.q_id, e.vec_id,
         |    round(((l0.dd + l1.dd) + l2.dd) + l3.dd, 4) AS adist
         |  FROM enc e
         |  JOIN lut_0 l0 ON l0.code = e.c0
         |  JOIN lut_1 l1 ON l1.code = e.c1 AND l1.q_id = l0.q_id
         |  JOIN lut_2 l2 ON l2.code = e.c2 AND l2.q_id = l0.q_id
         |  JOIN lut_3 l3 ON l3.code = e.c3 AND l3.q_id = l0.q_id
         |  WHERE e.vec_id <> l0.q_id),
         |cand AS (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn FROM scored),
         |ex AS (SELECT c.q_id, c.vec_id,
         |    round(list_sum([(qv.v[d] - xv.v[d]) * (qv.v[d] - xv.v[d]) FOR d IN range(1, len(qv.v) + 1)]), 4) AS dist
         |  FROM cand c JOIN v qv ON qv.vec_id = c.q_id JOIN v xv ON xv.vec_id = c.vec_id
         |  WHERE c.rn <= 15),
         |ranked AS (SELECT q_id, vec_id AS neighbor, dist,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS INT) AS rk FROM ex)
         |SELECT q_id, neighbor, dist, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_ivfpq" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |${pqEncCtes()},
         |q0 AS (SELECT vec_id AS q_id, v FROM v WHERE vec_id < 10),
         |probes AS (
         |  SELECT q_id, cid AS qb FROM (
         |    SELECT q.q_id, s.cid,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum([(q.v[d] - s.cen[d]) * (q.v[d] - s.cen[d]) FOR d IN range(1, len(q.v) + 1)]), s.cid) AS rn
         |    FROM q0 q, c2 s) WHERE rn <= 2),
         |${(0 until 4).map { j =>
             val a = j * 16 + 1
             s"""lut_$j AS (SELECT q.q_id, b.code,
                |    list_sum([(q.v[$a + d - 1] - b.cen[d]) * (q.v[$a + d - 1] - b.cen[d]) FOR d IN range(1, len(b.cen) + 1)]) AS dd
                |  FROM q0 q, cb_$j b)""".stripMargin
           }.mkString(",\n")},
         |scored AS (SELECT p.q_id, e.vec_id,
         |    round(((l0.dd + l1.dd) + l2.dd) + l3.dd, 4) AS adist
         |  FROM enc e
         |  JOIN fin f USING (vec_id)
         |  JOIN probes p ON f.cid = p.qb AND e.vec_id <> p.q_id
         |  JOIN lut_0 l0 ON l0.q_id = p.q_id AND l0.code = e.c0
         |  JOIN lut_1 l1 ON l1.q_id = p.q_id AND l1.code = e.c1
         |  JOIN lut_2 l2 ON l2.q_id = p.q_id AND l2.code = e.c2
         |  JOIN lut_3 l3 ON l3.q_id = p.q_id AND l3.code = e.c3),
         |ranked AS (SELECT q_id, vec_id AS neighbor, adist,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS INT) AS rk
         |  FROM scored)
         |SELECT q_id, neighbor, adist, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_ivfpq_residual" ->
      s"""WITH $residualScoredCtes,
         |ranked AS (SELECT q_id, vec_id AS neighbor, adist,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS INT) AS rk
         |  FROM scored)
         |SELECT q_id, neighbor, adist, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_ivfpq_refine" ->
      s"""WITH $residualScoredCtes,
         |cand AS (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn FROM scored),
         |ex AS (SELECT c.q_id, c.vec_id,
         |    round(list_sum([(qv.v[d] - xv.v[d]) * (qv.v[d] - xv.v[d]) FOR d IN range(1, len(qv.v) + 1)]), 4) AS dist
         |  FROM cand c JOIN v qv ON qv.vec_id = c.q_id JOIN v xv ON xv.vec_id = c.vec_id
         |  WHERE c.rn <= 15),
         |ranked AS (SELECT q_id, vec_id AS neighbor, dist,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS INT) AS rk FROM ex)
         |SELECT q_id, neighbor, dist, rk FROM ranked WHERE rk <= 5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_vocab" ->
      """SELECT w, tf, df FROM (
        |  SELECT w, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE w != '' GROUP BY w
        |  ORDER BY tf DESC, w LIMIT 100)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_bpe_train" -> bpeOracle(5),
    "q_bpe_tokenize" -> bpeTokenizeOracle(5),
    "q_bpe_fertility" -> bpeFertilityOracle(5),
    "q_pack_bpe" -> bpePackOracle(5),
    "q_ngram_counts" ->
      """SELECT bigram, tf FROM (
        |  SELECT bigram, COUNT(*) AS tf FROM (
        |    SELECT ws[i] || ' ' || ws[i + 1] AS bigram FROM (
        |      SELECT list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
        |      FROM documents), unnest(range(1, len(ws))) AS u(i))
        |  GROUP BY bigram
        |  ORDER BY tf DESC, bigram LIMIT 100)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mix_sources" ->
      """WITH w AS (
        |  SELECT source, doc_id,
        |    CASE WHEN source = 'src0' THEN 2
        |         WHEN source IN ('src1', 'src2') THEN 0 ELSE 1 END
        |    + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) <
        |        CASE WHEN source = 'src0' THEN 134217728
        |             WHEN source = 'src1' THEN 67108864 ELSE 0 END
        |      THEN 1 ELSE 0 END AS n_copies
        |  FROM documents),
        |m AS (SELECT source, doc_id, unnest(range(1, n_copies + 1)) AS copy
        |      FROM w WHERE n_copies > 0)
        |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM m GROUP BY source ORDER BY ALL NULLS FIRST""".stripMargin,
    // α-temperature mixture: pow rounded to 12dp then DECIMAL-routed for
    // the order-free normalizer; all later ratios divide identical doubles
    "q_mix_temperature" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |tt AS (SELECT SUM(n_docs) AS total FROM c),
        |s AS (SELECT source, n_docs, total,
        |    CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS praw,
        |    CAST(round(pow(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 0.3), 12) AS DECIMAL(20,12)) AS pa
        |  FROM c, tt),
        |z AS (SELECT SUM(pa) AS z FROM s)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  round(praw, 6) AS p,
        |  round(CAST(pa AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS q_share,
        |  round(round(CAST(pa AS DOUBLE) / CAST(z.z AS DOUBLE), 6) / round(praw, 6), 6) AS up_factor,
        |  CAST(floor(round(CAST(pa AS DOUBLE) / CAST(z.z AS DOUBLE), 6) * total) AS BIGINT) AS n_target
        |FROM s, z ORDER BY ALL NULLS FIRST""".stripMargin,
    // 64-word windows at stride 48 over the whitespace word list; the
    // 0-based chunk index is start // stride (starts are the stride
    // multiples below n, exactly posexplode's position)
    "q_chunk_docs" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |d AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) > 0),
        |c AS (SELECT doc_id, CAST(t.s // 48 AS INT) AS chunk_idx,
        |    w[CAST(t.s AS BIGINT) + 1 : CAST(t.s AS BIGINT) + 64] AS cw
        |  FROM d, unnest(range(0, n, 48)) AS t(s))
        |SELECT doc_id, chunk_idx, CAST(len(cw) AS INT) AS n_words,
        |  CAST('0x' || substr(md5(array_to_string(cw, ' ')), 1, 15) AS BIGINT) AS chunk_key
        |FROM c ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_ivf_train Lloyd chain + the per-cell capped md5-draw rank
    "q_mix_cluster_capped" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |d AS (SELECT cid, vec_id,
         |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) AS draw
         |  FROM fin),
         |k AS (SELECT cid, vec_id FROM (
         |    SELECT cid, vec_id,
         |      row_number() OVER (PARTITION BY cid ORDER BY draw, vec_id) AS rn FROM d)
         |  WHERE rn <= 50),
         |kk AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    CAST(SUM(vec_id) AS BIGINT) AS kept_id_sum FROM k GROUP BY 1),
         |c AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM d GROUP BY 1)
         |SELECT cid, n_members, n_kept, kept_id_sum FROM c JOIN kk USING (cid)
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the per-source corpus report: quality CASE + md5-distinct dup count
    "q_datasheet" ->
      """WITH m AS (SELECT doc_id, source, lang, n_chars, md5(text) AS h,
        |    length(text) AS nc,
        |    CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |    len(regexp_extract_all(text, '\s')) AS ws_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS n_stop,
        |    len(regexp_extract_all(text, '\b\w{1,2}\b')) AS n_short
        |  FROM documents),
        |r AS (SELECT doc_id, source, lang, n_chars, h,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN (nc - ws_chars) / CAST(nc AS DOUBLE) < 0.7 THEN 'low_alpha'
        |         WHEN n_short / CAST(n_tokens AS DOUBLE) > 0.4 THEN 'high_short'
        |         WHEN n_stop / CAST(n_tokens AS DOUBLE) < 0.01 THEN 'no_stopwords'
        |         ELSE 'ok' END AS reason
        |  FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |  CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS mean_chars,
        |  round(CAST(SUM(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS pct_ok
        |FROM r GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_chunk_docs chunk keys, grouped: chunks in more than one doc
    "q_dedup_chunks" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |d AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) > 0),
        |c AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(
        |      w[CAST(t.s AS BIGINT) + 1 : CAST(t.s AS BIGINT) + 64], ' ')), 1, 15) AS BIGINT) AS chunk_key
        |  FROM d, unnest(range(0, n, 48)) AS t(s))
        |SELECT chunk_key, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc
        |FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // per-language top-cap by the md5 draw (lowest 100 per lang, ties by
    // doc_id) joined to the full per-language candidate counts
    "q_mix_lang_capped" ->
      """WITH d AS (SELECT lang, doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS draw
        |  FROM documents),
        |k AS (SELECT lang, doc_id FROM (
        |    SELECT lang, doc_id,
        |      row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rn FROM d)
        |  WHERE rn <= 100),
        |kk AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum FROM k GROUP BY 1),
        |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY 1)
        |SELECT lang, n_docs, n_kept, kept_id_sum FROM c JOIN kk USING (lang)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_quality_filter reason CASE + the 28-bit md5 draw (keep all
    // 'ok', salvage 25% of each rejected bucket), audited per reason
    // with a kept-id checksum so the draw itself is value-checked
    "q_sample_by_quality" ->
      """WITH m AS (SELECT doc_id, length(text) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |    len(regexp_extract_all(text, '\s')) AS ws_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS n_stop,
        |    len(regexp_extract_all(text, '\b\w{1,2}\b')) AS n_short
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN (n_chars - ws_chars) / CAST(n_chars AS DOUBLE) < 0.7 THEN 'low_alpha'
        |         WHEN n_short / CAST(n_tokens AS DOUBLE) > 0.4 THEN 'high_short'
        |         WHEN n_stop / CAST(n_tokens AS DOUBLE) < 0.01 THEN 'no_stopwords'
        |         ELSE 'ok' END AS reason
        |  FROM m),
        |k AS (SELECT doc_id, reason,
        |    reason = 'ok' OR
        |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) < 67108864 AS keep
        |  FROM r)
        |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        |FROM k GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_rep_signals" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g2 AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
        |       FROM ws, unnest(range(1, len(w))) AS u(i)),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS tf FROM g2 GROUP BY doc_id, g),
        |a2 AS (SELECT doc_id, SUM(tf) AS n, MAX(tf) AS mx,
        |         SUM(CASE WHEN tf >= 2 THEN tf ELSE 0 END) AS dup
        |       FROM c2 GROUP BY doc_id),
        |g3 AS (SELECT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
        |       FROM ws, unnest(range(1, len(w) - 1)) AS u(i)),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS tf FROM g3 GROUP BY doc_id, g),
        |a3 AS (SELECT doc_id, SUM(tf) AS n, MAX(tf) AS mx,
        |         SUM(CASE WHEN tf >= 2 THEN tf ELSE 0 END) AS dup
        |       FROM c3 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a2.n, 0) AS INT) AS n_2grams,
        |  CASE WHEN a2.n > 0 THEN round(CAST(a2.mx AS DOUBLE) / a2.n, 6) END AS top2_frac,
        |  CASE WHEN a2.n > 0 THEN round(CAST(a2.dup AS DOUBLE) / a2.n, 6) END AS dup2_frac,
        |  CAST(coalesce(a3.n, 0) AS INT) AS n_3grams,
        |  CASE WHEN a3.n > 0 THEN round(CAST(a3.mx AS DOUBLE) / a3.n, 6) END AS top3_frac,
        |  CASE WHEN a3.n > 0 THEN round(CAST(a3.dup AS DOUBLE) / a3.n, 6) END AS dup3_frac
        |FROM documents d LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_repetition" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
        |  FROM ws, unnest(range(1, len(w))) AS u(i)),
        |cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_bigrams,
        |               CAST(max(c) AS INT) AS max_tf
        |        FROM cnt GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.max_tf, 0) AS max_tf,
        |  CASE WHEN a.n_bigrams > 0
        |       THEN round(a.max_tf / CAST(a.n_bigrams AS DOUBLE), 6) END AS rep_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // same chunk layout, cosine rounding, decimal-routed per-doc sum
    "q_maxsim" ->
      """WITH v AS (
        |  SELECT vec_id // 5 AS doc, vec_id % 5 AS slot,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT doc, slot, v,
        |        list_sum(list_transform(v, x -> x * x)) AS n2 FROM v),
        |q AS (SELECT * FROM n WHERE doc < 3),
        |c AS (SELECT * FROM n WHERE doc >= 3),
        |p AS (SELECT q.doc AS q_doc, q.slot AS q_slot, c.doc,
        |        round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
        |          / (sqrt(c.n2) * sqrt(q.n2)), 6) AS cos
        |      FROM q, c),
        |m AS (SELECT q_doc, q_slot, doc, MAX(cos) AS mx FROM p GROUP BY 1, 2, 3),
        |s AS (SELECT q_doc, doc,
        |        CAST(SUM(CAST(mx AS DECIMAL(18,6))) AS DOUBLE) AS maxsim,
        |        CAST(COUNT(*) AS BIGINT) AS n_qtok
        |      FROM m GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY q_doc ORDER BY maxsim DESC, doc) AS INT) AS rk FROM s)
        |SELECT q_doc, doc, maxsim, n_qtok, rk FROM r WHERE rk <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // same integer threshold line over the doc_id-ordered cumulative sum
    "q_pps_sample" ->
      """WITH wts AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |        CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cw FROM wts),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wts),
        |th AS (SELECT CAST(j AS INT) AS j, ((2 * j + 1) * tw) // 100 AS t
        |       FROM range(0, 50) r(j), tot)
        |SELECT c.doc_id, c.w, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |  CAST(MIN(j) AS INT) AS first_draw
        |FROM c JOIN th ON th.t > c.cw - c.w AND th.t <= c.cw
        |GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the token-count scan × 3-row budget frame, truncation arithmetic
    // in integers
    "q_context_truncation" ->
      """WITH t AS (
        |  SELECT CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT unnest([512, 2048, 8192]) AS budget)
        |SELECT CAST(budget AS BIGINT) AS budget,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(CASE WHEN n > budget THEN 1 END) AS BIGINT) AS n_docs_truncated,
        |  CAST(COALESCE(SUM(CASE WHEN n > budget THEN n - budget ELSE 0 END), 0) AS BIGINT) AS tokens_lost,
        |  CAST((1000000 * COALESCE(SUM(CASE WHEN n > budget THEN n - budget ELSE 0 END), 0)) // SUM(n) AS BIGINT) AS loss_ppm
        |FROM t, b GROUP BY budget ORDER BY ALL NULLS FIRST""".stripMargin,
    // the df chain + exact pair-count arithmetic, capped and not
    "q_pair_volume_forecast" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |      WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
        |d AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY h),
        |dd AS (SELECT df, LEAST(df, 64) AS cdf FROM d)
        |SELECT CAST(length(bin(df)) AS INT) AS df_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM((df * (df - 1)) // 2) AS BIGINT) AS pairs_uncapped,
        |  CAST(SUM((cdf * (cdf - 1)) // 2) AS BIGINT) AS pairs_capped
        |FROM dd GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the pack chain collapsed to the one-row utilization summary
    "q_pack_efficiency" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, sum(n) OVER (
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |p AS (SELECT (cum - n) // 2048 AS pack_id, CAST(SUM(n) AS BIGINT) AS n_tokens
        |      FROM c GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_packs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(CASE WHEN n_tokens > 2048 THEN 1 END) AS BIGINT) AS n_overflow,
        |  CAST(MAX(n_tokens) AS BIGINT) AS max_fill,
        |  CAST(MIN(n_tokens) AS BIGINT) AS min_fill,
        |  CAST(SUM(CASE WHEN n_tokens < 2048 THEN 2048 - n_tokens ELSE 0 END) AS BIGINT) AS padding_tokens,
        |  CAST((1000000 * SUM(n_tokens)) // (COUNT(*) * 2048) AS BIGINT) AS fill_ppm
        |FROM p ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, sum(n) OVER (
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT CAST((cum - n) // 2048 AS BIGINT) AS pack_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE w != ''),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
        |wdf AS (SELECT doc_id, w, tf, COUNT(*) OVER (PARTITION BY w) AS df FROM tf),
        |s AS (SELECT doc_id, w, CAST(tf AS BIGINT) *
        |        CAST(round(ln((SELECT COUNT(*) FROM documents) / CAST(df AS DOUBLE)) * 1e6)
        |             AS BIGINT) AS tfidf_micro
        |      FROM wdf),
        |r AS (SELECT doc_id, w, tfidf_micro,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf_micro DESC, w) AS rk
        |      FROM s)
        |SELECT doc_id, w, tfidf_micro, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_skipgram_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, i AS pos, ws[i + 1] AS w FROM (
        |    SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
        |    FROM documents), unnest(range(0, len(ws))) AS u(i)),
        |fwd AS (SELECT doc_id, pos, w,
        |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS c1,
        |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS c2
        |  FROM toks),
        |pairs AS (
        |  SELECT w, c1 AS c FROM fwd WHERE c1 IS NOT NULL
        |  UNION ALL
        |  SELECT w, c2 AS c FROM fwd WHERE c2 IS NOT NULL),
        |sym AS (SELECT w, c FROM pairs UNION ALL SELECT c AS w, w AS c FROM pairs)
        |SELECT w, c, n_pairs FROM (
        |  SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM sym GROUP BY w, c
        |  ORDER BY n_pairs DESC, w, c LIMIT 100)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH st AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(28,10))) AS s1,
        |    SUM(CAST(CAST(value AS DECIMAL(28,10)) * CAST(value AS DECIMAL(28,10))
        |        AS DECIMAL(38,10))) AS s2
        |  FROM events GROUP BY user_id),
        |m AS (SELECT user_id, n, CAST(s1 AS DOUBLE) / n AS mean,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n) AS sd
        |  FROM st)
        |SELECT e.user_id, CAST(max(m.n) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN e.value > m.mean + 3.0e0 * m.sd THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM events e JOIN m ON e.user_id = m.user_id
        |GROUP BY e.user_id ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_bm25" ->
      """WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE w != ''),
        |lens AS (SELECT doc_id, COUNT(*) AS len FROM words GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, CAST(SUM(len) AS BIGINT) AS tl FROM lens),
        |tfq AS (SELECT doc_id, w, COUNT(*) AS tf FROM words
        |        WHERE w IN ('hash', 'join', 'scan') GROUP BY 1, 2),
        |dfq AS (SELECT w, COUNT(*) AS df FROM tfq GROUP BY w),
        |s AS (SELECT t.doc_id,
        |    CAST(round(
        |      ln((CAST(nd - df AS DOUBLE) + 0.5e0) / (CAST(df AS DOUBLE) + 0.5e0))
        |      * ((CAST(tf AS DOUBLE) * 2.2e0) /
        |         (CAST(tf AS DOUBLE) + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0
        |           * (CAST(len AS DOUBLE) / (CAST(tl AS DOUBLE) / nd)))))
        |      * 1000000.0e0) AS BIGINT) AS term_micro
        |  FROM tfq t JOIN dfq USING (w) JOIN lens USING (doc_id), stats)
        |SELECT doc_id, bm25_micro, n_terms FROM (
        |  SELECT doc_id, CAST(SUM(term_micro) AS BIGINT) AS bm25_micro,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM s GROUP BY doc_id
        |  ORDER BY bm25_micro DESC, doc_id LIMIT 10)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, $BpeRegexSql)) AS INT) AS n_bpe_tokens,
         |  round(CAST(len(regexp_extract_all(text, $BpeRegexSql)) AS DOUBLE) /
         |    len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')), 6) AS bpe_per_ws
         |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_resize" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |wh AS (SELECT doc_id, n % 640 + 1 AS w, (n * 31) % 480 + 1 AS h FROM d)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(greatest(w * 224 // greatest(w, h), 1) AS INT) AS out_w,
        |  CAST(greatest(h * 224 // greatest(w, h), 1) AS INT) AS out_h
        |FROM wh ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_frames" ->
      s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents),
         |bytes AS (SELECT doc_id, n, [CAST('0x' || substr(hx, 2*i+1, 2) AS BIGINT) FOR i IN range(n)] AS bs FROM d),
         |f AS (SELECT doc_id, bs, i AS frame_no, i * 128 AS off
         |      FROM bytes, unnest(range((n - 64) // 128 + 1)) AS u(i)
         |      WHERE n >= 64),
         |fp AS (SELECT doc_id, frame_no, off,
         |  list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(bs[off + 1 : off + 64], b -> CAST(b AS HUGEINT))),
         |              (a, b) -> (a * 1000003 + b) % $M64) AS fpu
         |  FROM f)
         |SELECT doc_id, CAST(frame_no AS INT) AS frame_no, CAST(off AS INT) AS "offset",
         |  CAST(CASE WHEN fpu >= $M63 THEN fpu - $M64 ELSE fpu END AS BIGINT) AS frame_fp
         |FROM fp ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_frame_dedup" ->
      s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents),
         |bytes AS (SELECT doc_id, n, [CAST('0x' || substr(hx, 2*i+1, 2) AS BIGINT) FOR i IN range(n)] AS bs FROM d),
         |f AS (SELECT doc_id, bs, i * 128 AS off
         |      FROM bytes, unnest(range((n - 64) // 128 + 1)) AS u(i)
         |      WHERE n >= 64),
         |fp AS (SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(bs[off + 1 : off + 64], b -> CAST(b AS HUGEINT))),
         |              (a, b) -> (a * 1000003 + b) % $M64) AS fpu
         |  FROM f),
         |sg AS (SELECT doc_id,
         |  CAST(CASE WHEN fpu >= $M63 THEN fpu - $M64 ELSE fpu END AS BIGINT) AS frame_fp FROM fp)
         |SELECT frame_fp, CAST(COUNT(*) AS BIGINT) AS n_frames,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
         |FROM sg GROUP BY frame_fp HAVING COUNT(*) > 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_mm_frames fingerprint chain + doc-partitioned lag/running-sum
    // islands (fp equality is fpu equality — no signed conversion needed)
    "q_mm_scene_cut" ->
      s"""WITH d AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents),
         |bytes AS (SELECT doc_id, n, [CAST('0x' || substr(hx, 2*i+1, 2) AS BIGINT) FOR i IN range(n)] AS bs FROM d),
         |f AS (SELECT doc_id, bs, i AS frame_no, i * 128 AS off
         |      FROM bytes, unnest(range((n - 64) // 128 + 1)) AS u(i)
         |      WHERE n >= 64),
         |fp AS (SELECT doc_id, frame_no,
         |  list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(bs[off + 1 : off + 64], b -> CAST(b AS HUGEINT))),
         |              (a, b) -> (a * 1000003 + b) % $M64) AS fpu
         |  FROM f),
         |m AS (SELECT doc_id, frame_no,
         |  CASE WHEN lag(fpu) OVER (PARTITION BY doc_id ORDER BY frame_no) IS NULL
         |         OR fpu <> lag(fpu) OVER (PARTITION BY doc_id ORDER BY frame_no)
         |       THEN 1 ELSE 0 END AS chg FROM fp),
         |sgm AS (SELECT doc_id,
         |  SUM(chg) OVER (PARTITION BY doc_id ORDER BY frame_no
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM m),
         |r AS (SELECT doc_id, seg, COUNT(*) AS run FROM sgm GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_frames,
         |  CAST(COUNT(*) AS BIGINT) AS n_segments,
         |  CAST(MAX(run) AS BIGINT) AS max_static_run
         |FROM r GROUP BY doc_id ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_features" ->
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
        |bins AS (SELECT doc_id, nb,
        |  [(strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1) // 2 FOR i IN range(nb)] AS bn FROM h)
        |SELECT doc_id, CAST(nb AS INT) AS n_bytes,
        |  array_to_string([len([x FOR x IN bn IF x = b]) FOR b IN range(8)], ',') AS hist
        |FROM bins ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
        |FROM documents GROUP BY md5(text) ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_incremental" ->
      """WITH k AS (
        |  SELECT doc_id, md5(list_aggr(list_sort(list_distinct(list_filter(
        |    string_split_regex(text, '\s+'), x -> x != ''))), 'string_agg', ' ')) AS h
        |  FROM documents)
        |SELECT doc_id, h FROM k WHERE doc_id % 2 = 1
        |AND h NOT IN (SELECT h FROM k WHERE doc_id % 2 = 0)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_embed_quantize" ->
      """WITH dims AS (SELECT vec_id, d, v[d] AS x FROM (
        |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |  unnest(range(1, len(v) + 1)) AS u(d)),
        |stats AS (SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d),
        |j AS (SELECT vec_id, x, mn, mx,
        |    CASE WHEN mx > mn THEN CAST(floor((x - mn) / (mx - mn) * 255) AS INT) ELSE 0 END AS q
        |  FROM dims JOIN stats USING (d)),
        |r AS (SELECT vec_id, x, q, mn + (q + 0.5) * (mx - mn) / 256 AS deq FROM j)
        |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims, CAST(SUM(q) AS BIGINT) AS sum_q,
        |  CAST(SUM(CAST((x - deq) * (x - deq) AS DECIMAL(25,12))) AS DOUBLE) AS sq_err
        |FROM r GROUP BY vec_id ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_lines" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) > 0),
        |segs AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
        |  SELECT doc_id, unnest([{'pos': i, 'seg': array_to_string(w[i*10+1:i*10+10], ' ')}
        |    for i in range(0, CAST(ceil(len(w) / 10.0) AS INT))]) AS u FROM w)),
        |r AS (SELECT doc_id, pos, seg,
        |  row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn FROM segs)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(array_to_string(list(seg ORDER BY pos) FILTER (WHERE rn = 1), ' '), '') AS text_deduped
        |FROM r GROUP BY doc_id ORDER BY ALL NULLS FIRST""".stripMargin,
    // exact heavy hitters (the sketch is Spark-side machinery only: the
    // verified output is plain exact counts, so the oracle is too)
    "q_heavy_hitters" ->
      """WITH w AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) > 0),
        |seg AS (SELECT unnest([array_to_string(w[i*10+1:i*10+10], ' ')
        |  for i in range(0, CAST(ceil(len(w) / 10.0) AS INT))]) AS seg FROM w),
        |c AS (SELECT seg, COUNT(*) AS cnt FROM seg GROUP BY seg),
        |t AS (SELECT SUM(cnt) AS total FROM c)
        |SELECT seg, CAST(cnt AS BIGINT) AS cnt,
        |  round(CAST(cnt AS DOUBLE) / total, 6) AS share
        |FROM c, t WHERE cnt * 1000 >= total ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM w)),
        |bad AS (SELECT c.doc_id FROM sh c JOIN sh b ON c.s = b.s
        |  WHERE c.doc_id % 97 != 0 AND b.doc_id % 97 = 0
        |  GROUP BY c.doc_id, b.doc_id HAVING COUNT(*) >= 2)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 97 != 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_split_train_test" ->
      """WITH d AS (SELECT source, n_chars,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS draw
        |  FROM documents)
        |SELECT CASE WHEN draw < 80 THEN 'train' WHEN draw < 90 THEN 'valid' ELSE 'test' END AS split,
        |  source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the same md5 split + token-stream × train-vocab left join
    "q_vocab_oov" ->
      """WITH d AS (SELECT doc_id, text,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS draw
        |  FROM documents),
        |tk AS (SELECT CASE WHEN draw < 80 THEN 'train' WHEN draw < 90 THEN 'valid'
        |         ELSE 'test' END AS split,
        |  unnest(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS w
        |  FROM d),
        |v AS (SELECT DISTINCT w FROM tk WHERE split = 'train'),
        |h AS (SELECT tk.split, tk.w, v.w IS NOT NULL AS iv
        |      FROM tk LEFT JOIN v ON tk.w = v.w
        |      WHERE tk.split <> 'train')
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(CASE WHEN NOT iv THEN 1 END) AS BIGINT) AS n_oov,
        |  CAST(COUNT(DISTINCT CASE WHEN NOT iv THEN w END) AS BIGINT) AS n_oov_types,
        |  round(CAST(COUNT(CASE WHEN NOT iv THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS oov_rate
        |FROM h GROUP BY split ORDER BY ALL NULLS FIRST""".stripMargin,
    // exact tier: text-family member counts per split, pair mass across
    // split pairs; near tier: the canonical jaccard pairs crossing the
    // same md5 split rule
    "q_split_leakage" ->
      """WITH sp AS (
        |  SELECT doc_id, text,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS sp
        |  FROM documents),
        |fam AS (SELECT md5(text) AS h, sp, COUNT(*) AS n FROM sp GROUP BY 1, 2),
        |exact AS (
        |  SELECT 'exact' AS leak_kind, a.sp AS split_a, b.sp AS split_b,
        |    CAST(SUM(a.n * b.n) AS BIGINT) AS n_pairs,
        |    CAST(1.0 AS DOUBLE) AS mean_jaccard
        |  FROM fam a JOIN fam b ON a.h = b.h AND a.sp < b.sp
        |  GROUP BY 2, 3),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |near AS (
        |  SELECT LEAST(sa.sp, sb.sp) AS split_a, GREATEST(sa.sp, sb.sp) AS split_b, jaccard
        |  FROM jp JOIN sp sa ON jp.doc_a = sa.doc_id JOIN sp sb ON jp.doc_b = sb.doc_id
        |  WHERE sa.sp <> sb.sp),
        |nagg AS (
        |  SELECT 'near' AS leak_kind, split_a, split_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    round(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard
        |  FROM near GROUP BY 2, 3)
        |SELECT * FROM exact UNION ALL SELECT * FROM nagg
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_boilerplate" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15) AS BIGINT) AS s
        |  FROM ws, unnest(range(1, len(w) - 3)) AS u(i)),
        |c AS (SELECT s, COUNT(*) AS tf FROM g GROUP BY s)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |  CAST(SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  round(CAST(SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS boiler_ratio
        |FROM g JOIN c USING (s) GROUP BY doc_id ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_strip_boiler" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, i, CAST('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15) AS BIGINT) AS s
        |      FROM ws, unnest(range(1, len(w) - 3)) AS u(i)),
        |c AS (SELECT s, COUNT(*) AS tf FROM g GROUP BY s),
        |cov AS (SELECT DISTINCT doc_id, i + j AS p FROM g JOIN c USING (s), range(5) r(j)
        |        WHERE tf >= 2),
        |tok AS (SELECT doc_id, i AS p, w[i] AS w FROM ws, unnest(range(1, len(w) + 1)) AS u(i)),
        |kept AS (SELECT t.doc_id, t.p, t.w FROM tok t
        |         LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.p = cov.p
        |         WHERE cov.p IS NULL)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  array_to_string(list(w ORDER BY p), ' ') AS text_clean
        |FROM kept GROUP BY doc_id ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_quality_by_source" ->
      """WITH m AS (SELECT doc_id, length(text) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |    len(regexp_extract_all(text, '\s')) AS ws_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS n_stop,
        |    len(regexp_extract_all(text, '\b\w{1,2}\b')) AS n_short
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN (n_chars - ws_chars) / CAST(n_chars AS DOUBLE) < 0.7 THEN 'low_alpha'
        |         WHEN n_short / CAST(n_tokens AS DOUBLE) > 0.4 THEN 'high_short'
        |         WHEN n_stop / CAST(n_tokens AS DOUBLE) < 0.01 THEN 'no_stopwords'
        |         ELSE 'ok' END AS reason
        |  FROM m)
        |SELECT d.source, r.reason, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM r JOIN documents d USING (doc_id)
        |GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_lm_score" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(w[i:i+1], ' ')), 1, 15) AS BIGINT) AS s
        |  FROM ws, unnest(range(1, len(w))) AS u(i)),
        |c AS (SELECT s, COUNT(*) AS tf FROM g GROUP BY s)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(tf) AS BIGINT) AS sum_tf,
        |  round(CAST(SUM(tf) AS DOUBLE) / COUNT(*), 6) AS mean_tf
        |FROM g JOIN c USING (s) GROUP BY doc_id ORDER BY ALL NULLS FIRST""".stripMargin,
    // the same 6-decimal ln rounding, decimal power sums, closed form
    "q_zipf_slope" ->
      """WITH f AS (
        |  SELECT source, w, COUNT(*) AS tf FROM (
        |    SELECT source, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE w != '' GROUP BY source, w),
        |r AS (SELECT source,
        |        round(ln(CAST(row_number() OVER (
        |          PARTITION BY source ORDER BY tf DESC, w) AS DOUBLE)), 6) AS x,
        |        round(ln(CAST(tf AS DOUBLE)), 6) AS y
        |      FROM f),
        |s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS nd,
        |        CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |        CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        |      FROM r GROUP BY source)
        |SELECT source, CAST(nd AS BIGINT) AS n_words,
        |  ROUND((nd*sxy - sx*sy)/(nd*sxx - sx*sx), 6) AS zipf_slope
        |FROM s ORDER BY ALL NULLS FIRST""".stripMargin,
    // per-term round-10 + DECIMAL routing makes the entropy sum order-free
    "q_doc_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |n AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct FROM c GROUP BY 1),
        |tm AS (SELECT c.doc_id, n.n, n.n_distinct,
        |    CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 10) AS DECIMAL(28,10)) AS term
        |  FROM c JOIN n USING (doc_id))
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  CAST(max(n_distinct) AS BIGINT) AS n_distinct,
        |  round(CAST(SUM(term) AS DOUBLE), 6) AS entropy
        |FROM tm GROUP BY doc_id ORDER BY ALL NULLS FIRST""".stripMargin,
    // the same integer Flesch chain: vowel-group syllable proxy,
    // [.!?]+ sentence runs (min 1), scaled BIGINT divisions only
    "q_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS n_words,
        |    GREATEST(1, COALESCE(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 0)) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(CASE WHEN n_words > 0 THEN
        |    206835 - (1015 * ((n_words * 1000) // n_sentences)) // 1000
        |           - (84600 * ((n_syllables * 1000) // n_words)) // 1000
        |  END AS BIGINT) AS flesch_milli
        |FROM m ORDER BY ALL NULLS FIRST""".stripMargin,
    // the jaccard family's sh chain over RAW docs (an exact copy's
    // novelty is zero — that is the signal), plus the first-posting min
    "q_ngram_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS g FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM w)),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty
        |FROM sh JOIN f USING (g) GROUP BY sh.doc_id ORDER BY ALL NULLS FIRST""".stripMargin,
    // same hashed-bigram weight derivation (60-bit md5 prefix mod 2001,
    // centered); the left join restores sub-2-token docs as [0, 0]
    "q_quality_classifier" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(w[i:i+1], ' ')), 1, 15) AS BIGINT) % 2001 - 1000 AS wt
        |  FROM ws, unnest(range(1, len(w))) AS u(i)),
        |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |             CAST(SUM(wt) AS BIGINT) AS score_fp
        |      FROM g GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_feats, 0) AS BIGINT) AS n_feats,
        |  CAST(COALESCE(a.score_fp, 0) AS BIGINT) AS score_fp,
        |  COALESCE(a.n_feats, 0) > 0 AND COALESCE(a.score_fp, 0) > 0 AS keep
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the classifier's hashed-feature chain + the heuristic gate's
    // reason chain, joined and decile-bucketed over the ±1000 mean-weight
    // range
    "q_quality_calibration" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(w[i:i+1], ' ')), 1, 15) AS BIGINT) % 2001 - 1000 AS wt
        |  FROM ws, unnest(range(1, len(w))) AS u(i)),
        |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |             CAST(SUM(wt) AS BIGINT) AS score_fp
        |      FROM g GROUP BY doc_id),
        |sc AS (SELECT d.doc_id,
        |  CASE WHEN COALESCE(a.n_feats, 0) > 0
        |    THEN CAST(COALESCE(a.score_fp, 0) AS DOUBLE) / COALESCE(a.n_feats, 0)
        |    ELSE 0.0 END AS avg_w
        |  FROM documents d LEFT JOIN a USING (doc_id)),
        |m AS (SELECT doc_id, length(text) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |    len(regexp_extract_all(text, '\s')) AS ws_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS n_stop,
        |    len(regexp_extract_all(text, '\b\w{1,2}\b')) AS n_short
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN (n_chars - ws_chars) / CAST(n_chars AS DOUBLE) < 0.7 THEN 'low_alpha'
        |         WHEN n_short / CAST(n_tokens AS DOUBLE) > 0.4 THEN 'high_short'
        |         WHEN n_stop / CAST(n_tokens AS DOUBLE) < 0.01 THEN 'no_stopwords'
        |         ELSE 'ok' END AS reason
        |  FROM m),
        |j AS (SELECT sc.avg_w, r.reason = 'ok' AS keep
        |      FROM sc JOIN r USING (doc_id))
        |SELECT CAST(LEAST(GREATEST(floor((avg_w + 1000) / 200), 0), 9) AS INT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_keep,
        |  round(CAST(COUNT(CASE WHEN keep THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate
        |FROM j GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the bigram-LM replay: same tokenization, add-1 smoothing, per-term
    // round(ln, 6), DECIMAL(18,6)-routed mean; left join restores
    // sub-2-token docs as (0, NULL)
    "q_lm_logprob" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |dbg AS (
        |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg, w[i] AS w1
        |  FROM ws, unnest(range(1, len(w))) AS u(i)),
        |bi AS (SELECT bg, COUNT(*) AS c2 FROM dbg GROUP BY bg),
        |uni AS (SELECT w, COUNT(*) AS c1 FROM (SELECT unnest(w) AS w FROM ws) GROUP BY w),
        |v AS (SELECT COUNT(*) AS v FROM uni),
        |sc AS (
        |  SELECT doc_id,
        |    round(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v.v AS DOUBLE)), 6) AS lp
        |  FROM dbg JOIN bi USING (bg) JOIN uni ON dbg.w1 = uni.w, v),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    round(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  a.avg_logp
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // stupid-backoff replay: train counts on even ids, score odd ids;
    // CASE tiers c3/c2 -> 0.4*c2/c1 -> 0.16*(c1+1)/(T+V); per-term
    // round(ln, 6), DECIMAL(18,6)-routed mean, left join restores
    // sub-3-token held-out docs as (0, NULL)
    "q_lm_backoff" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> x != '') AS w
        |  FROM documents),
        |tr AS (SELECT * FROM ws WHERE doc_id % 2 = 0),
        |he AS (SELECT * FROM ws WHERE doc_id % 2 = 1),
        |tri AS (
        |  SELECT array_to_string(w[i:i+2], ' ') AS tg, COUNT(*) AS c3
        |  FROM tr, unnest(range(1, len(w) - 1)) AS u(i) GROUP BY tg),
        |bi AS (
        |  SELECT array_to_string(w[i:i+1], ' ') AS bg, COUNT(*) AS c2
        |  FROM tr, unnest(range(1, len(w))) AS u(i) GROUP BY bg),
        |uni AS (SELECT w, COUNT(*) AS c1 FROM (SELECT unnest(w) AS w FROM tr) GROUP BY w),
        |st AS (SELECT CAST(SUM(c1) AS BIGINT) AS t_tokens, COUNT(*) AS v FROM uni),
        |hg AS (
        |  SELECT doc_id,
        |    array_to_string(w[i:i+2], ' ') AS tg,
        |    array_to_string(w[i:i+1], ' ') AS ctx2,
        |    array_to_string(w[i+1:i+2], ' ') AS lb,
        |    w[i+2] AS wd, w[i+1] AS w1
        |  FROM he, unnest(range(1, len(w) - 1)) AS u(i)),
        |sc AS (
        |  SELECT doc_id, round(ln(CASE
        |    WHEN t3.c3 IS NOT NULL THEN CAST(t3.c3 AS DOUBLE) / b1.c2
        |    WHEN b2.c2 IS NOT NULL THEN 0.4 * CAST(b2.c2 AS DOUBLE) / u1.c1
        |    ELSE 0.16 * CAST(COALESCE(u2.c1, 0) + 1 AS DOUBLE) /
        |      CAST(st.t_tokens + st.v AS DOUBLE)
        |  END), 6) AS lp
        |  FROM hg
        |  LEFT JOIN tri t3 USING (tg)
        |  LEFT JOIN bi b1 ON hg.ctx2 = b1.bg
        |  LEFT JOIN bi b2 ON hg.lb = b2.bg
        |  LEFT JOIN uni u1 ON hg.w1 = u1.w
        |  LEFT JOIN uni u2 ON hg.wd = u2.w, st),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |    round(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |  a.avg_logp
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // global frequency rank (total order: -tf, then word) then coverage
    // at each candidate vocab size
    "q_vocab_coverage" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |f AS (SELECT w, COUNT(*) AS tf FROM t WHERE w != '' GROUP BY w),
        |r AS (SELECT tf, row_number() OVER (ORDER BY -tf, w) AS rn FROM f),
        |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens FROM f),
        |k AS (SELECT unnest([256, 1024, 4096]) AS vocab_size)
        |SELECT k.vocab_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
        |  CAST(SUM(r.tf) AS BIGINT) AS covered_tokens,
        |  tot.total_tokens,
        |  round(CAST(SUM(r.tf) AS DOUBLE) / tot.total_tokens, 6) AS coverage
        |FROM k JOIN r ON r.rn <= k.vocab_size, tot
        |GROUP BY k.vocab_size, tot.total_tokens
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_scrub" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\b\d{3}[-.]?\d{3}[-.]?\d{4}\b',
        |      '<PII>', 'g') AS no_pii
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\b\d{3}[-.]?\d{3}[-.]?\d{4}\b')) AS n_pii,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS orig,
        |    list_filter(string_split_regex(no_pii, '\s+'),
        |      x -> x != '' AND x != 'a' AND x != 'the') AS kept
        |  FROM s)
        |SELECT doc_id, CAST(n_pii AS INT) AS n_pii,
        |  CAST(len(orig) - len(kept) AS INT) AS n_removed,
        |  array_to_string(kept, ' ') AS scrubbed
        |FROM t ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """WITH canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS jaccard
        |FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // bipartite jaccard (archive vs batch), best match per batch doc,
    // admitted = no archive match >= 0.2; short docs emit no shingles
    // and restore admitted via the left join
    "q_dedup_incremental_near" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
        |  GROUP BY 1, 2),
        |jp AS (
        |  SELECT inter.doc_id, inter.bench_id,
        |    round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON inter.doc_id = ca.doc_id
        |             JOIN cnt cb ON inter.bench_id = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |best AS (
        |  SELECT bench_id AS batch_id, doc_id AS match_id, jaccard,
        |    row_number() OVER (PARTITION BY bench_id ORDER BY jaccard DESC, doc_id) AS rk
        |  FROM jp)
        |SELECT d.doc_id AS batch_id, b.match_id, b.jaccard,
        |  b.match_id IS NULL AS admitted
        |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
        |  ON d.doc_id = b.batch_id
        |WHERE d.doc_id % 5 = 0
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_containment" ->
      """WITH canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  round(CAST(n_inter AS DOUBLE) / least(ca.n, cb.n), 6) AS containment
        |FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE round(CAST(n_inter AS DOUBLE) / least(ca.n, cb.n), 6) >= 0.3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_substrings" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, i - 1 AS p,
        |        CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT) AS s
        |      FROM ws, unnest(range(1, len(w) - 6)) AS u(i)),
        |inst AS (SELECT doc_id, p,
        |           COUNT(*) OVER (PARTITION BY s) AS tf,
        |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn
        |         FROM g),
        |dup AS (SELECT doc_id, p FROM inst WHERE tf >= 2 AND rn > 1),
        |m AS (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM dup),
        |agg AS (SELECT doc_id,
        |          CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
        |          CAST(SUM(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        |          CAST(SUM(CASE WHEN prev IS NULL THEN 8 ELSE least(8, p - prev) END) AS BIGINT) AS n_dup_tokens
        |        FROM m GROUP BY doc_id)
        |SELECT a.doc_id, n_dup_windows, n_spans, n_dup_tokens,
        |  round(n_dup_tokens / CAST(len(w) AS DOUBLE), 6) AS dup_ratio
        |FROM agg a JOIN ws USING (doc_id) ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_dedup_substrings window chain rolled up per source (left
    // join restores unaffected docs as zero-dup)
    "q_dup_tokens_by_source" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, i - 1 AS p,
        |        CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT) AS s
        |      FROM ws, unnest(range(1, len(w) - 6)) AS u(i)),
        |inst AS (SELECT doc_id, p,
        |           COUNT(*) OVER (PARTITION BY s) AS tf,
        |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn
        |         FROM g),
        |dup AS (SELECT doc_id, p FROM inst WHERE tf >= 2 AND rn > 1),
        |m AS (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM dup),
        |agg AS (SELECT doc_id,
        |          CAST(SUM(CASE WHEN prev IS NULL THEN 8 ELSE least(8, p - prev) END) AS BIGINT) AS n_dup_tokens
        |        FROM m GROUP BY doc_id),
        |tok AS (SELECT d.doc_id, d.source,
        |          CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS n_toks
        |        FROM documents d)
        |SELECT t.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(a.n_dup_tokens) AS BIGINT) AS n_docs_affected,
        |  CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(SUM(a.n_dup_tokens), 0) AS BIGINT) AS n_dup_tokens,
        |  round(CAST(COALESCE(SUM(a.n_dup_tokens), 0) AS DOUBLE) / SUM(t.n_toks), 6) AS dup_frac
        |FROM tok t LEFT JOIN agg a USING (doc_id)
        |GROUP BY t.source ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_fingerprint" ->
      s"""WITH canon AS MATERIALIZED (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |${prefixHashCtes("canon")},
         |fp AS (SELECT doc_id, nb, p AS fpu FROM pre WHERE pos = nb),
         |mn AS (SELECT doc_id, min(hw) AS mn FROM win GROUP BY doc_id),
         |mw AS MATERIALIZED (SELECT f.doc_id,
         |    CASE WHEN f.nb <= 32 THEN f.fpu ELSE m.mn END AS fpu
         |  FROM fp f LEFT JOIN mn m USING (doc_id))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM mw a JOIN mw b ON a.fpu = b.fpu AND a.doc_id < b.doc_id
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION ALL SELECT doc_b, doc_a FROM p),
        |reach(src, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src)
        |SELECT src AS member, min(lbl) AS cluster_rep
        |FROM reach GROUP BY src
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the jaccard pair chain + the a<b<c wedge join and per-node
    // degree/triangle rollup, ppm clustering coefficient in integer math
    "q_graph_triangles" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |      WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |tri AS (SELECT e1.a, e1.b, e2.c
        |  FROM (SELECT doc_a AS a, doc_b AS b FROM p) e1
        |  JOIN (SELECT doc_a AS b, doc_b AS c FROM p) e2 USING (b)
        |  JOIN (SELECT doc_a AS a, doc_b AS c FROM p) e3 USING (a, c)),
        |tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS nt FROM (
        |  SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node),
        |d AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |  SELECT doc_a AS node FROM p UNION ALL SELECT doc_b FROM p) GROUP BY node)
        |SELECT d.node AS doc_id, d.degree,
        |  CAST(COALESCE(tn.nt, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN d.degree > 1
        |    THEN (2000000 * COALESCE(tn.nt, 0)) // (d.degree * (d.degree - 1))
        |    ELSE 0 END AS BIGINT) AS clustering_ppm
        |FROM d LEFT JOIN tn ON d.node = tn.node
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the same pair chain's per-node degree, bucketed
    "q_graph_degree_hist" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |      WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |  SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |d AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |  SELECT doc_a AS node FROM p UNION ALL SELECT doc_b FROM p) GROUP BY node)
        |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM d GROUP BY degree ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_dedup_clusters recursive components, grouped twice: per
    // cluster -> size, per size -> histogram
    "q_dedup_cluster_sizes" ->
      """WITH RECURSIVE canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION ALL SELECT doc_b, doc_a FROM p),
        |reach(src, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
        |cl AS (SELECT src AS member, min(lbl) AS cluster_rep FROM reach GROUP BY src),
        |sz AS (SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
        |       FROM cl GROUP BY cluster_rep)
        |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_dedup_clusters edge CTEs + 5 UNROLLED PageRank iterations
    // (fixed-point BIGINT nano-units, integral divisions — replays
    // GraphRank.pagerank bit-for-bit; see its Scaladoc)
    "q_pagerank" -> {
      val prIters = (1 to 5).map { i =>
        s"""it$i AS (SELECT n.node, n.deg, n.tele,
           |  CAST(n.tele + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM it${i - 1} n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p2.pr // p2.deg) AS s
           |    FROM edges e JOIN it${i - 1} p2 ON e.src = p2.node GROUP BY 1) s
           |  USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH canon AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |  WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
         |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |    FROM w)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION ALL SELECT doc_b, doc_a FROM p),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |it0 AS (SELECT src AS node, deg,
         |  CAST(150000000 // n AS BIGINT) AS tele,
         |  CAST(1000000000 // n AS BIGINT) AS pr FROM deg, nn),
         |$prIters
         |SELECT node AS member, deg, pr AS pr_nano FROM it5
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    // the identical unrolled chain, reporting per-round rank movement
    // instead of final ranks
    "q_pagerank_convergence" -> {
      val prIters = (1 to 5).map { i =>
        s"""it$i AS (SELECT n.node, n.deg, n.tele,
           |  CAST(n.tele + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM it${i - 1} n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p2.pr // p2.deg) AS s
           |    FROM edges e JOIN it${i - 1} p2 ON e.src = p2.node GROUP BY 1) s
           |  USING (node))""".stripMargin
      }.mkString(",\n")
      val mvRows = (1 to 5).map { i =>
        s"""SELECT CAST($i AS INT) AS iter,
           |  CAST(SUM(ABS(a.pr - b.pr)) AS BIGINT) AS moved_nano,
           |  CAST(MAX(ABS(a.pr - b.pr)) AS BIGINT) AS max_move_nano
           |FROM it$i a JOIN it${i - 1} b USING (node)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH canon AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |  WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
         |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |    FROM w)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION ALL SELECT doc_b, doc_a FROM p),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |it0 AS (SELECT src AS node, deg,
         |  CAST(150000000 // n AS BIGINT) AS tele,
         |  CAST(1000000000 // n AS BIGINT) AS pr FROM deg, nn),
         |$prIters
         |$mvRows
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    // six unrolled min-label rounds over the same pair graph, reporting
    // labels changed per round (LEAST over the neighborhood minimum —
    // exactly propagateCore's update rule)
    "q_cc_convergence" -> {
      val rounds = (1 to 6).map { i =>
        s"""ch$i AS (
           |  SELECT l.id,
           |    CASE WHEN m.nmin IS NOT NULL AND m.nmin < l.lbl THEN m.nmin ELSE l.lbl END AS lbl,
           |    COALESCE(m.nmin < l.lbl, FALSE) AS chg
           |  FROM l${i - 1} l LEFT JOIN (
           |    SELECT e.src AS id, MIN(x.lbl) AS nmin
           |    FROM edges e JOIN l${i - 1} x ON e.dst = x.id GROUP BY 1) m
           |  USING (id)),
           |l$i AS (SELECT id, lbl FROM ch$i)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to 6).map { i =>
        s"SELECT CAST($i AS INT) AS round, CAST(COUNT(*) FILTER (WHERE chg) AS BIGINT) AS n_changed FROM ch$i"
      }.mkString("\nUNION ALL\n")
      s"""WITH canon AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |  WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
         |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |    FROM w)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION ALL SELECT doc_b, doc_a FROM p),
         |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
         |$rounds
         |$rows
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    // the same unrolled fixed-point iterations over the word
    // co-occurrence graph (window 2, >= 4-char words), top-20 labels
    "q_textrank" -> {
      val prIters = (1 to 5).map { i =>
        s"""it$i AS (SELECT n.node, n.deg, n.tele,
           |  CAST(n.tele + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM it${i - 1} n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p2.pr // p2.deg) AS s
           |    FROM edges e JOIN it${i - 1} p2 ON e.src = p2.node GROUP BY 1) s
           |  USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH ws AS (
         |  SELECT list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS w
         |  FROM documents),
         |co AS (
         |  SELECT w[i] AS wa, w[i + d] AS wb
         |  FROM ws, unnest(range(1, len(w))) AS u(i), unnest([1, 2]) AS dd(d)
         |  WHERE i + d <= len(w)
         |    AND length(w[i]) >= 4 AND length(w[i + d]) >= 4 AND w[i] != w[i + d]),
         |e AS (SELECT DISTINCT least(wa, wb) AS a, greatest(wa, wb) AS b FROM co),
         |n AS (SELECT CAST('0x' || substr(md5(a), 1, 15) AS BIGINT) AS src,
         |             CAST('0x' || substr(md5(b), 1, 15) AS BIGINT) AS dst FROM e),
         |edges AS (SELECT src, dst FROM n UNION SELECT dst, src FROM n),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |it0 AS (SELECT src AS node, deg,
         |  CAST(150000000 // n AS BIGINT) AS tele,
         |  CAST(1000000000 // n AS BIGINT) AS pr FROM deg, nn),
         |$prIters,
         |dict AS (
         |  SELECT word, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS node FROM (
         |    SELECT DISTINCT wa AS word FROM co
         |    UNION SELECT DISTINCT wb FROM co)),
         |top AS (
         |  SELECT d.word, i.deg, i.pr AS pr_nano
         |  FROM it5 i JOIN dict d USING (node)
         |  ORDER BY i.pr DESC, d.word LIMIT 20)
         |SELECT word, deg, pr_nano FROM top
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    // q_pagerank's unrolled iterations + q_dedup_clusters' recursive
    // components, joined into the per-cluster argmax keeper
    "q_dedup_keep_central" -> {
      val prIters = (1 to 5).map { i =>
        s"""it$i AS (SELECT n.node, n.deg, n.tele,
           |  CAST(n.tele + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM it${i - 1} n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p2.pr // p2.deg) AS s
           |    FROM edges e JOIN it${i - 1} p2 ON e.src = p2.node GROUP BY 1) s
           |  USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE canon AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |w AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM canon
         |  WHERE len(string_split_regex(text, '\\s+')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
         |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |    FROM w)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION ALL SELECT doc_b, doc_a FROM p),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |it0 AS (SELECT src AS node, deg,
         |  CAST(150000000 // n AS BIGINT) AS tele,
         |  CAST(1000000000 // n AS BIGINT) AS pr FROM deg, nn),
         |$prIters,
         |reach(src, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
         |comp AS (SELECT src AS member, min(lbl) AS cluster_rep
         |         FROM reach GROUP BY src),
         |j AS (SELECT c.cluster_rep, c.member, i.pr
         |      FROM comp c JOIN it5 i ON c.member = i.node),
         |k AS (SELECT *,
         |  row_number() OVER (PARTITION BY cluster_rep ORDER BY pr DESC, member) AS rn,
         |  COUNT(*) OVER (PARTITION BY cluster_rep) AS n_members FROM j)
         |SELECT cluster_rep, member AS keep_doc, pr AS keep_pr_nano, n_members
         |FROM k WHERE rn = 1
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    // same normalization chain (DuckDB regexp_replace needs the 'g'
    // flag; Spark's is global by default)
    "q_dedup_normalized" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |         '\s+', ' ', 'g')) AS ntext
        |  FROM documents)
        |SELECT md5(ntext) AS nkey, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS rep_doc, CAST(MIN(length(ntext)) AS INT) AS n_chars
        |FROM n GROUP BY 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_dedup_clusters pair+components chain, plus the
    // keep-the-longest keeper rank (n_chars DESC, ties by min doc_id)
    "q_dedup_keep_best" ->
      """WITH RECURSIVE canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION ALL SELECT doc_b, doc_a FROM p),
        |reach(src, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
        |labels AS (SELECT src AS member, min(lbl) AS cluster_rep FROM reach GROUP BY src),
        |j AS (SELECT l.cluster_rep, l.member, d.n_chars
        |      FROM labels l JOIN documents d ON l.member = d.doc_id),
        |r AS (SELECT cluster_rep, member, n_chars,
        |    row_number() OVER (PARTITION BY cluster_rep ORDER BY n_chars DESC, member) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster_rep) AS n_members FROM j)
        |SELECT cluster_rep, member AS keep_doc, n_chars AS keep_chars, n_members
        |FROM r WHERE rn = 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the jaccard-pair chain with both endpoints' sources joined on,
    // bucketed unordered
    "q_source_overlap" ->
      """WITH canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |j AS (SELECT least(da.source, db.source) AS source_a,
        |             greatest(da.source, db.source) AS source_b, p.jaccard
        |      FROM p JOIN documents da ON p.doc_a = da.doc_id
        |             JOIN documents db ON p.doc_b = db.doc_id)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  round(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard
        |FROM j GROUP BY 1, 2
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_dedup_clusters chain with the jaccard value carried through,
    // aggregated per component
    "q_cluster_cohesion" ->
      """WITH RECURSIVE canon AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM canon
        |  WHERE len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
        |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter), 6) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION ALL SELECT doc_b, doc_a FROM p),
        |reach(src, lbl) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
        |comp AS (SELECT src AS member, min(lbl) AS cluster_rep FROM reach GROUP BY src),
        |sz AS (SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_members
        |       FROM comp GROUP BY 1),
        |ea AS (SELECT c.cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_edges,
        |         round(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard,
        |         MIN(jaccard) AS min_jaccard
        |       FROM p JOIN comp c ON p.doc_a = c.member GROUP BY 1)
        |SELECT ea.cluster_rep, ea.n_edges, ea.mean_jaccard, ea.min_jaccard, sz.n_members,
        |  round(CAST(ea.n_edges AS DOUBLE) * 2 / (sz.n_members * (sz.n_members - 1)), 6) AS density
        |FROM ea JOIN sz USING (cluster_rep)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // exact tier (md5-partition min) + the keep-best chain, cascaded
    // into one (status, keeper) row per document
    "q_dedup_ledger" ->
      s"""$ledgerCtes
         |SELECT doc_id, status, keeper_id FROM led
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the ledger chain + tier-3 containment among kept docs (same 3-gram
    // 60-bit shingles/cnt as the ledger's pair CTEs); removal rule
    // mirrored: smaller n_chars loses, ties drop the larger doc_id
    "q_dedup_waterfall" ->
      s"""$ledgerCtes,
         |kp AS (SELECT doc_id FROM led WHERE status = 'kept'),
         |ci AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM kp)
         |    AND b.doc_id IN (SELECT doc_id FROM kp)
         |  GROUP BY 1, 2),
         |cp AS (
         |  SELECT doc_a, doc_b
         |  FROM ci JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / least(ca.n, cb.n), 6) >= 0.3),
         |lose AS (
         |  SELECT DISTINCT CASE WHEN da.n_chars < db.n_chars THEN p.doc_a
         |    WHEN db.n_chars < da.n_chars THEN p.doc_b
         |    ELSE greatest(p.doc_a, p.doc_b) END AS doc_id
         |  FROM cp p JOIN documents da ON p.doc_a = da.doc_id
         |            JOIN documents db ON p.doc_b = db.doc_id),
         |st AS (
         |  SELECT CASE WHEN l.status = 'kept' AND lo.doc_id IS NOT NULL
         |    THEN 'contained' ELSE l.status END AS status
         |  FROM led l LEFT JOIN lose lo ON l.doc_id = lo.doc_id),
         |sc AS (SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs FROM st GROUP BY status)
         |SELECT status, n_docs,
         |  round(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM sc), 6) AS pct
         |FROM sc ORDER BY ALL NULLS FIRST""".stripMargin,
    // the ledger rolled up per source: tier counts + combined dup rate
    "q_dedup_rate_by_source" ->
      s"""$ledgerCtes
         |SELECT d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) FILTER (WHERE status = 'exact_dup') AS BIGINT) AS n_exact_dup,
         |  CAST(COUNT(*) FILTER (WHERE status = 'near_dup') AS BIGINT) AS n_near_dup,
         |  CAST(COUNT(*) FILTER (WHERE status = 'kept') AS BIGINT) AS n_kept,
         |  round(CAST(COUNT(*) FILTER (WHERE status IN ('exact_dup', 'near_dup')) AS DOUBLE) / COUNT(*), 6) AS dup_rate
         |FROM led JOIN documents d USING (doc_id)
         |GROUP BY d.source
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // ledger statuses joined to the q_text_quality per-doc signals,
    // DECIMAL-routed means per (source, status)
    "q_dup_quality_bias" ->
      s"""$ledgerCtes,
         |q AS (SELECT doc_id,
         |  CAST(length(text) AS INT) AS n_chars,
         |  round(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|for|on|with)\\b')) /
         |    CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE), 6) AS stop_ratio,
         |  round(len(regexp_extract_all(text, '\\b\\w{1,2}\\b')) /
         |    CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE), 6) AS short_ratio
         | FROM documents)
         |SELECT d.source, l.status,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  round(CAST(SUM(q.n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
         |  round(CAST(SUM(CAST(q.stop_ratio AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_stop_ratio,
         |  round(CAST(SUM(CAST(q.short_ratio AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_short_ratio
         |FROM led l JOIN documents d USING (doc_id) JOIN q USING (doc_id)
         |GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    // family split: draw on COALESCE(component rep, exact rep) — the
    // same g/comp chain the ledger replays
    "q_split_by_family" ->
      s"""$ledgerCtes,
         |fam AS (
         |  SELECT g.doc_id, d.source, d.n_chars,
         |    COALESCE(c.cluster_rep, g.rep) AS family_rep
         |  FROM g JOIN documents d ON g.doc_id = d.doc_id
         |  LEFT JOIN comp c ON g.rep = c.member),
         |spf AS (
         |  SELECT source, n_chars, family_rep,
         |    CAST('0x' || substr(md5(CAST(family_rep AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS draw
         |  FROM fam)
         |SELECT CASE WHEN draw < 80 THEN 'train' WHEN draw < 90 THEN 'valid' ELSE 'test' END AS split,
         |  source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT family_rep) AS BIGINT) AS n_families,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM spf GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_embedding" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM v)
        |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        |  round(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
        |    (sqrt(x.n2) * sqrt(y.n2)), 4) AS cos
        |FROM n x JOIN n y ON x.vec_id < y.vec_id
        |WHERE round(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
        |    (sqrt(x.n2) * sqrt(y.n2)), 4) >= 0.45
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_embedding_lsh" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |$lshBucketCtes,
         |n AS (SELECT vec_id, v, bucket, list_sum(list_transform(v, x -> x * x)) AS n2 FROM b)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |  round(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
         |    (sqrt(x.n2) * sqrt(y.n2)), 4) AS cos
         |FROM n x JOIN n y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE round(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
         |    (sqrt(x.n2) * sqrt(y.n2)), 4) >= 0.3
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // recomputed from the ORIGINAL table: a lossy JSONL round trip on
    // the Spark side (escaping, unicode, types) diverges from this
    "q_jsonl_ingest" ->
      """SELECT doc_id, CAST(length(coalesce(text, '')) AS INT) AS n_chars, lang
        |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_semantic" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |$lshBucketCtes,
         |n AS (SELECT vec_id, v, bucket, list_sum(list_transform(v, x -> x * x)) AS n2 FROM b),
         |p AS (SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
         |  FROM n x JOIN n y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  WHERE round(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
         |    (sqrt(x.n2) * sqrt(y.n2)), 4) >= 0.3),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(src, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
         |labels AS (SELECT src AS member, min(lbl) AS cluster_rep FROM reach GROUP BY src)
         |SELECT cluster_rep, COUNT(*) AS n_members FROM labels GROUP BY 1
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // SemDeDup replay: the q_ivf_train Lloyd chain, within-cell cosine
    // pairs, the connected-components recursive CTE, and the
    // keep-least-prototypical (min centroid-cosine, ties by vec_id)
    // keeper rank — end-to-end bit-for-bit.
    "q_semdedup" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |n AS (SELECT vec_id, v, cid, list_sum(list_transform(v, x -> x * x)) AS n2 FROM fin),
         |p AS (SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
         |  FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  WHERE round(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) /
         |    (sqrt(x.n2) * sqrt(y.n2)), 4) >= 0.3),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(src, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
         |labels AS (SELECT src AS member, min(lbl) AS cluster_rep FROM reach GROUP BY src),
         |cc AS (SELECT f.vec_id,
         |  round(list_sum([f.v[d] * c.cen[d] FOR d IN range(1, len(f.v) + 1)]) /
         |    (sqrt(list_sum(list_transform(f.v, x -> x * x))) *
         |     sqrt(list_sum(list_transform(c.cen, x -> x * x)))), 4) AS ccos
         |  FROM fin f JOIN c2 c USING (cid)),
         |j AS (SELECT l.cluster_rep, l.member, cc.ccos
         |      FROM labels l JOIN cc ON l.member = cc.vec_id),
         |r AS (SELECT cluster_rep, member, ccos,
         |    row_number() OVER (PARTITION BY cluster_rep ORDER BY ccos, member) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster_rep) AS n_members FROM j)
         |SELECT cluster_rep, member AS keep_vec, ccos AS keep_ccos, n_members
         |FROM r WHERE rn = 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_hard_negatives" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, vec_id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
        |  FROM n JOIN q ON vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, vec_id AS neighbor, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM scored)
        |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk > 5 AND rk <= 10
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_bitext_mine" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, lang
        |  FROM embeddings JOIN documents ON vec_id = doc_id),
        |n AS (SELECT vec_id, v, lang, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |cross_p AS (
        |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
        |    round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cos
        |  FROM n a JOIN n b ON a.lang = 'en' AND b.lang <> 'en'),
        |ra AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rk FROM cross_p),
        |avg_a AS (SELECT src_id, CAST(SUM(CAST(cos AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS nbh_a
        |          FROM ra WHERE rk <= 4 GROUP BY src_id),
        |rb AS (SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rk FROM cross_p),
        |avg_b AS (SELECT tgt_id, CAST(SUM(CAST(cos AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS nbh_b
        |          FROM rb WHERE rk <= 4 GROUP BY tgt_id),
        |scored AS (
        |  SELECT src_id, tgt_id, cos, round(cos * 2 / (nbh_a + nbh_b), 6) AS margin
        |  FROM cross_p JOIN avg_a USING (src_id) JOIN avg_b USING (tgt_id)),
        |m AS (SELECT *,
        |  row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rf,
        |  row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rb
        |  FROM scored)
        |SELECT src_id, tgt_id, cos, margin FROM m WHERE rf = 1 AND rb = 1 AND margin >= 1.0
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the same miner restricted to shared trained-IVF cells: the Lloyd
    // chain is the q_knn_ivf_trained replay; the cross join gains
    // a.cid = b.cid, making neighborhoods and reciprocal-bests cell-local
    "q_bitext_mine_cells" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cen FROM v ORDER BY vec_id LIMIT 8),
         |a1 AS (${ivfAssignSql("v", "c0")}),
         |c1 AS (${ivfUpdateSql("a1")}),
         |a2 AS (${ivfAssignSql("v", "c1")}),
         |c2 AS (${ivfUpdateSql("a2")}),
         |fin AS (${ivfAssignSql("v", "c2")}),
         |n AS (SELECT f.vec_id, f.v, f.cid, d.lang,
         |        sqrt(list_sum(list_transform(f.v, x -> x * x))) AS nrm
         |      FROM fin f JOIN documents d ON f.vec_id = d.doc_id),
         |cross_p AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
         |    round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cos
         |  FROM n a JOIN n b ON a.cid = b.cid AND a.lang = 'en' AND b.lang <> 'en'),
         |ra AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rk FROM cross_p),
         |avg_a AS (SELECT src_id, CAST(SUM(CAST(cos AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS nbh_a
         |          FROM ra WHERE rk <= 4 GROUP BY src_id),
         |rb AS (SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rk FROM cross_p),
         |avg_b AS (SELECT tgt_id, CAST(SUM(CAST(cos AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS nbh_b
         |          FROM rb WHERE rk <= 4 GROUP BY tgt_id),
         |scored AS (
         |  SELECT src_id, tgt_id, cos, round(cos * 2 / (nbh_a + nbh_b), 6) AS margin
         |  FROM cross_p JOIN avg_a USING (src_id) JOIN avg_b USING (tgt_id)),
         |m AS (SELECT *,
         |  row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rf,
         |  row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rb
         |  FROM scored)
         |SELECT src_id, tgt_id, cos, margin FROM m WHERE rf = 1 AND rb = 1 AND margin >= 1.0
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // candidate top-20 chain + pairwise candidate sims + 5 unrolled
    // greedy argmax steps (ties by neighbor id), all in 1e-4 BIGINT units
    "q_mmr_rerank" -> {
      val steps = (2 to 5).map { i =>
        s"""s$i AS (SELECT q_id, $i AS step, nb, rel4, maxsim4, mmr4 FROM (
           |  SELECT m.q_id, m.nb, m.rel4, m.maxsim4, m.rel4 - m.maxsim4 AS mmr4,
           |    row_number() OVER (PARTITION BY m.q_id ORDER BY m.rel4 - m.maxsim4 DESC, m.nb) AS rk
           |  FROM (
           |    SELECT c.q_id, c.nb, c.rel4, MAX(p.sim4) AS maxsim4
           |    FROM cand c
           |    JOIN ps p ON p.q_id = c.q_id AND p.a = c.nb
           |    JOIN sel${i - 1} s ON s.q_id = p.q_id AND s.nb = p.b
           |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
           |                      WHERE s2.q_id = c.q_id AND s2.nb = c.nb)
           |    GROUP BY 1, 2, 3) m) WHERE rk = 1),
           |sel$i AS (SELECT q_id, nb FROM sel${i - 1} UNION ALL SELECT q_id, nb FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 3),
         |sc AS (
         |  SELECT q_id, vec_id AS nb,
         |    CAST(round(round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) * 10000, 0) AS BIGINT) AS rel4
         |  FROM n JOIN q ON vec_id <> q_id),
         |cand AS (SELECT q_id, nb, rel4 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel4 DESC, nb) AS rk
         |  FROM sc) WHERE rk <= 20),
         |cv AS (SELECT c.q_id, c.nb, n.v, n.nrm FROM cand c JOIN n ON c.nb = n.vec_id),
         |ps AS (
         |  SELECT x.q_id, x.nb AS a, y.nb AS b,
         |    CAST(round(round(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])) / (x.nrm * y.nrm), 4) * 10000, 0) AS BIGINT) AS sim4
         |  FROM cv x JOIN cv y ON x.q_id = y.q_id AND x.nb <> y.nb),
         |s1 AS (SELECT q_id, 1 AS step, nb, rel4, CAST(0 AS BIGINT) AS maxsim4, rel4 AS mmr4 FROM (
         |  SELECT q_id, nb, rel4, row_number() OVER (PARTITION BY q_id ORDER BY rel4 DESC, nb) AS rk
         |  FROM cand) WHERE rk = 1),
         |sel1 AS (SELECT q_id, nb FROM s1),
         |$steps
         |SELECT q_id, CAST(step AS INT) AS step, nb, rel4, maxsim4, mmr4 FROM (
         |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
         |  UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5)
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    "q_rrf_fusion" ->
      """WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE w != ''),
        |lens AS (SELECT doc_id, COUNT(*) AS len FROM words GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, CAST(SUM(len) AS BIGINT) AS tl FROM lens),
        |qterms AS (SELECT DISTINCT doc_id AS q_id, w FROM words WHERE doc_id < 5),
        |dfq AS (SELECT w, COUNT(*) AS df FROM (
        |  SELECT DISTINCT doc_id, w FROM words
        |  WHERE w IN (SELECT DISTINCT w FROM qterms)) GROUP BY w),
        |tfq AS (SELECT q.q_id, d.doc_id, d.w, COUNT(*) AS tf
        |        FROM words d JOIN qterms q USING (w)
        |        WHERE d.doc_id <> q.q_id GROUP BY 1, 2, 3),
        |sparse AS (
        |  SELECT q_id, doc_id, CAST(SUM(term_micro) AS BIGINT) AS bm25_micro FROM (
        |    SELECT t.q_id, t.doc_id,
        |      CAST(round(
        |        ln((CAST(nd - df AS DOUBLE) + 0.5e0) / (CAST(df AS DOUBLE) + 0.5e0))
        |        * ((CAST(tf AS DOUBLE) * 2.2e0) /
        |           (CAST(tf AS DOUBLE) + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0
        |             * (CAST(len AS DOUBLE) / (CAST(tl AS DOUBLE) / nd)))))
        |        * 1000000.0e0) AS BIGINT) AS term_micro
        |    FROM tfq t JOIN dfq USING (w) JOIN lens USING (doc_id), stats)
        |  GROUP BY 1, 2),
        |sr AS (SELECT q_id, doc_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS rk
        |  FROM sparse),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |dense0 AS (
        |  SELECT q.vec_id AS q_id, d.vec_id AS doc_id,
        |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * d.v[i])) / (q.nrm * d.nrm), 4) AS cos
        |  FROM n q JOIN n d ON q.vec_id < 5 AND d.vec_id <> q.vec_id),
        |dr AS (SELECT q_id, doc_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rk
        |  FROM dense0),
        |contrib AS (
        |  SELECT q_id, doc_id, CAST(round(1.0e9 / (60.0e0 + rk), 0) AS BIGINT) AS nano
        |  FROM sr WHERE rk <= 20
        |  UNION ALL
        |  SELECT q_id, doc_id, CAST(round(1.0e9 / (60.0e0 + rk), 0) AS BIGINT) AS nano
        |  FROM dr WHERE rk <= 20),
        |fused AS (SELECT q_id, doc_id, CAST(SUM(nano) AS BIGINT) AS rrf_nano,
        |            CAST(COUNT(*) AS BIGINT) AS n_arms
        |          FROM contrib GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf_nano DESC, doc_id) AS INT) AS rk FROM fused)
        |SELECT q_id, doc_id, rrf_nano, n_arms, rk FROM r WHERE rk <= 10
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // cross-encoder rerank replay: dense top-20, then the joint
    // token-overlap + cosine blend in exact 1e-6 integer units
    // (round-then-cast cosine term; non-negative integer division for
    // the Jaccard term, where // and DIV agree), rerank to top-10
    "q_rerank_cross" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
        |scored AS (
        |  SELECT q_id, vec_id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
        |  FROM n JOIN q ON vec_id <> q_id),
        |s0 AS (
        |  SELECT q_id, vec_id AS doc_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk_dense
        |  FROM scored),
        |s1 AS (SELECT * FROM s0 WHERE rk_dense <= 20),
        |tk AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(coalesce(text, ''), '\s+'), x -> x != '')) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT s1.q_id, s1.doc_id, s1.cos, s1.rk_dense,
        |    CAST(len(list_intersect(qt.toks, ct.toks)) AS BIGINT) AS n_inter,
        |    CAST(len(qt.toks) + len(ct.toks) AS BIGINT)
        |      - CAST(len(list_intersect(qt.toks, ct.toks)) AS BIGINT) AS n_union
        |  FROM s1 JOIN tk qt ON s1.q_id = qt.doc_id
        |          JOIN tk ct ON s1.doc_id = ct.doc_id),
        |m AS (
        |  SELECT q_id, doc_id, cos, rk_dense, n_inter, n_union,
        |    CAST(round(cos * 1000000, 0) AS BIGINT) +
        |      CASE WHEN n_union > 0 THEN (1000000 * n_inter) // n_union
        |           ELSE 0 END AS cross_micro
        |  FROM p),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cross_micro DESC, doc_id) AS INT) AS rk
        |  FROM m)
        |SELECT q_id, doc_id, cos, n_inter, n_union, cross_micro, rk_dense, rk,
        |  CAST(rk_dense - rk AS INT) AS moved
        |FROM r WHERE rk <= 10
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the knn shape with the label filter as the join key
    "q_knn_filtered" ->
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS q_id, label AS qb, v AS qv, nrm AS qn
        |      FROM n WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, vec_id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
        |  FROM n JOIN q ON n.label = qb AND vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, vec_id AS neighbor, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM scored)
        |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_bruteforce" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, vec_id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4) AS cos
        |  FROM n JOIN q ON vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, vec_id AS neighbor, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM scored)
        |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
        |  round(list_sum(list_transform(string_split_regex(text, '\s+'), x -> length(x))) /
        |    CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
        |  round(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) /
        |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE), 6) AS stop_ratio,
        |  round(len(regexp_extract_all(text, '\b\w{1,2}\b')) /
        |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE), 6) AS short_ratio
        |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_lang_id" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS INT) AS c_en,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b')) AS INT) AS c_de,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|pas|pour|dans|un|une)\b')) AS INT) AS c_fr
        |  FROM documents)
        |SELECT doc_id, lang, c_en, c_de, c_fr,
        |  CASE WHEN c_en >= c_de AND c_en >= c_fr THEN 'en'
        |       WHEN c_de >= c_fr THEN 'de' ELSE 'fr' END AS pred_lang
        |FROM c ORDER BY ALL NULLS FIRST""".stripMargin,
    // the q_lang_id prediction chain grouped into the (lang, pred_lang)
    // confusion matrix with within-language shares
    "q_langid_confusion" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS INT) AS c_en,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b')) AS INT) AS c_de,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|pas|pour|dans|un|une)\b')) AS INT) AS c_fr
        |  FROM documents),
        |p AS (SELECT lang,
        |  CASE WHEN c_en >= c_de AND c_en >= c_fr THEN 'en'
        |       WHEN c_de >= c_fr THEN 'de' ELSE 'fr' END AS pred_lang
        |  FROM c),
        |m AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |      FROM p GROUP BY 1, 2)
        |SELECT lang, pred_lang, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang), 6) AS share,
        |  pred_lang = lang AS is_correct
        |FROM m ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_udf_tokenize" ->
      """SELECT md5(text) AS h,
        |  CASE
        |    WHEN NOT regexp_matches(token, '[A-Za-z0-9]') THEN 'SYM'
        |    WHEN regexp_matches(token, '^[0-9]+([.,][0-9]+)?$') THEN 'CD'
        |    WHEN lower(token) IN ('the','a','an','this','that','these','those') THEN 'DT'
        |    WHEN lower(token) IN ('of','in','on','at','by','for','with','to','from','as') THEN 'IN'
        |    WHEN lower(token) IN ('and','or','but','nor','so','yet') THEN 'CC'
        |    WHEN lower(token) IN ('i','you','he','she','it','we','they','him','her','them','his','its','their','my','your','our') THEN 'PRP'
        |    WHEN lower(token) IN ('will','would','can','could','shall','should','may','might','must') THEN 'MD'
        |    WHEN lower(token) IN ('is','are','was','were','be','been','am','being') THEN 'VB'
        |    WHEN lower(token) LIKE '%ly' AND length(token) > 3 THEN 'RB'
        |    WHEN lower(token) LIKE '%ing' AND length(token) > 4 THEN 'VBG'
        |    WHEN lower(token) LIKE '%ed' AND length(token) > 3 THEN 'VBD'
        |    WHEN regexp_matches(token, '^[A-Z]') THEN 'NNP'
        |    WHEN lower(token) LIKE '%s' AND length(token) > 3 THEN 'NNS'
        |    ELSE 'NN' END AS tag,
        |  COUNT(*) AS n
        |FROM (SELECT text, unnest(regexp_extract_all(text, '[A-Za-z0-9_'']+|[^A-Za-z0-9_''\s]')) AS token
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_intersect" ->
      """WITH dc AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |tok AS (SELECT DISTINCT source, doc_id, token FROM (
        |  SELECT source, doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents)),
        |common AS (
        |  SELECT t.source, t.token FROM (
        |    SELECT source, token, COUNT(*) AS n_with FROM tok GROUP BY source, token) t
        |  JOIN dc ON t.source = dc.source WHERE t.n_with = dc.n_docs)
        |SELECT dc.source,
        |  coalesce(any_value(c.ct), '') AS common_tokens
        |FROM dc LEFT JOIN (
        |  SELECT source, string_agg(token, ',' ORDER BY token) AS ct FROM common GROUP BY source) c
        |ON dc.source = c.source
        |GROUP BY dc.source ORDER BY ALL NULLS FIRST""".stripMargin,
    // replicates the payload CONSTRUCTION arithmetic, while Spark's side
    // actually parses the bytes it built — a codec bug breaks the match
    "q_mm_audio" ->
      """WITH d AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM documents),
        |m AS (SELECT doc_id,
        |    [CAST('0x' || substr(hx, 2*j + 1, 2) AS INT) FOR j IN range(16)] AS mb
        |  FROM d),
        |par AS (SELECT doc_id, mb, mb[1] * 16 + 256 AS n FROM m),
        |en AS (SELECT doc_id, n, (n - 64) // 32 + 1 AS nw,
        |    [list_sum([(mb[((k*32 + j) % 16) + 1] - 128) * (mb[((k*32 + j) % 16) + 1] - 128)
        |               FOR j IN range(64)])
        |     FOR k IN range((n - 64) // 32 + 1)] AS es
        |  FROM par)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples, CAST(nw AS BIGINT) AS n_windows,
        |  CAST(len([e FOR e IN es IF e > 350000]) AS BIGINT) AS n_active,
        |  CAST(list_max(es) AS BIGINT) AS max_energy
        |FROM en ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_phash" ->
      s"""WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         |d AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM canon),
         |m AS (SELECT doc_id,
         |    [CAST('0x' || substr(hx, 2*j + 1, 2) AS INT) FOR j IN range(16)] AS mb
         |  FROM d),
         |dim AS (SELECT doc_id, mb, mb[1] % 31 + 1 AS w, mb[2] % 17 + 1 AS h FROM m),
         |lums AS (SELECT doc_id, [
         |    (299 * mb[(((((i//9)*h//8)*w + ((i%9)*w//9))*3) % 16) + 1]
         |   + 587 * mb[(((((i//9)*h//8)*w + ((i%9)*w//9))*3 + 1) % 16) + 1]
         |   + 114 * mb[(((((i//9)*h//8)*w + ((i%9)*w//9))*3 + 2) % 16) + 1]) // 1000
         |    FOR i IN range(72)] AS lg
         |  FROM dim),
         |ph0 AS (SELECT doc_id, list_sum([
         |    CASE WHEN lg[(i//8)*9 + (i%8) + 2] > lg[(i//8)*9 + (i%8) + 1]
         |         THEN (1::HUGEINT << i) ELSE 0::HUGEINT END
         |    FOR i IN range(64)]) AS pu
         |  FROM lums),
         |ph AS (SELECT doc_id,
         |    CAST(CASE WHEN pu >= $M63 THEN pu - $M64 ELSE pu END AS BIGINT) AS phash
         |  FROM ph0),
         |banded AS (SELECT doc_id, phash, b AS band, (phash >> (b*16)) & 65535 AS bkey
         |           FROM ph, range(4) r(b)),
         |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_decode_real" ->
      """SELECT doc_id,
        |  CAST(length('P6' || chr(10) || CAST(doc_id % 31 + 1 AS VARCHAR) || ' ' ||
        |      CAST(doc_id % 17 + 1 AS VARCHAR) || chr(10) || '255' || chr(10))
        |    + 3 * (doc_id % 31 + 1) * (doc_id % 17 + 1) AS INT) AS n_bytes,
        |  CAST(doc_id % 31 + 1 AS INT) AS width,
        |  CAST(doc_id % 17 + 1 AS INT) AS height,
        |  CAST('0x' || substr(md5(coalesce(text, '')), 1, 2) AS INT) AS r0,
        |  CAST('0x' || substr(md5(coalesce(text, '')), 3, 2) AS INT) AS g0,
        |  CAST('0x' || substr(md5(coalesce(text, '')), 5, 2) AS INT) AS b0
        |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_dedup" ->
      """SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n_copies, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_mm_decode" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        |  CAST((octet_length(encode(text)) * 31) % 480 + 1 AS INT) AS height,
        |  'stub' AS codec
        |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_lm_buckets" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(w[i:i+1], ' ')), 1, 15) AS BIGINT) AS s
        |  FROM ws, unnest(range(1, len(w))) AS u(i)),
        |c AS (SELECT s, COUNT(*) AS tf FROM g GROUP BY s),
        |sc AS (SELECT doc_id, round(CAST(SUM(tf) AS DOUBLE) / COUNT(*), 6) AS mean_tf
        |       FROM g JOIN c USING (s) GROUP BY doc_id),
        |b AS (SELECT doc_id, mean_tf,
        |        ntile(3) OVER (ORDER BY mean_tf DESC, doc_id) AS b FROM sc)
        |SELECT CASE WHEN b = 1 THEN 'head' WHEN b = 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(min(mean_tf), 6) AS min_score,
        |  round(max(mean_tf), 6) AS max_score,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM b GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_blocklist_filter" ->
      """WITH d AS (SELECT source, doc_id,
        |  list_has_any(string_split_regex(lower(text), '\s+'),
        |               ['slow', 'broken', 'spam']) AS blocked
        |  FROM documents)
        |SELECT source, blocked, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM d GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_shuffle_train_order" ->
      """WITH d AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS draw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY draw, doc_id) AS INT) AS train_pos
        |FROM d ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_token_budget_epochs" ->
      """WITH tk AS (
        |  SELECT source,
        |    CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))) AS BIGINT)
        |      AS tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT CAST(SUM(CAST(SQRT(CAST(tokens AS DOUBLE)) AS DECIMAL(38,9))) AS DOUBLE)
        |        AS sw FROM tk)
        |SELECT source, tokens,
        |  round(3000000.0 * SQRT(CAST(tokens AS DOUBLE)) / sw, 3) AS quota_tokens,
        |  round(3000000.0 * SQRT(CAST(tokens AS DOUBLE)) / sw / CAST(tokens AS DOUBLE), 6)
        |    AS epochs
        |FROM tk, n ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_sq8" ->
      """WITH dims AS (SELECT vec_id, d, v[d] AS x FROM (
        |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |  unnest(range(1, len(v) + 1)) AS u(d)),
        |stats AS (SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d),
        |codes AS (SELECT vec_id, list(
        |    CASE WHEN mx > mn THEN CAST(floor((x - mn) / (mx - mn) * 255) AS BIGINT) ELSE 0 END
        |    ORDER BY d) AS cv
        |  FROM dims JOIN stats USING (d) GROUP BY vec_id),
        |qs AS (SELECT vec_id AS q_id, cv AS qv FROM codes WHERE vec_id < 5),
        |pairs AS (SELECT q_id, vec_id,
        |    CAST(list_sum(list_transform(range(1, len(cv) + 1),
        |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS BIGINT) AS d2
        |  FROM codes, qs WHERE vec_id <> q_id),
        |r AS (SELECT q_id, vec_id AS neighbor, d2,
        |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, vec_id) AS INT)
        |          AS rk
        |      FROM pairs)
        |SELECT q_id, neighbor, d2, rk FROM r WHERE rk <= 5
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_knn_mrl" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, v[1:16] AS pv,
        |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
        |  sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS pnrm FROM v),
        |q AS (SELECT vec_id AS q_id, v AS qv, pv AS qpv, nrm AS qn, pnrm AS qpn
        |      FROM n WHERE vec_id < 5),
        |pre AS (
        |  SELECT q_id, vec_id, qv, v, qn, nrm,
        |    round(list_sum(list_transform(range(1, 17), i -> qpv[i] * pv[i])) / (qpn * pnrm), 4)
        |      AS pcos
        |  FROM n JOIN q ON vec_id <> q_id),
        |cand AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, vec_id) AS prk
        |  FROM pre),
        |fc AS (
        |  SELECT q_id, vec_id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4)
        |      AS cos
        |  FROM cand WHERE prk <= 20),
        |ranked AS (
        |  SELECT q_id, vec_id AS neighbor, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM fc)
        |SELECT q_id, neighbor, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the packed-BIGINT Hamming equals the per-dim sign-disagreement
    // count, so the oracle skips the packing entirely
    "q_knn_binary" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |h AS (
        |  SELECT q_id, vec_id, qv, v, qn, nrm,
        |    CAST(list_sum([CASE WHEN (qv[i+1] > 0) <> (v[i+1] > 0) THEN 1 ELSE 0 END
        |      FOR i IN range(64)]) AS INT) AS ham
        |  FROM n JOIN q ON vec_id <> q_id),
        |cand AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS prk
        |  FROM h),
        |fc AS (
        |  SELECT q_id, vec_id, ham,
        |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) / (qn * nrm), 4)
        |      AS cos
        |  FROM cand WHERE prk <= 20),
        |ranked AS (
        |  SELECT q_id, vec_id AS neighbor, ham, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM fc)
        |SELECT q_id, neighbor, ham, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_blocked_edit" ->
      """WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w AS (SELECT doc_id, text,
        |  md5(array_to_string(
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')[1:5], ' ')) AS bkey
        |  FROM canon)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS lev
        |FROM w a JOIN w b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 50
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_embed_pool" ->
      """WITH ch AS (
        |  SELECT vec_id // 5 AS doc_id, vec_id % 5 AS slot, CAST(i AS INT) AS pos,
        |    CAST(embedding[i + 1] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
        |g AS (
        |  SELECT doc_id, pos, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    SUM(CASE WHEN slot = 0 THEN v END) AS c0,
        |    SUM(CASE WHEN slot = 1 THEN v END) AS c1,
        |    SUM(CASE WHEN slot = 2 THEN v END) AS c2,
        |    SUM(CASE WHEN slot = 3 THEN v END) AS c3,
        |    SUM(CASE WHEN slot = 4 THEN v END) AS c4
        |  FROM ch GROUP BY doc_id, pos)
        |SELECT doc_id, pos, n_chunks,
        |  ((((coalesce(c0, 0) + coalesce(c1, 0)) + coalesce(c2, 0))
        |    + coalesce(c3, 0)) + coalesce(c4, 0)) / n_chunks AS mean_val
        |FROM g ORDER BY ALL NULLS FIRST""".stripMargin,
    // the same 3 unrolled power iterates: index-order list_sum dots,
    // DECIMAL(30,12)-routed per-dim sums, 6-decimal renormalization
    "q_embed_pca" -> {
      val iter = (i: Int) =>
        s"""r$i AS (SELECT list(s ORDER BY d) AS raw FROM (
           |  SELECT d, CAST(SUM(CAST(t.xc[d] * t.dot AS DECIMAL(30,12))) AS DOUBLE) AS s
           |  FROM (SELECT xc.xc AS xc,
           |          list_sum(list_transform(range(1, 65), j -> xc.xc[j] * v${i - 1}.pc[j])) AS dot
           |        FROM xc, v${i - 1}) t, range(1, 65) r(d)
           |  GROUP BY d)),
           |v$i AS (SELECT list_transform(range(1, 65), d ->
           |  round(raw[d] / sqrt(list_sum(list_transform(raw, y -> y * y))), 6)) AS pc
           |  FROM r$i)""".stripMargin
      s"""WITH x0 AS (
         |  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS x
         |  FROM embeddings),
         |mu AS (SELECT list(m ORDER BY d) AS mu FROM (
         |  SELECT d, round(CAST(SUM(CAST(x[d] AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 6) AS m
         |  FROM x0, range(1, 65) r(d) GROUP BY d)),
         |xc AS (SELECT vec_id, list_transform(range(1, 65), d -> x[d] - mu[d]) AS xc
         |       FROM x0, mu),
         |v0 AS (SELECT list_transform(range(1, 65), d -> 0.125) AS pc),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT x.vec_id,
         |  round(list_sum(list_transform(range(1, 65), j -> x.xc[j] * v3.pc[j])), 6) AS proj
         |FROM xc x, v3
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    // the same chain, then deflate against the trained pc1 (v3) and run
    // a SECOND identical iterate chain (w1..w3) over the deflated rows
    "q_embed_pca2" -> {
      val iter = (src: String, v: String, i: Int) =>
        s"""${v}r$i AS (SELECT list(s ORDER BY d) AS raw FROM (
           |  SELECT d, CAST(SUM(CAST(t.xc[d] * t.dot AS DECIMAL(30,12))) AS DOUBLE) AS s
           |  FROM (SELECT $src.xc AS xc,
           |          list_sum(list_transform(range(1, 65), j -> $src.xc[j] * $v${i - 1}.pc[j])) AS dot
           |        FROM $src, $v${i - 1}) t, range(1, 65) r(d)
           |  GROUP BY d)),
           |$v$i AS (SELECT list_transform(range(1, 65), d ->
           |  round(raw[d] / sqrt(list_sum(list_transform(raw, y -> y * y))), 6)) AS pc
           |  FROM ${v}r$i)""".stripMargin
      s"""WITH x0 AS (
         |  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS x
         |  FROM embeddings),
         |mu AS (SELECT list(m ORDER BY d) AS mu FROM (
         |  SELECT d, round(CAST(SUM(CAST(x[d] AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 6) AS m
         |  FROM x0, range(1, 65) r(d) GROUP BY d)),
         |xc AS (SELECT vec_id, list_transform(range(1, 65), d -> x[d] - mu[d]) AS xc
         |       FROM x0, mu),
         |v0 AS (SELECT list_transform(range(1, 65), d -> 0.125) AS pc),
         |${(1 to 3).map(i => iter("xc", "v", i)).mkString(",\n")},
         |xc2 AS (
         |  SELECT t.vec_id, list_transform(range(1, 65), d -> t.xc[d] - t.dot1 * v3.pc[d]) AS xc
         |  FROM (SELECT x.vec_id, x.xc,
         |          list_sum(list_transform(range(1, 65), j -> x.xc[j] * v3.pc[j])) AS dot1
         |        FROM xc x, v3) t, v3),
         |w0 AS (SELECT list_transform(range(1, 65), d -> 0.125) AS pc),
         |${(1 to 3).map(i => iter("xc2", "w", i)).mkString(",\n")}
         |SELECT x.vec_id,
         |  round(list_sum(list_transform(range(1, 65), j -> x.xc[j] * v3.pc[j])), 6) AS proj1,
         |  round(list_sum(list_transform(range(1, 65), j -> x.xc[j] * w3.pc[j])), 6) AS proj2
         |FROM xc x, v3, w3
         |ORDER BY ALL NULLS FIRST""".stripMargin
    },
    "q_importance_resample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST('0x' || substr(md5(x), 1, 7) AS BIGINT) % 128 AS b
        |  FROM documents,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS u(x)),
        |rt AS (
        |  SELECT b,
        |    ((SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) + 1) * 1000000)
        |      // (COUNT(*) + 1) AS r
        |  FROM w GROUP BY b),
        |sc AS (
        |  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(r) AS BIGINT) AS sum_r
        |  FROM w JOIN rt USING (b) GROUP BY doc_id, source),
        |k AS (
        |  SELECT source, doc_id, sum_r // n_tokens AS score,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS draw
        |  FROM sc)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN draw * 1000000 < score * 268435456 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN draw * 1000000 < score * 268435456 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
        |  CAST(SUM(score) AS BIGINT) AS sum_score
        |FROM k GROUP BY source ORDER BY ALL NULLS FIRST""".stripMargin,
  )
}
