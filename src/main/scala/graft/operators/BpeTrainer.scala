package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the
  * vocabulary-induction step of an LLM data pipeline, in the shape real
  * trainers (SentencePiece, HF tokenizers) use at corpus scale:
  *
  *   1. ONE corpus-scale pass counts word frequencies (shuffle keyed on
  *      the word — the only step that touches 100 TB);
  *   2. every merge round then runs over the WORD-FREQUENCY dict (vocab
  *      scale, corpus-size-independent): count adjacent symbol pairs
  *      weighted by word freq, pick the most frequent pair, fuse it in
  *      every word's symbol sequence.
  *
  * Determinism contract (what makes the DuckDB oracle replay bit-for-bit):
  * the winning pair is (max count, then lexicographically smallest pair);
  * fusion is string `replace` on the space-joined symbol sequence with
  * sentinel-space padding — left-to-right, non-overlapping in both
  * engines, which is exactly BPE's greedy left-to-right merge rule
  * (Sennrich et al. 2016). Symbols never contain spaces (they start as
  * single non-space characters and fuse without separators), so the
  * padded `' '+pair+' '` pattern can never match across a symbol
  * boundary.
  *
  * The per-round argmax is a `limit(1).collect()` — one row, bounded by
  * contract (the same pattern as the IVF centroid collects).
  */
object BpeTrainer {

  /** Train `steps` merges over a `(word, freq)` dictionary. Returns one
    * row per merge round: (step, pair, merged, cnt). */
  def train(words: DataFrame, steps: Int): DataFrame = {
    val spark = words.sparkSession
    // symbol sequence = space-joined characters of the word
    var syms = words.select(col("word"), col("freq"),
      concat_ws(" ", split(col("word"), "")).as("s"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    var prevRound: Option[DataFrame] = None
    while (step <= steps && !exhausted) {
      // adjacent symbol pairs weighted by word frequency, as two shifted
      // slices zipped — slice/arrays_zip/concat_ws all CODEGEN, where the
      // former transform(sequence(...), i -> element_at(split(s), i)...)
      // ran interpreted AND re-split the symbol string per element
      // (O(len²) per word; the round-17 profile put ~35% of each train
      // round in that lambda). Words with one symbol left emit no pairs
      // (slice of length 0).
      val a = split(col("s"), " ")
      val zipped = arrays_zip(
        slice(a, lit(1), size(a) - 1).as("x"),
        slice(a, lit(2), size(a) - 1).as("y"))
      val best = syms
        .select(col("freq"), explode(zipped).as("xy"))
        .select(col("freq"), concat_ws(" ", col("xy.x"), col("xy.y")).as("p"))
        .groupBy("p").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("p").asc)
        .limit(1).collect()
      // this collect also materialized the previous round's LAZY symbol
      // checkpoint (it is this plan's leaf) — safe to drop it now
      prevRound.foreach(graft.plans.Checkpoints.release)
      prevRound = None
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val merged = pair.replace(" ", "")
        merges += ((step, pair, merged, cnt))
        // fuse the pair everywhere. Separators are DOUBLED first so each
        // match consumes one space from each neighboring separator and
        // leaves one behind: back-to-back occurrences ("a b a b") then
        // both merge in one pass, where single-space separators made the
        // first match swallow the second's leading space and skip it
        // (caught by BpeTrainerSpec). Pattern quoting is \Q..\E;
        // left-to-right non-overlapping regexp_replace — identical to
        // SQL replace() semantics, which is BPE's greedy merge order.
        val prev = syms
        val doubled = concat(lit(" "),
          regexp_replace(col("s"), " ", "  "), lit(" "))
        val fused = regexp_replace(doubled,
          java.util.regex.Pattern.quote(" " + pair.replace(" ", "  ") + " "),
          java.util.regex.Matcher.quoteReplacement(s" $merged "))
        // LAZY checkpoint: the next round's argmax collect materializes
        // it as that plan's leaf — lineage stays capped per round without
        // paying a separate checkpoint job every merge (was 2 jobs/round,
        // now 1). `prev` is released only after that collect (above), or
        // on loop exit below, because the lazy frame reads prev's blocks
        // when it materializes.
        syms = syms.withColumn("s",
            trim(regexp_replace(fused, "  ", " ")))
          .localCheckpoint(eager = false)
        if (step > 1) prevRound = Some(prev)
        step += 1
      }
    }
    prevRound.foreach(graft.plans.Checkpoints.release)
    // the last round's symbol frame is internal — release before returning
    if (merges.nonEmpty) graft.plans.Checkpoints.release(syms)
    import spark.implicits._
    merges.toSeq.toDF("step", "pair", "merged", "cnt")
  }

  /** [[train]] through [[graft.plans.SessionArtifacts.rows]]. A
    * tokenizer's merge table is a model artifact a real pipeline trains
    * once per corpus and applies from every consumer — the tokenize/
    * fertility/packing queries are CONSUMERS of that artifact, exactly
    * like the ANN family consumes the shared IVF centroids and the
    * ledger consumers the session ledger. `q_bpe_train` itself keeps
    * calling [[train]] inline so its bench row times the actual
    * training. The cached value is the bounded `steps`-row merge
    * table, never corpus-sized. Pass an UN-checkpointed word-frequency
    * frame: the cache keys on input files, which a checkpointed
    * (RDD-backed) frame no longer exposes. */
  def trainCached(words: DataFrame, steps: Int): DataFrame =
    graft.plans.SessionArtifacts.rows(words, s"bpe:$steps") { train(words, steps) }

  /** Apply a learned merge list to a `(word)` frame: replay the merges
    * IN ORDER over each word's character sequence with the same
    * doubled-separator greedy fusion as training, yielding the word's
    * subword symbolization. The whole chain is ONE static expression
    * tree (merges are a driver-side list, bounded by the vocab size the
    * caller trained), so it codegens and runs in a single scan — apply
    * it to the DISTINCT-word dictionary and join back to the corpus,
    * never to raw 100-TB text. Returns the input plus `syms`
    * (space-joined subword symbols). */
  def symbolize(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val chain = merges.foldLeft(
      concat_ws(" ", split(col("word"), "")): org.apache.spark.sql.Column) {
      case (s, (pair, merged)) =>
        trim(regexp_replace(
          regexp_replace(
            concat(lit(" "), regexp_replace(s, " ", "  "), lit(" ")),
            java.util.regex.Pattern.quote(" " + pair.replace(" ", "  ") + " "),
            java.util.regex.Matcher.quoteReplacement(s" $merged ")),
          "  ", " "))
    }
    words.withColumn("syms", chain)
  }

  /** Corpus-side word-frequency dictionary: the one 100-TB-scale pass. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(filter(split(col(textCol), "\\s+"),
        w => w =!= lit(""))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
}
