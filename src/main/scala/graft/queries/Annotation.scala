package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{t, ord}
import graft.operators.{AnnotationMode => M}
import graft.plans.AnnotationEngine
import graft.sources.Sources

/** Annotation-operator queries (SURVEY.md §2b) over the driver test tables.
  *
  * Each query ingests a text column into the Record model, runs the real
  * annotation engine (narrow mapPartitions chain), and flattens a checkable
  * projection. Where the annotator is a pure regex/lexicon function the
  * DuckDB oracle replicates it exactly in SQL (tokens, POS tags, chunk
  * islands, NER runs); structurally nested outputs (parse trees, coref
  * clusters, SRL) get rows-only checks here and full checks in ScalaTest.
  *
  * Keyed by md5(rawText) — content-addressed like the engine's sha1
  * identifier, but computable by DuckDB 1.0 (which lacks sha1).
  */
object Annotation {
  type Q = (SparkSession, String) => DataFrame

  private def eng = AnnotationEngine.default

  private def corpus(s: SparkSession, dir: String, table: String, column: String) =
    Sources.fromTextColumn(t(s, dir, table), column)

  /** md5 hex of the raw text — the Scala twin of `functions.md5` used on
    * the oracle side, applied inside the typed pipeline so the projection
    * happens object-side (no serialization of the full nested record). */
  private[queries] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** SQL replica of [[graft.operators.Annotators.PosTagger.tag]] — keep in
    * sync with the Scala rule cascade. */
  private def tagCase(tok: String): String =
    s"""CASE
       |  WHEN NOT regexp_matches($tok, '[A-Za-z0-9]') THEN 'SYM'
       |  WHEN regexp_matches($tok, '^[0-9]+([.,][0-9]+)?$$') THEN 'CD'
       |  WHEN lower($tok) IN ('the','a','an','this','that','these','those') THEN 'DT'
       |  WHEN lower($tok) IN ('of','in','on','at','by','for','with','to','from','as') THEN 'IN'
       |  WHEN lower($tok) IN ('and','or','but','nor','so','yet') THEN 'CC'
       |  WHEN lower($tok) IN ('i','you','he','she','it','we','they','him','her','them','his','its','their','my','your','our') THEN 'PRP'
       |  WHEN lower($tok) IN ('will','would','can','could','shall','should','may','might','must') THEN 'MD'
       |  WHEN lower($tok) IN ('is','are','was','were','be','been','am','being') THEN 'VB'
       |  WHEN lower($tok) LIKE '%ly' AND length($tok) > 3 THEN 'RB'
       |  WHEN lower($tok) LIKE '%ing' AND length($tok) > 4 THEN 'VBG'
       |  WHEN lower($tok) LIKE '%ed' AND length($tok) > 3 THEN 'VBD'
       |  WHEN regexp_matches($tok, '^[A-Z]') THEN 'NNP'
       |  WHEN lower($tok) LIKE '%s' AND length($tok) > 3 THEN 'NNS'
       |  ELSE 'NN' END""".stripMargin

  private val tokRegexSql = "'[A-Za-z0-9_'']+|[^A-Za-z0-9_''\\s]'"

  /** DuckDB whitespace trim matching Scala `Character.isWhitespace` for the
    * chars that occur in text: space, tab, LF, CR. chr() concatenation
    * avoids backslash-escape ambiguity in SQL string literals. */
  private val wsChars = "' ' || chr(9) || chr(10) || chr(13)"

  /** Shared CTE chain reconstructing NER mention spans WITH true character
    * offsets (start = sum of gap+token lengths before the token, where the
    * gaps come from splitting the text BY the token regex) — so multi-token
    * capitalized runs get their exact surface substring, not a guessed
    * re-join. Ends with `mentions(h, st, surf)`. */
  private def mentionsCte(table: String, column: String): String =
    s"""WITH base AS (SELECT DISTINCT $column AS text FROM $table WHERE length($column) > 0),
       |toks AS (SELECT md5(text) AS h, text, regexp_extract_all(text, $tokRegexSql) AS l,
       |    string_split_regex(text, $tokRegexSql) AS g FROM base),
       |off AS (SELECT h, text, l,
       |  [CAST(coalesce(list_sum(list_transform(g[1:i], x -> length(x))), 0)
       |   + coalesce(list_sum(list_transform(l[1:i-1], x -> length(x))), 0) AS INT)
       |   FOR i IN range(1, len(l) + 1)] AS st FROM toks),
       |tk AS (SELECT h, text, i, l[i] AS tok, st[i] AS st, st[i] + length(l[i]) AS en,
       |    CASE WHEN regexp_matches(l[i], '^[A-Z]') THEN 'CAP'
       |         WHEN regexp_matches(l[i], '^[0-9]+([.,][0-9]+)?$$') THEN 'NUM' ELSE 'O' END AS kind
       |  FROM off, unnest(generate_series(1, len(l))) AS u(i)),
       |runs AS (SELECT h, any_value(text) AS text, grp, min(st) AS rst, max(en) AS ren FROM (
       |    SELECT h, text, i, st, en, i - row_number() OVER (PARTITION BY h ORDER BY i) AS grp
       |    FROM tk WHERE kind = 'CAP') GROUP BY h, grp),
       |mentions AS (
       |  SELECT h, rst AS st, substr(text, rst + 1, ren - rst) AS surf FROM runs
       |  UNION ALL
       |  SELECT h, st, tok AS surf FROM tk WHERE kind = 'NUM')""".stripMargin

  /** Distinct non-empty texts tokenized in SQL: (h, l=token list). */
  private def toksCte(table: String, column: String): String =
    s"""toks AS (
       |  SELECT md5($column) AS h, regexp_extract_all($column, $tokRegexSql) AS l
       |  FROM (SELECT DISTINCT $column FROM $table WHERE length($column) > 0))""".stripMargin

  val all: Map[String, Q] = Map(
    // TOKEN + SENTENCE (fused multilabeler). The projection runs inside the
    // typed pipeline (map on Record), so only (h, n, n) crosses the
    // object->Tungsten boundary — not the full nested view maps.
    "q_annotate_tokens" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ann = eng.annotate(corpus(s, dir, "documents", "text"), M.TOKEN)
      ord(ann.map(r => (md5Hex(r.rawText),
          r.labelViews("tokens").labels.size,
          r.labelViews("sentences").labels.size))
        .toDF("h", "n_tokens", "n_sentences"))
    }),
    // whitespaced (ws*) ingest path: pre-tokenized documents split on
    // whitespace only, one sentence per doc (CuratorHandler.wsprovide)
    "q_annotate_ws_tokens" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ws = Sources.fromTextColumn(t(s, dir, "documents"), "text", whitespaced = true)
      val ann = eng.annotate(ws, M.TOKEN)
      ord(ann.map(r => (md5Hex(r.rawText),
          r.labelViews("tokens").labels.size,
          r.labelViews("sentences").labels.size))
        .toDF("h", "n_tokens", "n_sentences"))
    }),
    // POS: every (token, tag) pair, positionally
    "q_annotate_pos" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ann = eng.annotate(corpus(s, dir, "documents", "text"), M.POS)
      ord(ann.flatMap { r =>
          val h = md5Hex(r.rawText)
          val toks = r.labelViews("tokens").labels
          val tags = r.labelViews("pos").labels
          toks.indices.map(i => (h, i, toks(i).label, tags(i).label))
        }.toDF("h", "idx", "token", "tag"))
    }),
    // CHUNK: NP/VP island counts per document
    "q_annotate_chunks" -> ((s, dir) => {
      val ann = eng.annotate(corpus(s, dir, "documents", "text"), M.CHUNK)
      ord(ann.toDF.select(
        md5(col("rawText")).as("h"),
        expr("size(filter(labelViews['chunk'].labels, x -> x.label = 'NP'))").as("n_np"),
        expr("size(filter(labelViews['chunk'].labels, x -> x.label = 'VP'))").as("n_vp")))
    }),
    // NER on a mixed-case corpus (customer names carry caps + digits)
    "q_annotate_ner" -> ((s, dir) => {
      val ann = eng.annotate(corpus(s, dir, "customer", "c_name"), M.NER)
      ord(ann.toDF.select(
        md5(col("rawText")).as("h"),
        expr("size(filter(labelViews['ner'].labels, x -> x.label = 'MISC'))").as("n_entities"),
        expr("size(filter(labelViews['ner'].labels, x -> x.label = 'CARDINAL'))").as("n_cardinals")))
    }),
    // NER-EXT: the reference's extended-NER variant view
    // (`CuratorClient.java:1022-1058`) hosted through the OPEN registry —
    // the dynamic-view path a deployment uses for any extra annotator.
    // The corpus is a deterministic composite sentence per customer so
    // all five extended types actually occur (bare c_name exercises only
    // PERSON + ID); the oracle replays the run/number classification
    // rules in SQL and counts per type.
    "q_annotate_ner_ext" -> ((s, dir) => {
      val txt = t(s, dir, "customer").select(concat(col("c_name"),
        lit(" met Acme Corp in January 1995 buying "),
        (col("c_custkey") % 50).cast("string"), lit(" units")).as("text"))
      val engExt = eng.withOperator(graft.operators.Annotators.NerExtTagger)
      val ann = engExt.annotate(Sources.fromTextColumn(txt, "text"), M.NER)
      def n(lab: String) =
        expr(s"size(filter(labelViews['ner-ext'].labels, x -> x.label = '$lab'))")
      ord(ann.toDF.select(
        md5(col("rawText")).as("h"),
        n("PERSON").as("n_person"), n("ORG").as("n_org"),
        n("DATE").as("n_date"), n("ID").as("n_id"),
        n("CARDINAL").as("n_cardinal")))
    }),
    // WIKI: entity linking summary (title/url attributes)
    "q_annotate_wiki" -> ((s, dir) => {
      val ann = eng.annotate(corpus(s, dir, "customer", "c_name"), M.WIKI)
      ord(ann.toDF.select(
        md5(col("rawText")).as("h"),
        expr("size(labelViews['wikifier'].labels)").as("n_links"),
        expr("labelViews['wikifier'].labels[0].attributes['url']").as("first_url")))
    }),
    // PARSE: tree shape summary (full nested structure in ScalaTest)
    "q_annotate_parse" -> ((s, dir) => {
      val ann = eng.annotate(corpus(s, dir, "documents", "text"), M.PARSE)
      ord(ann.toDF.select(
        md5(col("rawText")).as("h"),
        expr("size(parseViews['charniak'].trees)").as("n_trees"),
        expr("aggregate(parseViews['charniak'].trees, 0, (a, t) -> a + size(t.nodes))").as("n_nodes")))
    }),
    // STANFORD_PARSE: the multiparser's dependency view — per doc: tree
    // count, sum of root positions (first VB-ish token per sentence, else
    // 0) and total dependency edges (n_tokens - 1 per sentence)
    "q_annotate_stanford" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ann = eng.annotate(corpus(s, dir, "documents", "text"), M.STANFORD_PARSE)
      ord(ann.map { r =>
          val trees = r.parseViews("stanfordDep").trees
          (md5Hex(r.rawText), trees.size,
            trees.map(_.top).sum,
            trees.map(t => math.max(t.nodes.size - 1, 0)).sum)
        }.toDF("h", "n_trees", "root_sum", "n_deps"))
    }),

    // COREF + SRL summary
    "q_annotate_coref" -> ((s, dir) => {
      val ann = eng.annotate(corpus(s, dir, "customer", "c_name"), M.COREF)
      ord(ann.toDF.select(
        md5(col("rawText")).as("h"),
        expr("size(clusterViews['coref'].clusters)").as("n_clusters"),
        expr("aggregate(clusterViews['coref'].clusters, 0, (a, c) -> a + size(c.labels))").as("n_mentions")))
    }),
    "q_annotate_srl" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val ann = eng.annotate(corpus(s, dir, "documents", "text"), M.VERB_SRL)
      // project inside the typed pipeline: only (h, n, n) crosses the
      // object->Tungsten boundary, not the full five-view nested record
      ord(ann.map { r =>
          val trees = r.parseViews("srl").trees
          (md5Hex(r.rawText), trees.size, trees.map(_.nodes.size - 1).sum)
        }.toDF("h", "n_predicates", "n_args"))
    }),

    // The reference's ACTUAL workload shape (JobHandler.java:163-194):
    // not one annotator over an in-memory corpus but the full D11-D18
    // chain — ingest a record DIRECTORY, annotate the dependency chain
    // in one narrow pass, rotate old output, write, upsert the
    // archive. The three q_annotate_* singles above time the operator;
    // this times the COMPOSITION, so a regression in the input probe,
    // the rotation protocol, or the store upsert shows up in the bench
    // even when each piece passes its own spec. Staging (documents ->
    // record dir) is cached per sfDir; store and output are reset each
    // run so every run measures the identical cold path: the archive-HIT
    // path (every record's views found fresh, so the annotate pass is a
    // per-record no-op) is a different workload, spec'd in PipelineSpec,
    // and mixing the two would make min-of-N report whichever the
    // scheduler hit. Oracle: per distinct non-empty
    // doc, n_tokens is the tokenizer replica from q_annotate_tokens and
    // n_pos equals it (the tagger emits exactly one tag per token) — so
    // the full D11-D18 chain is value-checked, not just row-counted.
    "q_pipeline_e2e" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      // cache key = dir + a cheap corpus fingerprint (count + id/length
      // sums), not the path alone: regenerating the fixture data in
      // place must restage, not silently run the pipeline over a stale
      // staged corpus that no longer matches what q_annotate_* read
      val fp = t(s, dir, "documents").agg(count(lit(1)),
        coalesce(sum(col("doc_id")), lit(0L)),
        coalesce(sum(length(col("text"))), lit(0L))).head()
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_e2e_" + md5Hex(
          s"$dir|${fp.getLong(0)}|${fp.getLong(1)}|${fp.getLong(2)}").take(12))
        .getAbsolutePath
      val inDir = s"$base/input"
      // _SUCCESS, not the bare dir: a crashed partial write must restage,
      // not poison every later run of the cached corpus
      if (!new java.io.File(inDir, "_SUCCESS").isFile)
        Sources.writeRecords(corpus(s, dir, "documents", "text"), inDir,
          idPrefixPartitions = true)
      val outDir = s"$base/out"
      val storeDir = s"$base/store"
      for (d <- Seq(outDir, storeDir)) // fresh chain every run
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      val ann = new graft.plans.Pipeline(eng)
        .run(s, inDir, M.POS, outDir, storeDir = Some(storeDir))
      ord(ann.map { r =>
          (md5Hex(r.rawText), r.labelViews("tokens").labels.size,
            r.labelViews("pos").labels.size)
        }.toDF("h", "n_tokens", "n_pos"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_annotate_tokens" ->
      s"""SELECT md5(text) AS h,
         |  CAST(len(regexp_extract_all(text, $tokRegexSql)) AS INT) AS n_tokens,
         |  CAST(len(list_filter(regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x, $wsChars) != '')) AS INT) AS n_sentences
         |FROM (SELECT DISTINCT text FROM documents WHERE length(text) > 0)
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_annotate_ws_tokens" ->
      """SELECT md5(text) AS h,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS INT) AS n_tokens,
        |  1 AS n_sentences
        |FROM (SELECT DISTINCT text FROM documents WHERE length(text) > 0)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // The composed pipeline carries the same per-doc counts the singles
    // check: tokens from the TOKEN view, one POS tag per token.
    "q_pipeline_e2e" ->
      s"""SELECT md5(text) AS h,
         |  CAST(len(regexp_extract_all(text, $tokRegexSql)) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, $tokRegexSql)) AS INT) AS n_pos
         |FROM (SELECT DISTINCT text FROM documents WHERE length(text) > 0)
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_annotate_pos" ->
      s"""WITH ${toksCte("documents", "text")}
         |SELECT h, CAST(i - 1 AS INT) AS idx, l[i] AS token,
         |  ${tagCase("l[i]")} AS tag
         |FROM toks, unnest(generate_series(1, len(l))) AS u(i)
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_annotate_chunks" ->
      s"""WITH ${toksCte("documents", "text")},
         |tagged AS (
         |  SELECT h, i, ${tagCase("l[i]")} AS tag
         |  FROM toks, unnest(generate_series(1, len(l))) AS u(i)),
         |kinds AS (
         |  SELECT h, i,
         |    CASE WHEN tag IN ('DT','CD','PRP','NN','NNS','NNP') THEN 'NP'
         |         WHEN tag IN ('MD','VB','VBD','VBG','RB') THEN 'VP'
         |         ELSE 'O' END AS kind
         |  FROM tagged),
         |isl AS (
         |  SELECT h, kind, i - row_number() OVER (PARTITION BY h, kind ORDER BY i) AS grp
         |  FROM kinds WHERE kind <> 'O')
         |SELECT toks.h,
         |  CAST(coalesce(any_value(np.n), 0) AS INT) AS n_np,
         |  CAST(coalesce(any_value(vp.n), 0) AS INT) AS n_vp
         |FROM toks
         |LEFT JOIN (SELECT h, count(DISTINCT grp) AS n FROM isl WHERE kind = 'NP' GROUP BY h) np ON toks.h = np.h
         |LEFT JOIN (SELECT h, count(DISTINCT grp) AS n FROM isl WHERE kind = 'VP' GROUP BY h) vp ON toks.h = vp.h
         |GROUP BY toks.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_annotate_ner" ->
      s"""WITH ${toksCte("customer", "c_name")},
         |kinds AS (
         |  SELECT h, i,
         |    CASE WHEN regexp_matches(l[i], '^[A-Z]') THEN 'CAP'
         |         WHEN regexp_matches(l[i], '^[0-9]+([.,][0-9]+)?$$') THEN 'NUM'
         |         ELSE 'O' END AS kind
         |  FROM toks, unnest(generate_series(1, len(l))) AS u(i)),
         |caps AS (
         |  SELECT h, i - row_number() OVER (PARTITION BY h ORDER BY i) AS grp
         |  FROM kinds WHERE kind = 'CAP'),
         |nums AS (SELECT h, count(*) AS n FROM kinds WHERE kind = 'NUM' GROUP BY h)
         |SELECT toks.h,
         |  CAST(coalesce(any_value(c.n), 0) AS INT) AS n_entities,
         |  CAST(coalesce(any_value(nums.n), 0) AS INT) AS n_cardinals
         |FROM toks
         |LEFT JOIN (SELECT h, count(DISTINCT grp) AS n FROM caps GROUP BY h) c ON toks.h = c.h
         |LEFT JOIN nums ON toks.h = nums.h
         |GROUP BY toks.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_annotate_ner_ext" ->
      s"""WITH base AS (SELECT DISTINCT c_name || ' met Acme Corp in January 1995 buying '
         |    || CAST(c_custkey % 50 AS VARCHAR) || ' units' AS text
         |  FROM customer WHERE length(c_name) > 0),
         |toks AS (SELECT md5(text) AS h, regexp_extract_all(text, $tokRegexSql) AS l FROM base),
         |tk AS (SELECT h, i, l[i] AS tok,
         |    CASE WHEN regexp_matches(l[i], '^[A-Z]') THEN 'CAP'
         |         WHEN regexp_matches(l[i], '^[0-9]+([.,][0-9]+)?$$') THEN 'NUM'
         |         ELSE 'O' END AS kind
         |  FROM toks, unnest(generate_series(1, len(l))) AS u(i)),
         |runs AS (SELECT h, grp, count(*) AS n_toks, min(i) AS fi FROM (
         |    SELECT h, i, i - row_number() OVER (PARTITION BY h ORDER BY i) AS grp
         |    FROM tk WHERE kind = 'CAP') GROUP BY h, grp),
         |rl AS (SELECT r.h,
         |    CASE WHEN lower(t.tok) IN ('january','february','march','april','may','june',
         |           'july','august','september','october','november','december') THEN 'DATE'
         |         WHEN r.n_toks >= 2 THEN 'ORG' ELSE 'PERSON' END AS lab
         |  FROM runs r JOIN tk t ON t.h = r.h AND t.i = r.fi),
         |nl AS (SELECT h,
         |    CASE WHEN regexp_matches(tok, '^(19|20)[0-9][0-9]$$') THEN 'DATE'
         |         WHEN regexp_matches(tok, '^[0-9]{7,}$$') THEN 'ID'
         |         ELSE 'CARDINAL' END AS lab
         |  FROM tk WHERE kind = 'NUM'),
         |lab AS (SELECT h, lab FROM rl UNION ALL SELECT h, lab FROM nl)
         |SELECT toks.h,
         |  CAST(coalesce(SUM(CASE WHEN lab.lab = 'PERSON' THEN 1 END), 0) AS INT) AS n_person,
         |  CAST(coalesce(SUM(CASE WHEN lab.lab = 'ORG' THEN 1 END), 0) AS INT) AS n_org,
         |  CAST(coalesce(SUM(CASE WHEN lab.lab = 'DATE' THEN 1 END), 0) AS INT) AS n_date,
         |  CAST(coalesce(SUM(CASE WHEN lab.lab = 'ID' THEN 1 END), 0) AS INT) AS n_id,
         |  CAST(coalesce(SUM(CASE WHEN lab.lab = 'CARDINAL' THEN 1 END), 0) AS INT) AS n_cardinal
         |FROM toks LEFT JOIN lab ON lab.h = toks.h
         |GROUP BY toks.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_annotate_stanford" ->
      s"""WITH base AS (SELECT DISTINCT text FROM documents WHERE length(text) > 0),
         |sents AS (SELECT md5(text) AS h, unnest(list_filter(regexp_extract_all(text, '[^.!?]+[.!?]*'),
         |    x -> trim(x, $wsChars) != '')) AS sent FROM base),
         |pers AS (SELECT h, regexp_extract_all(sent, $tokRegexSql) AS toks FROM sents),
         |tags AS (SELECT h, len(toks) AS n_toks, [${tagCase("tok")} FOR tok IN toks] AS tg FROM pers),
         |per AS (SELECT h, n_toks,
         |    greatest(coalesce(list_position([t LIKE 'VB%' FOR t IN tg], true), 0) - 1, 0) AS root FROM tags),
         |agg AS (SELECT h, count(*) AS n_trees, sum(root) AS root_sum,
         |    sum(n_toks - 1) AS n_deps FROM per GROUP BY h)
         |SELECT b.h, CAST(coalesce(any_value(agg.n_trees), 0) AS INT) AS n_trees,
         |  CAST(coalesce(any_value(agg.root_sum), 0) AS INT) AS root_sum,
         |  CAST(coalesce(any_value(agg.n_deps), 0) AS INT) AS n_deps
         |FROM (SELECT md5(text) AS h FROM base) b LEFT JOIN agg ON b.h = agg.h GROUP BY b.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // PARSE: the shallow tree is S -> chunk-kind islands -> token leaves,
    // so per sentence nodes = 1 + n_islands + n_tokens; sentences replicate
    // the trimmed sentence regex, islands the tag->kind cascade.
    "q_annotate_parse" ->
      s"""WITH base AS (SELECT DISTINCT text FROM documents WHERE length(text) > 0),
         |sents AS (SELECT md5(text) AS h, unnest(list_filter(regexp_extract_all(text, '[^.!?]+[.!?]*'),
         |    x -> trim(x, $wsChars) != '')) AS sent FROM base),
         |pers AS (SELECT h, regexp_extract_all(sent, $tokRegexSql) AS toks FROM sents),
         |tags AS (SELECT h, len(toks) AS n_toks, [${tagCase("tok")} FOR tok IN toks] AS tg FROM pers),
         |kinds AS (SELECT h, n_toks, [CASE WHEN t IN ('DT','CD','PRP','NN','NNS','NNP') THEN 'NP'
         |    WHEN t IN ('MD','VB','VBD','VBG','RB') THEN 'VP' ELSE 'X' END FOR t IN tg] AS k FROM tags),
         |per AS (SELECT h, 1 + len([i FOR i IN range(1, len(k)+1) IF i = 1 OR k[i] != k[i-1]]) + n_toks AS nodes FROM kinds),
         |agg AS (SELECT h, count(*) AS n_trees, sum(nodes) AS n_nodes FROM per GROUP BY h)
         |SELECT b.h, CAST(coalesce(any_value(agg.n_trees), 0) AS INT) AS n_trees,
         |  CAST(coalesce(any_value(agg.n_nodes), 0) AS INT) AS n_nodes
         |FROM (SELECT md5(text) AS h FROM base) b LEFT JOIN agg ON b.h = agg.h GROUP BY b.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // VERB_SRL: predicates = VP islands over the whole-document chunk
    // sequence; args = nearest NP island strictly left / strictly right.
    "q_annotate_srl" ->
      s"""WITH base AS (SELECT DISTINCT text FROM documents WHERE length(text) > 0),
         |toks AS (SELECT md5(text) AS h, regexp_extract_all(text, $tokRegexSql) AS l FROM base),
         |tk AS (SELECT h, i, ${tagCase("l[i]")} AS tag
         |  FROM toks, unnest(generate_series(1, len(l))) AS u(i)),
         |kinds AS (SELECT h, i, CASE WHEN tag IN ('DT','CD','PRP','NN','NNS','NNP') THEN 'NP'
         |    WHEN tag IN ('MD','VB','VBD','VBG','RB') THEN 'VP' ELSE 'O' END AS kind FROM tk),
         |isl AS (SELECT h, kind, min(i) AS fi, max(i) AS li FROM (
         |    SELECT h, i, kind, i - row_number() OVER (PARTITION BY h, kind ORDER BY i) AS grp
         |    FROM kinds WHERE kind <> 'O') GROUP BY h, kind, grp),
         |vp AS (SELECT h, fi, li FROM isl WHERE kind = 'VP'),
         |np AS (SELECT h, fi, li FROM isl WHERE kind = 'NP'),
         |args AS (SELECT vp.h,
         |    (CASE WHEN EXISTS (SELECT 1 FROM np WHERE np.h = vp.h AND np.li < vp.fi) THEN 1 ELSE 0 END)
         |  + (CASE WHEN EXISTS (SELECT 1 FROM np WHERE np.h = vp.h AND np.fi > vp.li) THEN 1 ELSE 0 END) AS n_args
         |  FROM vp),
         |agg AS (SELECT h, count(*) AS n_predicates, sum(n_args) AS n_args FROM args GROUP BY h)
         |SELECT t.h, CAST(coalesce(any_value(agg.n_predicates), 0) AS INT) AS n_predicates,
         |  CAST(coalesce(any_value(agg.n_args), 0) AS INT) AS n_args
         |FROM toks t LEFT JOIN agg ON t.h = agg.h GROUP BY t.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // COREF: clusters = distinct case-insensitive mention surfaces.
    "q_annotate_coref" ->
      s"""${mentionsCte("customer", "c_name")},
         |agg AS (SELECT h, count(DISTINCT lower(surf)) AS n_clusters, count(*) AS n_mentions
         |  FROM mentions GROUP BY h)
         |SELECT t.h, CAST(coalesce(any_value(agg.n_clusters), 0) AS INT) AS n_clusters,
         |  CAST(coalesce(any_value(agg.n_mentions), 0) AS INT) AS n_mentions
         |FROM toks t LEFT JOIN agg ON t.h = agg.h GROUP BY t.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // WIKI: link count + url attribute of the first mention (token order).
    "q_annotate_wiki" ->
      s"""${mentionsCte("customer", "c_name")},
         |firstm AS (SELECT h, surf, row_number() OVER (PARTITION BY h ORDER BY st) AS rn FROM mentions),
         |agg AS (SELECT f.h, any_value(c.n) AS n_links,
         |    'https://en.wikipedia.org/wiki/' || replace(any_value(f.surf), ' ', '_') AS first_url
         |  FROM firstm f JOIN (SELECT h, count(*) AS n FROM mentions GROUP BY h) c ON f.h = c.h
         |  WHERE f.rn = 1 GROUP BY f.h)
         |SELECT t.h, CAST(coalesce(any_value(agg.n_links), 0) AS INT) AS n_links,
         |  any_value(agg.first_url) AS first_url
         |FROM toks t LEFT JOIN agg ON t.h = agg.h GROUP BY t.h
         |ORDER BY ALL NULLS FIRST""".stripMargin,
  )
}
