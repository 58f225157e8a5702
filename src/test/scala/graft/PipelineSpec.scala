package graft

import java.nio.file.Files

import graft.model.Record
import graft.operators.{AnnotationFailedException, Annotators, ViewOperator, AnnotationMode => M}
import graft.plans.{AnnotationEngine, Pipeline}
import graft.sources.Sources

/** An operator that claims a registered operator's mode and version, so
  * every view that operator made is fresh to it, and fails on any record
  * that reaches it. */
final class FailingOperator(val mode: M, val version: String) extends ViewOperator {
  def apply(r: Record): Record =
    throw new AnnotationFailedException(s"${mode.name} reached ${r.identifier}")
}

class PipelineSpec extends SparkSpec {

  private def pipeline = new Pipeline(AnnotationEngine.default)

  private def rawDir(): String = {
    val dir = Files.createTempDirectory("graft-pipe-raw")
    Files.writeString(dir.resolve("a.txt"), "The quick brown fox. It jumps.")
    Files.writeString(dir.resolve("b.txt"), "Alice met Bob in Paris today.")
    dir.toString
  }

  test("raw text dir -> POS: ingests, plans, annotates, writes") {
    val out = Files.createTempDirectory("graft-pipe-out").toString + "/r"
    val result = pipeline.run(spark, rawDir(), M.POS, out)
    val recs = result.collect()
    assert(recs.length == 2)
    assert(recs.forall(r => Set("tokens", "sentences", "pos").subsetOf(r.viewNames)))
    // output dir is readable as a record corpus
    assert(Sources.containsSerializedRecords(spark, out))
  }

  test("thrift input dir is auto-detected and ingested") {
    assume(new java.io.File("/root/reference/samplejob/serialized").isDirectory,
      "reference fixtures not available")
    val ds = pipeline.ingest(spark, "/root/reference/samplejob/serialized")
    assert(ds.collect().forall(_.labelViews.contains("tokens")))
  }

  test("input typing probes one file on the driver: Thrift and raw text, no Spark job") {
    val sparkSession = spark
    import sparkSession.implicits._
    val thrift = Files.createTempDirectory("graft-pipe-thrift").toString + "/t"
    val recs = Seq("Alice met Bob.", "Bob met Carol in Rome.").map(Record.fresh(_))
    graft.sources.ThriftCompat.writeThriftDir(
      AnnotationEngine.default.annotate(recs.toDS(), M.TOKEN), thrift)
    val raw = rawDir()
    val (kinds, sites) = jobCallSites(Seq(thrift, raw).map(pipeline.ingest(spark, _)))
    assert(sites.isEmpty, s"typing the input started ${sites.size} Spark job(s)")
    val fromThrift = kinds.head.collect()
    assert(fromThrift.map(_.identifier).sorted.toSeq == recs.map(_.identifier).sorted)
    assert(fromThrift.forall(_.labelViews.contains("tokens")))
    assert(kinds(1).collect().forall(_.viewNames.isEmpty), "raw text ingests as fresh records")
  }

  test("second run reuses the store: corpus plan is empty, views survive") {
    val base = Files.createTempDirectory("graft-pipe-store").toString
    val out1 = s"$base/out1"; val out2 = s"$base/out2"; val store = s"$base/store"
    val in = rawDir()
    pipeline.run(spark, in, M.POS, out1, storeDir = Some(store))
    assert(Sources.containsSerializedRecords(spark, store))
    // store now has annotated records; a fresh ingest of the same corpus
    // should plan zero jobs after lookup
    val fresh = pipeline.ingest(spark, in)
    val looked = Sources.lookup(fresh, Sources.readRecords(spark, store))
    assert(AnnotationEngine.default.planForCorpus(looked, M.POS).isEmpty)
    // and a full second run still returns fully-annotated records
    val again = pipeline.run(spark, in, M.POS, out2, storeDir = Some(store))
    assert(again.collect().forall(_.labelViews.contains("pos")))
  }

  test("records outside the planning sample are annotated too") {
    val sparkSession = spark
    import sparkSession.implicits._
    val base = Files.createTempDirectory("graft-pipe-unsampled").toString
    val in = s"$base/in"
    val texts = (1 to 400).map(i => s"Document $i says hello to the world.")
    val bare = Set(57, 211, 388).map(i => texts(i - 1))
    val docs = texts.map(graft.model.Record.fresh(_)).toDS()
    Sources.writeRecords(
      AnnotationEngine.default.annotate(docs.filter(r => !bare(r.rawText)), M.POS)
        .union(docs.filter(r => bare(r.rawText))).repartition(4), in)
    val input = Sources.readRecords(spark, in)
    // the layout is such that the seed-42 sample of 25 sees only records at POS
    assert(AnnotationEngine.default.sample(input).collect().forall(r => !bare(r.rawText)))
    assert(AnnotationEngine.default.planForCorpus(input, M.POS).isEmpty)
    val recs = pipeline.run(spark, in, M.POS, s"$base/out").collect()
    assert(recs.length == texts.size)
    val missing = recs.filterNot(r => Set("tokens", "pos").subsetOf(r.viewNames))
    assert(missing.isEmpty, s"${missing.length} records written without tokens and pos")
  }

  test("stale views are recomputed even when every record carries the view") {
    import graft.model.Record
    import graft.operators.Annotators
    val sparkSession = spark
    import sparkSession.implicits._
    val base = Files.createTempDirectory("graft-pipe-stale").toString
    val in = s"$base/in"
    val docs = (1 to 40).map(i => Record.fresh(s"Alice met Bob $i times in Paris.")).toDS()
    val stale = AnnotationEngine.default.annotate(docs, M.POS).map(r =>
      r.copy(labelViews = r.labelViews.updated("pos",
        r.labelViews("pos").copy(source = "graft-pos-OLD"))))
    Sources.writeRecords(stale, in)
    val current = Annotators.registry(M.POS).source
    assert(current != "graft-pos-OLD")
    val recs = pipeline.run(spark, in, M.POS, s"$base/out").collect()
    assert(recs.length == 40)
    assert(recs.forall(_.viewSource("pos").contains(current)),
      "every stale pos view must come out with the registry's current source")
  }

  test("forced start consumes a foreign-source upstream view as-is (end-to-end)") {
    import graft.model.{Labeling, Record, Span}
    val base = Files.createTempDirectory("graft-pipe-forced").toString
    val in = s"$base/in"; val out = s"$base/out"
    // tokens produced by a FOREIGN tool: one giant token whose source
    // string matches no registered operator — normally "stale", so without
    // the forced-start assertion the tokenizer would overwrite it
    val text = "Alice met Bob."
    val foreignSrc = "external-tokenizer-9"
    val foreign = Record.fresh(text).copy(labelViews = Map(
      "tokens" -> Labeling(
        Seq(Span(0, text.length, text, 1.0, foreignSrc, Map.empty)), foreignSrc, 1.0)))
    val sparkSession = spark
    import sparkSession.implicits._
    Sources.writeRecords(Seq(foreign).toDS(), in)
    val recs = pipeline.run(spark, in, M.POS, out, forcedStart = Some(M.POS)).collect()
    assert(recs.length == 1)
    val r = recs.head
    assert(r.viewSource("tokens").contains(foreignSrc),
      "forced start must consume the foreign tokens view as-is, not retokenize")
    assert(r.labelViews("tokens").labels.map(_.label) == Seq(text),
      "the foreign single-token segmentation must survive the run")
    assert(r.labelViews("pos").labels.length == 1,
      "POS must tag the ONE foreign token, not a recomputed segmentation")
  }

  test("store upsert widens records on a deeper annotation run") {
    val sparkSession = spark
    import sparkSession.implicits._
    val base = Files.createTempDirectory("graft-pipe-upsert").toString
    val store = s"$base/store"
    val in = rawDir()
    pipeline.run(spark, in, M.TOKEN, s"$base/o1", storeDir = Some(store))
    pipeline.run(spark, in, M.WIKI, s"$base/o2", storeDir = Some(store))
    val stored = Sources.readRecords(spark, store).collect()
    assert(stored.forall(_.labelViews.contains("wikifier")),
      "store must hold the richer (WIKI) records after upsert")

    // a record input holding one id twice, bare and at TOKEN, run to TOKEN
    // against that store, which holds only ids absent from the input
    val bare = Record.fresh("Carol saw Dave near the river.")
    val tokenized = AnnotationEngine.default.annotate(Seq(bare).toDS(), M.TOKEN).head()
    val dup = s"$base/dup"
    Sources.writeRecords(Seq(bare, tokenized).toDS().repartition(2), dup)
    // the bare copy would reach this operator: only the richer copy may be annotated
    val failingTok = new FailingOperator(M.TOKEN, Annotators.registry(M.TOKEN).version)
    val out = new Pipeline(AnnotationEngine.default.withOperator(failingTok))
      .run(spark, dup, M.TOKEN, s"$base/o3", storeDir = Some(store)).collect()
    assert(out.toSeq == Seq(tokenized), "the output holds the id once, at the richer record")
    val after = Sources.readRecords(spark, store).collect()
    assert(after.filter(_.identifier == bare.identifier).toSeq == Seq(tokenized),
      "the store holds the id once, at the richer record")
    assert(after.filter(_.identifier != bare.identifier).sortBy(_.identifier).toSeq ==
      stored.sortBy(_.identifier).toSeq, "stored records absent from the input are carried over")
  }

  test("a stale view refreshed at equal depth reaches the store") {
    val sparkSession = spark
    import sparkSession.implicits._
    val base = Files.createTempDirectory("graft-pipe-refresh").toString
    val in = s"$base/in"; val store = s"$base/store"
    val docs = (1 to 20).map(i => Record.fresh(s"Alice met Bob $i times in Rome.")).toDS()
    Sources.writeRecords(docs, in)
    Sources.writeRecords(AnnotationEngine.default.annotate(docs, M.POS).map(r =>
      r.copy(labelViews = r.labelViews.updated("pos",
        r.labelViews("pos").copy(source = "graft-pos-OLD")))), store)
    pipeline.run(spark, in, M.POS, s"$base/o1", storeDir = Some(store))
    val current = Annotators.registry(M.POS)
    val stored = Sources.readRecords(spark, store).collect()
    assert(stored.length == 20)
    assert(stored.forall(_.viewSource("pos").contains(current.source)),
      "the refreshed POS views must replace the stale stored ones")
    // so the next run finds every POS view fresh
    val failingPos = new FailingOperator(M.POS, current.version)
    val recs = new Pipeline(AnnotationEngine.default.withOperator(failingPos))
      .run(spark, in, M.POS, s"$base/o2", storeDir = Some(store)).collect()
    assert(recs.length == 20)
  }

  test("a store-backed run over record input shuffles once: the commit adds no exchange") {
    val sparkSession = spark
    import sparkSession.implicits._
    val base = Files.createTempDirectory("graft-pipe-commit").toString
    val in = s"$base/in"; val store = s"$base/store"
    Sources.writeRecords(
      (1 to 40).map(i => Record.fresh(s"Dave sent $i letters to Erin.")).toDS(), in)
    pipeline.run(spark, in, M.TOKEN, s"$base/o1", storeDir = Some(store))
    val (recs, stages) = shuffleWritingStages(
      pipeline.run(spark, in, M.POS, s"$base/o2", storeDir = Some(store)).collect())
    assert(recs.length == 40)
    assert(stages == 1, s"$stages stages wrote shuffle bytes; the identifier repartition is the only one")
  }

  test("annotate runs in every shuffle partition and record dirs are read without a job") {
    val sparkSession = spark
    import sparkSession.implicits._
    val base = Files.createTempDirectory("graft-pipe-slots").toString
    val in = s"$base/in"; val out = s"$base/out"; val store = s"$base/store"
    val docs = (1 to 80).map(i => Record.fresh(s"Record $i meets record ${i + 1} today."))
    // one Parquet file: one input split, so the pass's tasks come from the shuffle
    Sources.writeRecords(docs.toDS().coalesce(1), in)
    pipeline.run(spark, in, M.TOKEN, s"$base/seed", storeDir = Some(store))
    val (recs, sites) = jobCallSites(
      pipeline.run(spark, in, M.POS, out, storeDir = Some(store)).collect())
    assert(recs.length == docs.size)
    assert(recs.forall(r => Set("tokens", "pos").subsetOf(r.viewNames)))
    val slots = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val written = new java.io.File(out).listFiles.toSeq
    assert(written.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) == slots,
      s"one output file per annotate task: ${written.map(_.getName).sorted}")
    assert(!written.exists(_.getName.startsWith("id_prefix=")), "the output is written flat")
    val probing = sites.filter(s =>
      s.contains("Sources$.readRecords(") || s.contains("Sources$.containsSerializedRecords("))
    assert(probing.isEmpty, s"record dirs opened with a Spark job:\n${probing.mkString("\n--\n")}")
  }

  test("a store left in _bak by a crashed swap is recovered before the archive lookup") {
    val base = Files.createTempDirectory("graft-pipe-recover").toString
    val store = s"$base/store"
    val in = rawDir()
    pipeline.run(spark, in, M.POS, s"$base/o1", storeDir = Some(store))
    // the crash window of swapInPlace: the live store moved aside, the new
    // copy not yet promoted
    assert(new java.io.File(store).renameTo(new java.io.File(store + "_bak")))
    val failingPos = new FailingOperator(M.POS, Annotators.registry(M.POS).version)
    val recs = new Pipeline(AnnotationEngine.default.withOperator(failingPos))
      .run(spark, in, M.POS, s"$base/o2", storeDir = Some(store)).collect()
    assert(recs.length == 2)
    assert(recs.forall(_.viewSource("pos").contains(failingPos.source)),
      "every record must come from the archive with its stored POS view")
    assert(new java.io.File(store).isDirectory && !new java.io.File(store + "_bak").exists)
  }
}
