package graft

import java.nio.file.Files

import graft.operators.{AnnotationMode => M}
import graft.plans.{AnnotationEngine, Pipeline}
import graft.sources.Sources

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
    val base = Files.createTempDirectory("graft-pipe-upsert").toString
    val store = s"$base/store"
    val in = rawDir()
    pipeline.run(spark, in, M.TOKEN, s"$base/o1", storeDir = Some(store))
    pipeline.run(spark, in, M.WIKI, s"$base/o2", storeDir = Some(store))
    val stored = Sources.readRecords(spark, store).collect()
    assert(stored.forall(_.labelViews.contains("wikifier")),
      "store must hold the richer (WIKI) records after upsert")
  }
}
