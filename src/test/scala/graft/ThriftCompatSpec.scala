package graft

import java.nio.file.{Files, Paths}

import graft.model.{Invariants, Record}
import graft.operators.{AnnotationMode => M}
import graft.plans.{AnnotationEngine, Planner}
import graft.operators.Annotators
import graft.sources.ThriftCompat

/** Validates the compat codec against the reference's own golden fixtures
  * (`/root/reference/samplejob/serialized` and `output` — four records with
  * `tokens`/`sentences` from illinoistokenizer-0.4 and `pos` from
  * illinoispos-0.2). */
class ThriftCompatSpec extends SparkSpec {

  private val serializedDir = "/root/reference/samplejob/serialized"
  private val outputDir = "/root/reference/samplejob/output"

  private def fixtureFiles(dir: String): Seq[java.nio.file.Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".txt")).toSeq.sortBy(_.toString)
      } finally s.close()
    }
  }

  test("decode reference serialized fixtures: tokens/sentences views present, spans in bounds") {
    val files = fixtureFiles(serializedDir)
    assume(files.nonEmpty, "reference fixtures not available")
    for (f <- files) {
      val r = ThriftCompat.readRecord(Files.readAllBytes(f))
      assert(r.rawText.nonEmpty)
      assert(r.identifier.nonEmpty)
      assert(r.labelViews.contains("tokens"), s"$f missing tokens view")
      assert(r.labelViews.contains("sentences"), s"$f missing sentences view")
      assert(r.labelViews("tokens").source.startsWith("illinoistokenizer"),
        s"provenance: ${r.labelViews("tokens").source}")
      for (s <- r.labelViews("tokens").labels)
        assert(0 <= s.start && s.start < s.ending && s.ending <= r.rawText.length)
      // file name is the content identifier (reference layout)
      assert(f.getFileName.toString == s"${r.identifier}.txt")
    }
  }

  test("decode reference output fixtures: pos view added by the hadoop job") {
    val files = fixtureFiles(outputDir)
    assume(files.nonEmpty, "reference fixtures not available")
    val recs = files.map(f => ThriftCompat.readRecord(Files.readAllBytes(f)))
    assert(recs.exists(_.labelViews.contains("pos")))
    val pos = recs.find(_.labelViews.contains("pos")).get.labelViews("pos")
    assert(pos.source.startsWith("illinoispos"))
    assert(pos.labels.nonEmpty)
  }

  test("round-trip: write(read(bytes)) decodes to the same model value") {
    val files = fixtureFiles(serializedDir)
    assume(files.nonEmpty, "reference fixtures not available")
    for (f <- files) {
      val r1 = ThriftCompat.readRecord(Files.readAllBytes(f))
      val r2 = ThriftCompat.readRecord(ThriftCompat.writeRecord(r1))
      assert(r1 == r2, s"round-trip mismatch for $f")
    }
  }

  test("TBinaryProtocol layout of a minimal Record, hand-encoded (curator.thrift:29-44)") {
    // struct Record { 1: string identifier, 2: string rawText,
    //   3: map<string, Labeling> labelViews, 4: map<string, Clustering>
    //   clusterViews, 5: map<string, Forest> parseViews,
    //   6: map<string, View> views, 7: bool whitespaced }
    // Binary protocol: a field is (type byte, i16 id, value); a string is
    // (i32 length, UTF-8 bytes); a map is (key type, value type, i32 size);
    // a struct ends with a STOP byte. All integers are big-endian.
    val (tString, tMap, tBool, tStruct, tStop) = (11, 13, 2, 12, 0)
    val out = new java.io.ByteArrayOutputStream
    val data = new java.io.DataOutputStream(out)
    def field(tpe: Int, id: Int): Unit = { data.writeByte(tpe); data.writeShort(id) }
    def string(id: Int, v: String): Unit = {
      field(tString, id)
      val b = v.getBytes("UTF-8"); data.writeInt(b.length); data.write(b)
    }
    def emptyViewMap(id: Int): Unit = {
      field(tMap, id); data.writeByte(tString); data.writeByte(tStruct); data.writeInt(0)
    }
    val expected = Record.fresh("Alice met Bob.", whitespaced = true)
    string(1, expected.identifier)
    string(2, expected.rawText)
    (3 to 6).foreach(emptyViewMap)
    field(tBool, 7); data.writeByte(1)
    data.writeByte(tStop)
    data.flush()
    val bytes = out.toByteArray
    val r = ThriftCompat.readRecord(bytes)
    assert(r == expected)
    assert(ThriftCompat.writeRecord(r).toSeq == bytes.toSeq,
      "writing the decoded record back must give the same bytes")
  }

  test("round-trip of engine-annotated records (all view kinds)") {
    val r0 = Record.fresh("Alice met Bob. Alice paid 42 dollars!")
    val full = Seq(M.WIKI, M.COREF, M.VERB_SRL, M.STANFORD_PARSE)
      .foldLeft(r0)((r, m) =>
        Planner.provide(Annotators.registry, Planner.chain(m), force = false)(r))
    assert(full.labelViews.nonEmpty && full.clusterViews.nonEmpty && full.parseViews.nonEmpty)
    val back = ThriftCompat.readRecord(ThriftCompat.writeRecord(full))
    assert(back == full)
  }

  test("golden flow: reference job output preserves input views and adds pos (verifyRecords semantics)") {
    val inFiles = fixtureFiles(serializedDir); val outFiles = fixtureFiles(outputDir)
    assume(inFiles.nonEmpty && outFiles.nonEmpty, "reference fixtures not available")
    val before = ThriftCompat.readThriftDir(spark, serializedDir)
    val after = ThriftCompat.readThriftDir(spark, outputDir)
    // D17: raw text unchanged through the reference's own hadoop job
    val drift = AnnotationEngine.default.textConsistent(before, after, tol = 0).collect()
    assert(drift.nonEmpty && drift.forall(_._2), "rawText must be identical")
    // D16: per-view diff — the reference's serialized fixtures already
    // carry tokens/sentences/pos (FIXTURES.md A2), and its job output
    // preserves them verbatim: every view diff must report a match
    val diff = AnnotationEngine.default.verify(before, after).collect()
    assert(diff.map(_._2).toSet == Set("tokens", "sentences", "pos"))
    assert(diff.forall(_._3),
      s"golden diff must be clean, got mismatches: ${diff.filterNot(_._3).toSeq}")
  }

  test("spark source: thrift dir -> Dataset[Record] -> annotate -> thrift sink -> read back") {
    val files = fixtureFiles(serializedDir)
    assume(files.nonEmpty, "reference fixtures not available")
    val ds = ThriftCompat.readThriftDir(spark, serializedDir)
    val recs = ds.collect()
    assert(recs.length == files.size)
    assert(recs.forall(_.labelViews.contains("tokens")))
    // annotate with our POS on top of the reference tokens: stale source
    // (illinoistokenizer-0.4 != graft) triggers recompute cascade
    val annotated = AnnotationEngine.default.annotate(ds, M.POS)
    val out = Files.createTempDirectory("graft-thrift-out").toString
    ThriftCompat.writeThriftDir(annotated, out)
    val back = ThriftCompat.readThriftDir(spark, out).collect()
    assert(back.length == recs.length)
    assert(back.forall(_.labelViews.contains("pos")))
    assert(back.forall(r => r.labelViews("pos").source.startsWith("graft-pos")))
    assert(back.forall(Invariants.valid))
  }
}
