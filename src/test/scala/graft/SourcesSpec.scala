package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Encoders

import graft.model.{Identifier, Record}
import graft.sources.Sources

class SourcesSpec extends SparkSpec {

  test("rawTextDir: .txt files become fresh records; empty docs rejected; dups collapse (D3/D8)") {
    val dir = Files.createTempDirectory("graft-raw")
    Files.writeString(dir.resolve("a.txt"), "first document text")
    Files.writeString(dir.resolve("b.txt"), "second document text")
    Files.writeString(dir.resolve("dup.txt"), "first document text") // duplicate content
    Files.writeString(dir.resolve("empty.txt"), "")
    // neither a file without the .txt suffix nor a .txt file in a plain
    // subdirectory is a document
    Files.writeString(dir.resolve("notes.md"), "not a document")
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.writeString(sub.resolve("nested.txt"), "nested document text")
    val ds = Sources.rawTextDir(spark, dir.toString)
    val recs = ds.collect()
    assert(recs.map(_.rawText).toSet == Set("first document text", "second document text"),
      "empty rejected, duplicate collapsed by content hash, only top-level .txt read")
    assert(recs.forall(r => r.identifier == Identifier.id(r.rawText, false)))
    assert(recs.forall(r => r.viewNames.isEmpty))
  }

  test("rawTextDir: empty dir is an empty corpus; missing dir and k=v subdirs fail") {
    val empty = Files.createTempDirectory("graft-raw-empty")
    assert(Sources.rawTextDir(spark, empty.toString).count() == 0)
    val missing = intercept[org.apache.spark.SparkThrowable](
      Sources.rawTextDir(spark, empty.resolve("missing").toString))
    assert(missing.getCondition == "PATH_NOT_FOUND")
    // a k=v subdirectory would read as a partition, and Spark would then
    // read only the partition's files and drop the top-level documents
    val kv = Files.createTempDirectory("graft-raw-kv")
    Files.writeString(kv.resolve("a.txt"), "top-level document")
    val part = Files.createDirectory(kv.resolve("lang=en"))
    Files.writeString(part.resolve("b.txt"), "partition document")
    val refused = intercept[IllegalArgumentException](Sources.rawTextDir(spark, kv.toString))
    assert(refused.getMessage.contains("lang"))
    // one level deeper, Spark's own partition discovery refuses the layout
    val nested = Files.createTempDirectory("graft-raw-nested")
    Files.writeString(nested.resolve("a.txt"), "top-level document")
    val deep = Files.createDirectories(nested.resolve("plain").resolve("lang=en"))
    Files.writeString(deep.resolve("b.txt"), "partition document")
    val conflict = intercept[org.apache.spark.SparkThrowable](
      Sources.rawTextDir(spark, nested.toString).collect())
    assert(conflict.getCondition == "CONFLICTING_DIRECTORY_STRUCTURES")
  }

  test("fromTextColumn: column-form sha1 identity matches the Scala form") {
    import spark.implicits._
    val df = Seq("alpha text", "beta text").toDF("text")
    val recs = Sources.fromTextColumn(df, "text").collect()
    assert(recs.length == 2)
    for (r <- recs) assert(r.identifier == Identifier.id(r.rawText, false))
  }

  test("record store round-trip with id-prefix partitioning (D7)") {
    import spark.implicits._
    val recs = (1 to 50).map(i => Record.fresh(s"document number $i"))
    val ds = spark.createDataset(recs)
    val out = Files.createTempDirectory("graft-store").toString + "/t"
    Sources.writeRecords(ds, out, idPrefixPartitions = true)
    // the Record schema is known: opening the dir runs no inference job
    val (read, sites) = jobCallSites(Sources.readRecords(spark, out))
    assert(sites.isEmpty, s"opening the dir started ${sites.size} Spark job(s)")
    assert(read.columns.toSeq == Encoders.product[Record].schema.fieldNames.toSeq)
    val back = read.collect()
    assert(back.sortBy(_.identifier).toSeq == recs.sortBy(_.identifier))
    // partition dirs exist (hash-prefix layout)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("id_prefix="))
    assert(parts.nonEmpty)
    // an empty dir reads as an empty corpus; the record probe tells it apart
    val empty = Files.createTempDirectory("graft-store-empty").toString
    assert(Sources.readRecords(spark, empty).count() == 0)
    assert(!Sources.containsSerializedRecords(spark, empty))
  }

  test("old-output rotation moves existing dir aside (D18)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-rot").toString
    val out = s"$base/result"
    spark.createDataset(Seq(Record.fresh("v1"))).write.parquet(out)
    val moved = Sources.rotateOldOutput(spark, out)
    assert(moved.exists(_.contains("old_jobs")))
    assert(!Files.exists(Paths.get(out)))
    assert(Files.exists(Paths.get(moved.get)))
    // second rotation of a recreated dir gets a new suffix
    spark.createDataset(Seq(Record.fresh("v2"))).write.parquet(out)
    val moved2 = Sources.rotateOldOutput(spark, out)
    assert(moved2.isDefined && moved2 != moved)
  }

  test("input-kind detection (D11)") {
    import spark.implicits._
    val recDir = Files.createTempDirectory("graft-kind").toString + "/recs"
    spark.createDataset(Seq(Record.fresh("abc"))).write.parquet(recDir)
    val celledDir = Files.createTempDirectory("graft-kind-cells").toString + "/recs"
    Sources.writeRecords(spark.createDataset((1 to 20).map(i => Record.fresh(s"doc $i"))),
      celledDir, idPrefixPartitions = true)
    val plainDir = Files.createTempDirectory("graft-kind2").toString + "/plain"
    Seq(("x", 1)).toDF("a", "b").write.parquet(plainDir)
    val docsDir = Files.createTempDirectory("graft-kind-docs").toString + "/documents"
    Seq((1L, "a documents-shaped table")).toDF("doc_id", "text").write.parquet(docsDir)
    val rawDir = Files.createTempDirectory("graft-kind-raw")
    Files.writeString(rawDir.resolve("a.txt"), "raw document text")
    val dirs = Seq(recDir, celledDir, plainDir, docsDir, rawDir.toString, "/nonexistent/dir")
    // the probe reads one Parquet footer on the driver, with no Spark job
    val (kinds, sites) = jobCallSites(dirs.map(Sources.containsSerializedRecords(spark, _)))
    assert(kinds == Seq(true, true, false, false, false, false))
    assert(sites.isEmpty, s"the probe started ${sites.size} Spark job(s)")
  }

  test("store compaction rewrites many small files into few, content intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact").toString + "/store"
    val recs = (1 to 50).map(i => Record.fresh(s"doc number $i"))
    // fragment the store the way accumulated micro-batches would
    Sources.writeRecords(spark.createDataset(recs).repartition(20), dir)
    val before = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(before > 5, s"fixture must start fragmented, had $before files")
    val after = Sources.compactRecords(spark, dir, targetBytes = 1L << 30)
    assert(after < before && after >= 1, s"$before -> $after files")
    val back = Sources.readRecords(spark, dir).collect()
    assert(back.map(_.identifier).sorted.toSeq == recs.map(_.identifier).sorted,
      "compaction must preserve exactly the store's records")
    // clean swap: no recovery companions or stray copies left behind
    assert(!new java.io.File(dir + "_tmp").exists && !new java.io.File(dir + "_bak").exists)
  }

  test("compaction preserves the id_prefix cell layout of incremental stores") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact-cell").toString + "/store"
    val recs = (1 to 60).map(i => Record.fresh(s"celled doc $i"))
    Sources.writeRecords(spark.createDataset(recs).repartition(10), dir,
      idPrefixPartitions = true)
    def cells = new java.io.File(dir).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("id_prefix="))
    val cellsBefore = cells.map(_.getName).sorted
    assert(cellsBefore.nonEmpty, "fixture must be cell-partitioned")
    Sources.compactRecords(spark, dir, targetBytes = 1L << 30)
    assert(cells.map(_.getName).sorted == cellsBefore,
      "compaction must rewrite INTO the cell layout, not flatten it")
    assert(!new java.io.File(dir).listFiles.exists(f =>
        f.isFile && f.getName.endsWith(".parquet")),
      "no flat data files may sit beside the cell dirs")
    val back = Sources.readRecords(spark, dir).collect().map(_.identifier).sorted
    assert(back.toSeq == recs.map(_.identifier).sorted)
  }

  test("compaction heals a crashed swap before rewriting") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact-crash").toString + "/store"
    val recs = (1 to 20).map(i => Record.fresh(s"crashy doc $i"))
    Sources.writeRecords(spark.createDataset(recs).repartition(5), dir)
    // simulate a crash inside a previous swap: the live store was moved
    // aside to _bak and the process died before promoting _tmp
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "_bak")))
    val after = Sources.compactRecords(spark, dir)
    assert(after >= 1)
    val back = Sources.readRecords(spark, dir).collect().map(_.identifier).sorted
    assert(back.toSeq == recs.map(_.identifier).sorted,
      "recoverSwap must restore the full store before compaction touches it")
  }

  test("JSONL interchange round trip preserves nasty strings exactly; corrupt shards fail fast") {
    import spark.implicits._
    // the properties that make JSONL line-safe: embedded newlines,
    // quotes, backslashes, control chars and non-BMP unicode must all
    // survive write -> read byte-for-byte; a null field round-trips null
    val nasty = Seq(
      (1L, "plain ascii"),
      (2L, "quotes \" and \\ backslashes \\\" mixed"),
      (3L, "embedded\nnewline\tand\ttabs\r\n"),
      (4L, "unicode: 嗨 🤖 café "),
      (5L, null.asInstanceOf[String]))
    val dir = Files.createTempDirectory("graft_jsonl_spec").toString
    Sources.writeJsonl(nasty.toDF("doc_id", "text"), dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    val back = Sources.readJsonl(spark, dir, schema)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(back == nasty.toMap, s"round trip diverged: $back")
    // FAILFAST: a malformed line is a loud error, not a silent null row
    Files.writeString(Paths.get(dir, "part-corrupt.json"), "{not json at all\n")
    val e = intercept[org.apache.spark.SparkException] {
      Sources.readJsonl(spark, dir, schema).collect()
    }
    assert(e.getMessage.contains("MALFORMED_RECORD") ||
      Option(e.getCause).exists(_.getMessage.contains("MALFORMED_RECORD")) ||
      e.getMessage.toLowerCase.contains("malformed"),
      s"expected a fail-fast malformed-record error, got: ${e.getMessage.take(200)}")
  }
}
