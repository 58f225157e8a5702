package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.Record
import graft.operators.AnnotationMode
import graft.sources.{Sources, ThriftCompat}

/** End-to-end corpus pipeline — the Spark equivalent of the reference's
  * preferred entry point `JobHandler.main` (`infrastructure/JobHandler.java`,
  * SURVEY.md §3.1):
  *
  *   1. input typing: probe the input dir (serialized records vs raw text)
  *      — `containsSerializedRecords`, D11;
  *   2. archive lookup: reuse stored annotated records by content hash
  *      (D15) when a store is given;
  *   3. execute: ONE annotate pass over every record (the reference's
  *      chain of MapReduce jobs, one narrow stage here). The looked-up
  *      input is hash-partitioned by `identifier` into
  *      `spark.sql.shuffle.partitions` partitions first — the pass's
  *      only shuffle — so per-record NLP, which is CPU-bound, runs in
  *      every task slot whatever the input's bytes or splits (the
  *      reference ran one reduce task per node partition,
  *      `JobHandler.java:149-194`). A record directory can hold an
  *      identifier more than once, so for one the pass sorts each
  *      partition by `identifier` and keeps the richest copy of each (raw
  *      text is distinct on ingest and takes no sort): the output holds
  *      one record per identifier. Each record skips its fresh views and
  *      recomputes stale ones (`Planner.provide`), and a user-forced
  *      start asserts its dependencies present. No corpus-level plan
  *      gates the pass: a sample cannot speak for the records outside it,
  *      and drawing one evaluates the input a second time;
  *   4. rotate any previous output (D18) and write the results flat,
  *      one file per annotate task;
  *   5. commit (D14): the written output supersedes the stored records
  *      it was computed from — every output record was looked up in the
  *      store in step 2 and only gained or refreshed views — so the new
  *      store is the output plus the stored records whose identifier it
  *      lacks (`Sources.supersede`), without a whole-record shuffle. The
  *      store is recovered from a crashed swap before it is probed, and
  *      opened once for both the lookup and the commit.
  *
  * Every step is lazy DataFrame composition — nothing materializes until
  * the final write, so Catalyst sees the whole pipeline at once.
  */
final class Pipeline(engine: AnnotationEngine) {

  /** Ingest a directory: serialized record corpus (parquet or reference
    * Thrift layout) or raw `.txt` documents. */
  def ingest(spark: SparkSession, inputDir: String): Dataset[Record] =
    ingestKind(spark, inputDir)._1

  /** The ingested corpus, and whether it came from a record directory,
    * where an identifier can repeat (raw-text ingest is distinct). */
  private def ingestKind(spark: SparkSession, inputDir: String): (Dataset[Record], Boolean) =
    if (Sources.containsSerializedRecords(spark, inputDir))
      (Sources.readRecords(spark, inputDir), true)
    else if (looksLikeThriftRecords(spark, inputDir))
      (ThriftCompat.readThriftDir(spark, inputDir), true)
    else
      (Sources.rawTextDir(spark, inputDir), false)

  /** Probe one regular, non-hidden file of `dir` on the driver, like the
    * reference's `containsSerializedRecords`: does it decode as a Thrift
    * `Record` with an identifier and text? */
  private def looksLikeThriftRecords(spark: SparkSession, dir: String): Boolean =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).find { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }.exists { st =>
        val bytes = new Array[Byte](st.getLen.toInt)
        val in = fs.open(st.getPath)
        try in.readFully(bytes) finally in.close()
        val r = ThriftCompat.readRecord(bytes)
        r.rawText.nonEmpty && r.identifier.nonEmpty
      }
    } catch { case _: Exception => false }

  /** Full run. Returns the annotated corpus (already written to `outputDir`
    * and, when given, committed to `storeDir`). */
  def run(
      spark: SparkSession,
      inputDir: String,
      target: AnnotationMode,
      outputDir: String,
      storeDir: Option[String] = None,
      forcedStart: Option[AnnotationMode] = None): Dataset[Record] = {
    val (fresh, recordInput) = ingestKind(spark, inputDir)
    val swap = storeDir.map { store =>
      val p = new Path(store)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (tmp, bak) = (new Path(store + "_tmp"), new Path(store + "_bak"))
      // a crash in a previous run's swap may have left the store absent
      // with the full copy in _tmp/_bak — restore before the probe, or the
      // lookup finds no archive and recomputes every stored view
      Sources.recoverSwap(fs, p, tmp, bak)
      (fs, p, tmp, bak)
    }
    // opened once: the store's files do not change until the swap, so the
    // lookup and the commit share one listing
    val stored = storeDir.filter(Sources.containsSerializedRecords(spark, _))
      .map(Sources.readRecords(spark, _))
    val input = stored.fold(fresh)(Sources.lookup(fresh, _))
    // an explicit partition count is not coalesced by adaptive execution
    val slots = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val annotated = engine.annotate(input.repartition(slots, col("identifier")), target,
      assumeFresh = Planner.assertedPresent(target, forcedStart),
      richestPerId = recordInput)
    Sources.rotateOldOutput(spark, outputDir)
    Sources.writeRecords(annotated, outputDir)
    val result = Sources.readRecords(spark, outputDir)
    swap.foreach { case (fs, p, tmp, bak) =>
      val merged = stored.fold(result)(Sources.supersede(_, result))
      // write-then-swap: never read and overwrite the same path in one
      // job, and keep a full store copy alive at every step
      Sources.swapInPlace(fs, p, tmp, bak)(Sources.writeRecords(merged, _))
    }
    result
  }
}

/** CLI mirroring the reference's `JobHandler.main` surface:
  * `runMain graft.plans.PipelineMain <ANNOTATION> <inputDir> <outputDir>
  * [storeDir] [forcedStart]` — annotation names are fuzzy, like the
  * reference's `AnnotationMode.fromString`. */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PipelineMain <ANNOTATION> <inputDir> <outputDir> [storeDir] [forcedStart]")
    val target = AnnotationMode.fromString(args(0))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"graft-pipeline-${target.name}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = new Pipeline(AnnotationEngine.default).run(
      spark, args(1), target, args(2),
      storeDir = args.lift(3),
      forcedStart = args.lift(4).map(AnnotationMode.fromString))
    println(s"[pipeline] ${result.count()} records annotated to ${target.name} -> ${args(2)}")
    spark.stop()
  }
}
