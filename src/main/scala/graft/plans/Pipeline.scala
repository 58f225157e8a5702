package graft.plans

import org.apache.spark.sql.{Dataset, SparkSession}

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
  *   3. execute: ONE narrow annotate pass over every record (the
  *      reference's chain of MapReduce jobs, shuffle-free here); each
  *      record skips its fresh views and recomputes stale ones
  *      (`Planner.provide`), and a user-forced start asserts its
  *      dependencies present. No corpus-level plan gates the pass: a
  *      sample cannot speak for the records outside it, and drawing one
  *      evaluates the input a second time;
  *   4. rotate any previous output (D18) and write the results;
  *   5. commit: upsert the written results into the record store (D14).
  *
  * Every step is lazy DataFrame composition — nothing materializes until
  * the final write, so Catalyst sees the whole pipeline at once.
  */
final class Pipeline(engine: AnnotationEngine) {

  /** Ingest a directory: serialized record corpus (parquet or reference
    * Thrift layout) or raw `.txt` documents. */
  def ingest(spark: SparkSession, inputDir: String): Dataset[Record] =
    if (Sources.containsSerializedRecords(spark, inputDir))
      Sources.readRecords(spark, inputDir)
    else if (looksLikeThriftRecords(spark, inputDir))
      ThriftCompat.readThriftDir(spark, inputDir)
    else
      Sources.rawTextDir(spark, inputDir)

  private def looksLikeThriftRecords(spark: SparkSession, dir: String): Boolean =
    try {
      // probe one file, like the reference's containsSerializedRecords
      val files = spark.read.format("binaryFile").load(dir)
        .select("content").limit(1)
        .collect()
      files.nonEmpty && {
        val r = ThriftCompat.readRecord(files.head.getAs[Array[Byte]](0))
        r.rawText.nonEmpty && r.identifier.nonEmpty
      }
    } catch { case _: Exception => false }

  /** Full run. Returns the annotated corpus (already written to `outputDir`
    * and, when given, upserted into `storeDir`). */
  def run(
      spark: SparkSession,
      inputDir: String,
      target: AnnotationMode,
      outputDir: String,
      storeDir: Option[String] = None,
      forcedStart: Option[AnnotationMode] = None): Dataset[Record] = {
    val fresh = ingest(spark, inputDir)
    val input = storeDir.filter(Sources.containsSerializedRecords(spark, _)) match {
      case Some(store) => Sources.lookup(fresh, Sources.readRecords(spark, store))
      case None => fresh
    }
    val annotated = engine.annotate(input, target,
      assumeFresh = Planner.assertedPresent(target, forcedStart))
    Sources.rotateOldOutput(spark, outputDir)
    Sources.writeRecords(annotated, outputDir, idPrefixPartitions = true)
    val result = Sources.readRecords(spark, outputDir)
    storeDir.foreach { store =>
      val hconf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(store)
      val fs = p.getFileSystem(hconf)
      val tmp = new org.apache.hadoop.fs.Path(store + "_tmp")
      val bak = new org.apache.hadoop.fs.Path(store + "_bak")
      // a crash in a previous run's swap may have left the store absent
      // with the full copy in _tmp/_bak — restore before the probe
      Sources.recoverSwap(fs, p, tmp, bak)
      val merged =
        if (Sources.containsSerializedRecords(spark, store))
          Sources.upsert(Sources.readRecords(spark, store), result)
        else result
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
