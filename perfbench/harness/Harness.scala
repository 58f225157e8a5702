package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.io.Source

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.SparkEntry
import graft.model.{Identifier, Record}
import graft.operators.{AnnotationMode, Annotators}
import graft.plans.{AnnotationEngine, Pipeline, Planner}
import graft.sources.Sources

/** One benchmark run inside one JVM: set a workload up, run untimed
  * warm-up operations (`--warmup-ops`), then time whole operations until `--seconds` have
  * passed (at least `--min-ops`), and write `<work>/result.json` for
  * run.py to check and report.
  *
  * The program is driven only through its public functions (Pipeline,
  * AnnotationEngine, Sources, Annotators.registry, Identifier,
  * SparkEntry.queries). With `--trace 1` a SparkListener attributes jobs,
  * tasks and bytes to each operation, and the layer probes below time
  * the calls into each module from outside.
  *
  * Usage: Harness --workload <name> --work <dir> --seconds <s>
  *   --trace <0|1> [--min-ops <n>] [--warmup-ops <n>]
  */
object Harness {
  /** Spark task slots: all load comes from this one process. */
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(opt("work")).getAbsoluteFile
    val seconds = opt("seconds").toDouble
    val minOps = opt.getOrElse("min-ops", "3").toInt
    val warmupOps = opt.getOrElse("warmup-ops", "1").toInt
    val tracer = if (opt.getOrElse("trace", "0") == "1") Some(new Tracer) else None

    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-${opt("workload")}")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, work, tracer)

    val w: AnnotateWorkload = opt("workload") match {
      case "annotate_cold" => new AnnotateCold(ctx)
      case "annotate_deepen" => new AnnotateDeepen(ctx)
      case other => sys.error(s"unknown workload: $other")
    }

    log("session ready")
    w.setup()
    log("set-up done")
    // untimed operations: in a fresh JVM the first runs 3-4x slower than
    // the steady state (JIT compilation, code generation, first file
    // listings), and the next ones still speed up as the JIT catches up
    for (i <- 0 until warmupOps) {
      ctx.op = s"warmup$i"
      w.reset()
      require(w.run() == 0, s"warm-up operation failed: ${ctx.errors.mkString("; ")}")
      log(s"warm-up $i done")
    }

    val firstOpEpoch = epochSeconds()
    val ops = mutable.ArrayBuffer.empty[Map[String, Double]]
    var failed = 0
    val start = System.nanoTime()
    while (ops.size < minOps || (System.nanoTime() - start) / 1e9 < seconds) {
      w.reset()
      ctx.op = s"op${ops.size}"
      val (cpu0, wb0, t0) = (Proc.cpuNanos, Proc.writtenBytes, System.nanoTime())
      failed += w.run()
      val (t1, cpu1, wb1) = (System.nanoTime(), Proc.cpuNanos, Proc.writtenBytes)
      ops += Map("wall_s" -> (t1 - t0) / 1e9, "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "write_bytes" -> (wb1 - wb0).toDouble)
    }
    val peakRssMb = Proc.peakRssKb / 1024.0

    val layers: Map[String, Double] = tracer match {
      case None => Map.empty
      case Some(tr) =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val walls = ops.map(_("wall_s")).toIndexedSeq
        tr.perOp(walls, Cpus) ++
          Map("trace.run_s" -> Stats.median(walls),
            "trace.output_listener_mb" -> tr.outputBytes(s"op${ops.size - 1}") / 1e6,
            "trace.output_disk_mb" -> w.outputDirs.map(Proc.du).sum / 1e6) ++
          w.probes()
    }

    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(Map(
      "first_op_epoch" -> firstOpEpoch,
      "ops" -> ops.toSeq,
      "attempted" -> ops.size,
      "failed" -> failed,
      "errors" -> ctx.errors.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "layers" -> layers,
      "extra" -> w.extra()))
    Files.write(new File(work, "result.json").toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line on stderr (the run's jvm.log), seconds since JVM start. */
  def log(event: String): Unit =
    System.err.println(f"[perfbench] $event at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

  def epochSeconds(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }
}

/** State shared by a run's workload, its warm-up and its operations. */
final class Ctx(val spark: SparkSession, val work: File, val tracer: Option[Tracer]) {
  /** Tag of the operation in flight; jobs carry it as a local property. */
  private var opTag = "setup"
  def op: String = opTag
  def op_=(tag: String): Unit = { opTag = tag; phase(tag) }
  /** Tag the jobs that follow (the listener groups them by tag). */
  def phase(tag: String): Unit = spark.sparkContext.setLocalProperty(Tracer.Key, tag)
  val errors = mutable.ArrayBuffer.empty[String]
  def dir(name: String): File = new File(work, name)
  def path(name: String): String = dir(name).getPath
  def rm(names: String*): Unit = names.foreach(n => FileUtils.deleteQuietly(dir(n)))
}

/** The paper's annotation job: `Pipeline.run` to VERB_SRL over an input
  * directory into an empty output, with a record store. Subclasses say
  * what the input is and what the store holds before each operation. */
abstract class AnnotateWorkload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  val engine: AnnotationEngine = AnnotationEngine.default
  val pipeline = new Pipeline(engine)
  val target: AnnotationMode = AnnotationMode.VERB_SRL
  def input: String
  /** Store the lookup and upsert probes run against. */
  def probeStore: String
  /** The input as the pipeline sees it before planning. */
  def looked(): Dataset[Record]
  def setup(): Unit = ()
  /** Untimed: bring the work directory to the state an operation expects. */
  def reset(): Unit
  /** Directories an operation writes (the listener-vs-disk comparison). */
  def outputDirs: Seq[File] = Seq(ctx.dir("out"), ctx.dir("store"))

  /** One timed operation; returns 1 if it failed. */
  def run(): Int = try {
    pipeline.run(spark, input, target, ctx.path("out"), Some(ctx.path("store")))
    0
  } catch {
    case e: Exception => ctx.errors += s"${ctx.op}: $e"; 1
  }

  private def noop(ds: Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Traced runs only: timings of calls into each module. */
  def probes(): Map[String, Double] = {
    ctx.phase("probes")
    val out = ctx.path("out")
    val ingest = timed(noop(pipeline.ingest(spark, input)))
    val lookup = timed(noop(Sources.lookup(
      pipeline.ingest(spark, input), Sources.readRecords(spark, probeStore))))
    val write = timed(Sources.writeRecords(Sources.readRecords(spark, out),
      ctx.path("probe_write"), idPrefixPartitions = true))
    val readback = timed(noop(Sources.readRecords(spark, out)))
    val upsert = timed(noop(Sources.upsert(
      Sources.readRecords(spark, probeStore), Sources.readRecords(spark, out))))
    val rotate = timed(Sources.rotateOldOutput(spark, ctx.path("probe_write")))
    val in = looked()
    val sample = timed(engine.planForCorpus(in, target))
    val annotate = timed(noop(engine.annotate(in, target)))
    val recs = Sources.readRecords(spark, out)
    val roundtrip = timed(noop(recs.mapPartitions(it => it)(recs.encoder)))
    ctx.rm("probe_write", "old_jobs")
    Map(
      "sources.ingest_s" -> ingest, "sources.lookup_s" -> lookup,
      "sources.write_s" -> write, "sources.readback_s" -> readback,
      "sources.upsert_s" -> upsert, "sources.rotate_s" -> rotate,
      "sources.store_mb" -> Proc.du(ctx.dir("store")) / 1e6,
      "plans.sample_s" -> sample, "plans.annotate_s" -> annotate,
      "model.roundtrip_s" -> roundtrip) ++ OperatorProbe(spark, in)
  }

  /** Facts the checks need: the current source of every view a VERB_SRL
    * record carries. */
  def extra(): Map[String, Any] = Map("sources" ->
    (Planner.chain(target) :+ AnnotationMode.SENTENCE)
      .map(m => m.viewName -> Annotators.registry(m).source).toMap)
}

/** Raw `.txt` files, one document each, into an empty store. Its traced
  * run also makes one pass over the iterative catalog rows. */
final class AnnotateCold(ctx: Ctx) extends AnnotateWorkload(ctx) {
  def input: String = ctx.path("input/raw")
  /** After the last operation the store holds the whole corpus. */
  def probeStore: String = ctx.path("store")
  def looked(): Dataset[Record] = pipeline.ingest(spark, input)
  def reset(): Unit = ctx.rm("out", "old_jobs", "store", "store_tmp", "store_bak")

  private lazy val catalog = new CatalogPass(ctx)
  override def probes(): Map[String, Double] =
    super.probes() ++ ctx.tracer.map(catalog.run).getOrElse(Map.empty)
  override def extra(): Map[String, Any] =
    super.extra() ++ (if (ctx.tracer.isEmpty) Map.empty else catalog.extra())
}

/** A Parquet record directory whose records the archive mostly holds
  * annotated to CHUNK, a tenth of them with an outdated POS view. The
  * store is restored to that set-up state before each operation. */
final class AnnotateDeepen(ctx: Ctx) extends AnnotateWorkload(ctx) {
  def input: String = ctx.path("input/records")
  def probeStore: String = ctx.path("archive")
  def looked(): Dataset[Record] =
    Sources.lookup(pipeline.ingest(spark, input), Sources.readRecords(spark, probeStore))

  override def setup(): Unit = {
    def stage(table: String, dir: String): Unit =
      Sources.writeRecords(
        Sources.fromTextColumn(spark.read.parquet(ctx.path(table)), "text"), ctx.path(dir))
    stage("input/all.parquet", "input/records")
    stage("input/orig.parquet", "input/records_orig")
    pipeline.run(spark, ctx.path("input/records_orig"), AnnotationMode.CHUNK,
      ctx.path("seed_out"), Some(ctx.path("seed_store")))
    import spark.implicits._
    val seeded = Sources.readRecords(spark, ctx.path("seed_store"))
    // exactly the lowest tenth of the archived ids gets an outdated POS view
    val ids = seeded.select("identifier").as[String].collect().sorted
    val cut = ids(ids.length / 10)
    val aged = seeded.map { r =>
      if (r.identifier < cut) r.copy(labelViews = r.labelViews.updated(
        "pos", r.labelViews("pos").copy(source = AnnotateDeepen.OldPos)))
      else r
    }
    Sources.writeRecords(aged, probeStore)
    ctx.rm("seed_out", "seed_store", "input/records_orig", "old_jobs")
  }

  def reset(): Unit = {
    ctx.rm("out", "old_jobs", "store", "store_tmp", "store_bak")
    FileUtils.copyDirectory(new File(probeStore), ctx.dir("store"))
  }
}

object AnnotateDeepen {
  /** POS source written onto the archived records chosen to be stale. */
  val OldPos = "graft-pos-0.9"
}

/** Single-threaded per-document cost of each operator of the VERB_SRL
  * chain, called through the registry in dependency order over a fixed
  * sample, plus the cost of the content hash. */
object OperatorProbe {
  val SampleDocs = 300
  val Rounds = 5
  /** Consumes the hashes so the JIT cannot drop them. */
  @volatile var sink = 0

  def apply(spark: SparkSession, input: Dataset[Record]): Map[String, Double] = {
    import spark.implicits._
    val texts = input.select("rawText").as[String].filter(_.nonEmpty)
      .orderBy("rawText").limit(SampleDocs).collect().toIndexedSeq
    val chain = Planner.chain(AnnotationMode.VERB_SRL)
    val perOp = chain.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val ident = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until Rounds) {
      var recs = texts.map(t => Record.fresh(t))
      for (m <- chain) {
        val op = Annotators.registry(m)
        val t0 = System.nanoTime()
        recs = recs.map(op(_))
        perOp(m) += (System.nanoTime() - t0) / 1e3 / texts.size
      }
      val t0 = System.nanoTime()
      texts.foreach(t => sink ^= Identifier.id(t, false).hashCode)
      ident += (System.nanoTime() - t0) / 1e3 / texts.size
    }
    chain.map(m => s"operators.${m.viewName}_us" -> Stats.median(perOp(m).toSeq)).toMap +
      ("model.identifier_us" -> Stats.median(ident.toSeq))
  }
}

/** One pass over the eight iterative catalog rows through
  * `SparkEntry.queries`, each result written to Parquet, on the
  * oracle-checked (sorted) path; per-row wall, construction time and
  * Spark jobs. */
final class CatalogPass(ctx: Ctx) {
  /** The same list as `CATALOG_ROWS` in run.py, which names the metrics. */
  val rows = Seq("q_pagerank", "q_dedup_clusters_star", "q_dedup_clusters",
    "q_textrank", "q_pagerank_convergence", "q_semdedup",
    "q_dedup_keep_central", "q_cc_convergence")
  private val data = ctx.path("input/data")

  def run(tr: Tracer): Map[String, Double] = {
    require(!sys.props.get("graft.bench.noSort").contains("true"),
      "the catalog pass must run on the oracle-checked path")
    rows.flatMap { q =>
      val tag = s"catalog/$q"
      ctx.phase(tag)
      try {
        val t0 = System.nanoTime()
        val df: DataFrame = SparkEntry.queries(q)(ctx.spark, data)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").parquet(ctx.path(s"results/$q"))
        val t2 = System.nanoTime()
        org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
        Seq(s"queries.$q.s" -> (t2 - t0) / 1e9, s"queries.$q.construct_s" -> (t1 - t0) / 1e9,
          s"queries.$q.jobs" -> tr.jobs(tag).toDouble)
      } catch {
        case e: Exception => ctx.errors += s"$tag: $e"; Nil
      }
    }.toMap
  }

  def extra(): Map[String, Any] =
    Map("oracle_sql" -> rows.map(q => q -> SparkEntry.oracleSql(q)).toMap)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** The process's own counters: CPU time, bytes written, peak RSS. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos: Long = os.getProcessCpuTime
  /** Bytes this process passed to write(2), from /proc/self/io `wchar`. */
  def writtenBytes: Long = field("/proc/self/io", "wchar:")
  def peakRssKb: Long = field("/proc/self/status", "VmHWM:")
  private def field(file: String, key: String): Long = {
    val src = Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.drop(key.length).trim.split("\\s+")(0).toLong)
      .getOrElse(0L)
    finally src.close()
  }
  /** Bytes of every regular file under `f`. */
  def du(f: File): Long = if (f.exists()) FileUtils.sizeOfDirectory(f) else 0L
}
