package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-operation Spark counters for traced runs. Jobs are grouped by the
  * tag the harness sets as a local property before each operation (and
  * before each catalog query), and attributed to the module of the
  * innermost `graft.*` frame of their call site. */
final class Tracer extends SparkListener {
  import Tracer._

  final class Agg {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, output = 0L
    val jobsBy: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
    val runMsBy: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  }

  private val aggs = mutable.Map.empty[String, Agg]
  /** stage id -> (tag, module) of the job that first submitted it */
  private val stageOwner = mutable.Map.empty[Int, (String, String)]

  /** SQL execution id -> module of the frame that started the execution */
  private val execModule = mutable.Map.empty[Long, String]

  private def agg(tag: String): Agg = aggs.getOrElseUpdate(tag, new Agg)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execModule(s.executionId) = module(s.details)
    }
    case _ =>
  }

  /** A job's own call site names its module unless Spark submitted it from
    * one of its own threads (adaptive query stages, broadcasts); then the
    * SQL execution it belongs to does. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Key))).getOrElse("untagged")
    val own =
      if (e.stageInfos.isEmpty) "other" else module(e.stageInfos.maxBy(_.stageId).details)
    val mod = if (own != "other") own else props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execModule.get(id.toLong)).getOrElse("other")
    val a = agg(tag)
    a.jobs += 1
    a.jobsBy(mod) += 1
    e.stageInfos.foreach(s => stageOwner.getOrElseUpdate(s.stageId, (tag, mod)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (tag, _) => agg(tag).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOwner.get(e.stageId).foreach { case (tag, mod) =>
      val a = agg(tag)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
      a.runMsBy(mod) += m.executorRunTime
    }
  }

  /** Aggregates of every tag of operation `op` (`opN` and `opN/<query>`). */
  private def ofOp(op: String): Seq[Agg] = synchronized {
    aggs.collect { case (t, a) if t == op || t.startsWith(op + "/") => a }.toSeq
  }

  def jobs(tag: String): Long = synchronized(aggs.get(tag).map(_.jobs).getOrElse(0L))
  def outputBytes(op: String): Long = ofOp(op).map(_.output).sum

  /** Median over the timed operations of each `spark.*` counter. */
  def perOp(walls: IndexedSeq[Double], slots: Int): Map[String, Double] = {
    val rows = walls.indices.map { k =>
      val as = ofOp(s"op$k")
      def sum(f: Agg => Long) = as.map(f).sum.toDouble
      val runS = sum(_.runMs) / 1e3
      Map(
        "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
        "spark.tasks" -> sum(_.tasks), "spark.task_run_s" -> runS,
        "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9, "spark.gc_s" -> sum(_.gcMs) / 1e3,
        "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
        "spark.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
        "spark.spill_mb" -> sum(_.spill) / 1e6, "spark.output_mb" -> sum(_.output) / 1e6,
        "spark.parallelism" -> runS / (walls(k) * slots)) ++
        Modules.flatMap { m =>
          Seq(s"spark.jobs.$m" -> as.map(_.jobsBy(m)).sum.toDouble,
            s"spark.task_run_s.$m" -> as.map(_.runMsBy(m)).sum / 1e3)
        }
    }
    rows.head.keys.map(k => k -> Stats.median(rows.map(_(k)))).toMap
  }
}

object Tracer {
  val Key = "perfbench.op"
  /** The program's modules a job can be attributed to; `other` holds
    * jobs whose call site has no `graft.<module>` frame. */
  val Modules = Seq("sources", "plans", "queries", "operators", "model", "functions", "other")
  private val Frame = """^graft\.([a-z]+)\.""".r

  def module(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") =>
        Frame.findFirstMatchIn(l).map(_.group(1)).filter(Modules.contains).getOrElse("other")
    }.getOrElse("other")
}
