package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `body` and return what it gave with the long call site (the
    * driver stack) of every Spark job it started. */
  def jobCallSites[A](body: => A): (A, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val a = listening(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(j.stageInfos.map(_.details).mkString("\n"))
    })(body)
    (a, sites.asScala.toSeq)
  }

  /** Run `body` and return what it gave with the number of stages it
    * completed that wrote shuffle bytes. */
  def shuffleWritingStages[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val a = listening(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0) n.incrementAndGet()
    })(body)
    (a, n.get)
  }

  /** Run `body` with `listener` registered; every event `body` caused has
    * reached the listener when this returns. */
  private def listening[A](listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBusAccess.drain(sc)
      a
    } finally sc.removeSparkListener(listener)
  }
}
