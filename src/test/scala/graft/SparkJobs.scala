package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Which Spark jobs a piece of code started, told apart from the jobs of
  * suites running beside it in the same session by their job group. */
object SparkJobs {

  /** The job group of every job Spark started while `body` ran ("" for a
    * job without one), from any thread. */
  def groupsDuring(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      body
      // a listener gets its events in order: once the fence job's start
      // has arrived, so has the start of every job `body` launched
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(fence) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(fence), "the fence job's start never reached the listener")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filterNot(_ == fence)
  }

  /** Number of Spark jobs `body` started on this thread (and the threads it
    * spawned), under a job group of its own. */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val group = s"count-${java.util.UUID.randomUUID()}"
    groupsDuring(spark) {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }.count(_ == group)
  }
}
