package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs (and stages) `body` submits from the calling thread:
  * the body runs under a fresh job group that a listener counts; a
  * marker job in its own group follows, and since the listener bus
  * delivers events in order, seeing the marker's start means every job
  * and stage of the body has been counted. */
object JobCount {

  /** What `body` submitted: its job count, and the task count of each
    * stage it submitted, in submission order (skipped stages are not
    * submitted, so they are not listed). */
  final case class Counts(jobs: Int, stageTasks: Seq[Int])

  def of(spark: SparkSession)(body: => Any): Int = counts(spark)(body).jobs

  /** The task count of each stage `body` submits. */
  def stageTasks(spark: SparkSession)(body: => Any): Seq[Int] =
    counts(spark)(body).stageTasks

  private def counts(spark: SparkSession)(body: => Any): Counts = {
    val sc = spark.sparkContext
    val group = s"jobcount-${UUID.randomUUID}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[Int]()
    val drained = new CountDownLatch(1)
    def groupOf(props: java.util.Properties) =
      Option(props).map(_.getProperty("spark.jobGroup.id"))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => drained.countDown()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties).contains(group)) stages.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "job count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      Counts(jobs.get, stages.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
