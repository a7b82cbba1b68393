package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in layer tracer: a SparkListener plus one job group per layer
  * call. `span` times a call from outside and tags every job it submits
  * with the span's group; the listener records jobs and tasks raw, and
  * `spans` attributes them to spans once the run is over. Nothing inside
  * the program is instrumented.
  *
  * Spans are kept in memory and written out when the run ends. Self time
  * and driver time are derived from the recorded intervals by the
  * benchmark's report step (`perfbench/metrics.py`).
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val recorded = ArrayBuffer.empty[SpanRec]
  private var open: List[SpanRec] = Nil
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val marker = new AtomicBoolean(false)
  @volatile private var on = false

  /** Turn recording on or off; off, `span` only runs its body. */
  def enable(flag: Boolean): Unit = {
    if (flag && !on) sc.addSparkListener(this)
    if (!flag && on) { drain(); sc.removeSparkListener(this) }
    on = flag
  }

  def span[T](name: String, iter: Int)(body: => T): T =
    if (!on) body
    else {
      val s = SpanRec(recorded.size, name, open.headOption.map(_.id).getOrElse(-1), iter)
      recorded += s
      open = s :: open
      sc.setJobGroup(groupOf(s.id), name)
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group == MarkerGroup) marker.set(true)
    else jobs.add(JobRec(e.time, group, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (info != null) tasks.add(TaskRec(
      e.stageId, info.launchTime, info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L
      else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Wait for the listener bus to deliver every event posted so far: a
    * marker job is submitted last, and events arrive in order. */
  private def drain(): Unit = {
    marker.set(false)
    sc.setJobGroup(MarkerGroup, "trace drain marker")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!marker.get() && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Every recorded span with the jobs and tasks attributed to it. A job
    * belongs to the span whose group it carries; a job whose group the
    * program replaced (e.g. a broadcast) belongs to the innermost span
    * open at its submission time. A stage's tasks belong to the span of
    * the first job that lists the stage: that job ran them, and a later
    * job that lists it again reuses its shuffle output and skips it. */
  def spans(): Seq[SpanRec] = {
    if (on) drain()
    val byId = recorded.map(s => s.id -> s).toMap
    def innermostAt(t: Long): Option[SpanRec] =
      recorded.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption
    val stageSpan = scala.collection.mutable.Map.empty[Int, Option[SpanRec]]
    jobs.asScala.foreach { j =>
      val s = (if (j.group.startsWith(GroupPrefix))
        byId.get(j.group.stripPrefix(GroupPrefix).toInt) else None)
        .orElse(innermostAt(j.time))
      s.foreach(_.jobs += 1)
      j.stageIds.foreach(stageSpan.getOrElseUpdate(_, s))
    }
    tasks.asScala.foreach { t =>
      stageSpan.get(t.stageId).flatten.foreach { sp =>
        sp.tasks += 1
        sp.taskMs += t.runMs
        sp.shuffleBytes += t.shuffleBytes
        sp.spillBytes += t.spillBytes
        sp.taskIntervals += ((t.launchMs, t.finishMs))
      }
    }
    recorded.toSeq
  }
}

object Tracer {
  val GroupPrefix = "bench-span-"
  val MarkerGroup = "bench-trace-marker"
  def groupOf(id: Int): String = s"$GroupPrefix$id"

  final case class SpanRec(id: Int, name: String, parent: Int, iter: Int) {
    var startNs = 0L
    var endNs = 0L
    var startMs = 0L
    var endMs = 0L
    var jobs = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  }
  final case class JobRec(time: Long, group: String, stageIds: Seq[Int])
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleBytes: Long, spillBytes: Long)
}
