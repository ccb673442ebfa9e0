package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One clock for every span: epoch nanoseconds, advanced by the monotonic
  * clock, so spans recorded here line up with the listener's epoch-ms job
  * times. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** A recorded interval. `parent` is 0 for a root; `op` is the op id the
  * span belongs to (-1 for work outside any op). */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long)

/** In-memory span recorder; written out once when the run ends. While
  * `on` is false, `span` only runs its body. */
final class Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: Long, op: Long)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.now()
      try body(id) finally spans.add(Span(id, name, parent, op, t0, Clock.now()))
    }
}

/** Per-job counters, filled in by [[JobMeter]]. */
final class JobRec(val id: Int, val parent: Long, val op: Long,
    val frame: String, val start: Long) {
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
}

/** The benchmark's own scheduler listener. Each job is tagged with the
  * span that submitted it (the `perfbench.span` / `perfbench.op` local
  * properties, which Spark copies onto the job) and with the innermost
  * `graft.` frame of its call site. */
final class JobMeter extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execFrame = new ConcurrentHashMap[Long, String]()
  /** Bytes of RDD blocks (persist / local checkpoint) stored so far. */
  val cacheBytesWritten = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) =
      props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(-1L)
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    // AQE runs query stages on a pool thread, whose call site has no user
    // frame; such jobs take the frame of the SQL execution they belong to
    val frame = Some(JobMeter.graftFrame(site)).filter(_.nonEmpty)
      .orElse(Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .map(prop).flatMap(id => Option(execFrame.get(id))).find(_.nonEmpty))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, prop(JobMeter.SpanKey),
      prop(JobMeter.OpKey), frame, e.time * 1000000L))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      execFrame.put(x.executionId, JobMeter.graftFrame(x.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { r =>
        r.synchronized {
          r.stages += 1
          r.tasks += info.numTasks
          val m = info.taskMetrics
          if (m != null) {
            r.taskMs += m.executorRunTime
            r.gcMs += m.jvmGCTime
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.spill += m.diskBytesSpilled
            r.bytesWritten += m.outputMetrics.bytesWritten
            r.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      cacheBytesWritten.addAndGet(b.memSize + b.diskSize)
  }

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)
}

object JobMeter {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"

  /** The first `graft.` line of a long-form call site, e.g.
    * `graft.ops.TextOps$.bandsFromKept(TextOps.scala:812)`; "" if none. */
  def graftFrame(longForm: String): String =
    longForm.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
}
