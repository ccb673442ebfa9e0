package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.ListenerShim

/** The one Spark listener meter: the structural cost of an action — jobs,
  * stages, tasks, task time, GC time, shuffle bytes written, the longest
  * single task (the straggler that decides wall-clock on a skewed join)
  * and per-stage rows whose call site ties a hot stage back to its
  * operator source line (an AQE query stage takes the first `graft.`
  * frame of the SQL execution that ran it).
  *
  * It also counts the generated classes the action compiled and their
  * compile time (deltas of Spark's JVM-wide codegen counters): a warm
  * query that keeps compiling has outgrown Spark's 100-entry codegen
  * cache and evicts its own code every run.
  *
  * Accounting caveat: stages are counted via onStageCompleted only, so
  * SKIPPED (reused) stages are invisible, and a retried stage attempt is
  * counted (and its task metrics summed) once per attempt. Read the
  * stage count as relative cost structure on clean local runs, not as
  * "distinct stages in the plan".
  */
object Meter {

  /** One completed stage: its call site, task count, executor run time,
    * shuffle bytes written. */
  final case class Stage(name: String, tasks: Int, taskMs: Long,
      shuffleBytes: Long)

  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
      gcMs: Long, shuffleBytes: Long, maxTaskMs: Long, stageRows: Seq[Stage],
      compiles: Long, compileMs: Long)

  /** Runs `action` under a fresh meter and returns its result with what
    * the meter saw. The listener bus is drained before the meter is
    * attached (no earlier event leaks in) and after the action (every
    * event of the action is counted): the bus is asynchronous, and a
    * fixed sleep before the read is a race. */
  def measure[T](spark: SparkSession)(action: => T): (T, Counts) = {
    val sc = spark.sparkContext
    ListenerShim.waitUntilListenersDrained(sc)
    val l = new Listener
    sc.addSparkListener(l)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    try {
      val r = action
      ListenerShim.waitUntilListenersDrained(sc)
      (r, Counts(l.jobs, l.stages, l.tasks, l.taskMs, l.gcMs, l.shuffleBytes,
        l.maxTaskMs, l.stageRows.reverse,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        (CodeGenerator.compileTime - compileNs0) / 1000000L))
    } finally sc.removeSparkListener(l)
  }

  /** The first `graft.` frame of a long-form call site, e.g.
    * `graft.ops.TextOps$.$anonfun$writeSnapshotLshIndex$1(TextOps.scala:2536)`. */
  private def graftFrame(longForm: String): Option[String] =
    longForm.linesIterator.map(_.trim).find(_.startsWith("graft."))

  // written only by the listener-bus thread; read after the drain
  private final class Listener extends SparkListener {
    @volatile var jobs, stages, tasks = 0
    @volatile var taskMs, gcMs, shuffleBytes, maxTaskMs = 0L
    @volatile var stageRows = List.empty[Stage]
    private val execFrame = mutable.Map.empty[Long, String]
    private val stageExec = mutable.Map.empty[Int, Seq[Long]]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        graftFrame(x.details).foreach(execFrame(x.executionId) = _)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs += 1
      val execs = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
        .map(_.toLong)
      e.stageIds.foreach(stageExec(_) = execs)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      val info = e.stageInfo
      val m = info.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        // AQE submits query stages from a pool thread, whose call site
        // has no graft frame: name those by their SQL execution's frame
        val own = info.name.takeWhile(_ != '\n')
        val name =
          if (graftFrame(info.details).isDefined) own
          else stageExec.getOrElse(info.stageId, Nil).flatMap(execFrame.get)
            .headOption.getOrElse(own)
        stageRows ::= Stage(name.take(90), info.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (e.taskInfo != null) maxTaskMs = math.max(maxTaskMs, e.taskInfo.duration)
    }
  }
}
