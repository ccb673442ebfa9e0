package graft

/** Plan-hygiene tool: dump the formatted physical plan of one or more
  * catalog queries. Usage: runMain graft.Explain <sfDir> <name> [<name>…]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = LocalSpark(LocalSpark.defaultCpus)
    spark.sparkContext.setLogLevel("WARN")
    // `-exec` (round 18): additionally EXECUTE each query through the
    // bench's noop sink and print the AQE-final executed plan — explain()
    // alone shows `isFinalPlan=false` and hides what AQE actually did
    // (coalesced partition counts, runtime join rewrites), which is
    // exactly the evidence plan optimization needs (guide §7.2).
    val (flags, names) = args.tail.partition(_.startsWith("-"))
    val exec = flags.contains("-exec")
    // the noop write runs its OWN QueryExecution (a clone of df's), so the
    // AQE-final plan must be captured from the listener, not from
    // df.queryExecution (which stays isFinalPlan=false forever)
    val lastPlan = new java.util.concurrent.atomic.AtomicReference[String]("")
    if (exec) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          // walk the ADAPTIVE-FINAL tree and render each node with its
          // populated SQLMetrics — the SQL-tab attribution (rows per
          // node, exchange data size, scan/agg/sort timings) the wall
          // numbers alone cannot give
          def fin(p: org.apache.spark.sql.execution.SparkPlan)
              : org.apache.spark.sql.execution.SparkPlan = p match {
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => fin(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive
                .QueryStageExec => fin(q.plan)
            case other => other
          }
          val sb = new StringBuilder
          def walk(p: org.apache.spark.sql.execution.SparkPlan,
              depth: Int): Unit = {
            val m = p.metrics.toSeq
              .filter { case (k, v) => v.value > 0 &&
                (k.contains("numOutputRows") || k.contains("dataSize") ||
                 k.contains("Time") || k.contains("time")) }
              .map { case (k, v) => s"$k=${v.value}" }.mkString(" ")
            sb.append("  " * depth).append(p.nodeName).append("  ")
              .append(m).append("\n")
            fin(p) match {
              case same if same eq p => p.children.foreach(c => walk(fin(c), depth + 1))
              case inner => walk(inner, depth + 1)
            }
          }
          walk(fin(qe.executedPlan), 0)
          lastPlan.set(sb.toString)
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit =
          // ADVICE r18 #1: mark the failure — a silent no-op here let the
          // PREVIOUS query's plan print under this query's header
          lastPlan.set(s"<execution failed: ${exception.getMessage}>")
      })
    names.foreach { name =>
      // ADVICE r18 #1: clear before each query so a query that produces
      // no successful QueryExecution can never inherit a stale plan
      lastPlan.set("")
      println(s"========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      if (exec) {
        df.write.mode("overwrite").format("noop").save()
        org.apache.spark.sql.graftshim.ListenerShim
          .waitUntilListenersDrained(spark.sparkContext)
        println(s"---------- $name executed (AQE final) ----------")
        println(lastPlan.get.take(20000))
      }
    }
    spark.stop()
  }
}
