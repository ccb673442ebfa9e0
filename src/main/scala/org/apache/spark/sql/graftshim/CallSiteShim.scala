package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Spark names a job by its first frame outside Spark and Scala, so the
  * jobs a shared helper submits would all carry the helper's line, where
  * Meter and the benchmark's per-module ledger want the operator's. The
  * call-site setters are `private[spark]`, hence this shim: `asCaller`
  * runs `body` named by the first frame outside Spark, Scala and the
  * classes whose names start with `helper`. */
object CallSiteShim {
  def asCaller[T](sc: SparkContext, helper: String)(body: => T): T = {
    val site = Utils.getCallSite(c => c.startsWith("org.apache.spark.") ||
      c.startsWith("scala.") || c.startsWith(helper))
    // the long form opens with the last skipped frame, the helper's own
    val callers = site.longForm.linesIterator.drop(1).mkString("\n")
    sc.setCallSite(site.copy(longForm = callers))
    try body finally sc.clearCallSite()
  }
}
