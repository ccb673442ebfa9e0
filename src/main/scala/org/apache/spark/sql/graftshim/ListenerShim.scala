package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for [[graft.tools.Meter]].
  *
  * The meter reads counters a `SparkListener` accumulates from ASYNC bus
  * events; a fixed `Thread.sleep` between the action and the read is a
  * race dressed as a timeout (ADVICE r16 #4). `LiveListenerBus.waitUntilEmpty` is the
  * synchronization Spark's own test suites use — `private[spark]`,
  * hence surfaced here next to the engine's other two Spark-private
  * touch points ([[ColumnShim]], [[CheckpointShim]]).
  */
object ListenerShim {

  /** Block until every event posted so far has been delivered to every
    * registered listener (bounded by `timeoutMillis`; throws
    * TimeoutException on overrun — a loud failure beats a silently
    * short-read meter). */
  def waitUntilListenersDrained(sc: SparkContext,
      timeoutMillis: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
