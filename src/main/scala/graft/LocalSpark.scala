package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory behind every entry point, tool and
  * spec: `local[cpus]`, one shuffle partition per core, UTC session time
  * zone, no UI. Each caller sets its own log level. A caller that needs a
  * session setting for the length of one call sets it with [[withConf]].
  */
object LocalSpark {

  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the session settings `kvs` in force, then restores
    * each key's previous value; a key that was unset is unset again. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Core count of the entry points and dev tools: `SPARK_GRAFT_CPUS`
    * when set, else every processor the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
}
