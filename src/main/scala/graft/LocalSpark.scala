package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory behind every entry point, tool and
  * spec: `local[cpus]`, one shuffle partition per core, UTC session time
  * zone, no UI. Each caller sets its own log level.
  */
object LocalSpark {

  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Core count of the entry points and dev tools: `SPARK_GRAFT_CPUS`
    * when set, else every processor the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
}
