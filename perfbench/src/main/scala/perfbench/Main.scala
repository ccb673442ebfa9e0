package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run of one workload, in one JVM.
  *
  * Starts one SparkSession, sets the workload up [[Setups]] times on it
  * (the last set-up is kept), then runs ops in a closed loop from a single
  * client thread until `seconds` have passed, checking every op's output. With
  * tracing on, ops alternate untraced / traced: traced ops record spans
  * and attach the [[JobMeter]], untraced ones run bare, so the same run
  * yields the tracing overhead. Everything measured is written as one raw
  * JSON file; the metrics are computed from it by `metrics.py`.
  *
  * Usage: perfbench.Main key=value... (see [[Cfg]]).
  */
object Main {

  final case class Cfg(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, cpus: Int,
      docs: String, expected: String, historyRows: Long,
      corruptExpected: Boolean)

  /** Set-ups per run; set-up time is reported as their median. */
  val Setups = 3

  /** Writes the raw record (Scala maps and sequences) as JSON. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def parse(args: Array[String]): Cfg = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    Cfg(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv("out")).toAbsolutePath, kv("cpus").toInt,
      kv.getOrElse("docs", ""), kv.getOrElse("expected", ""),
      kv.getOrElse("history_rows", "0").toLong,
      kv.getOrElse("corrupt_expected", "0") == "1")
  }

  def session(cfg: Cfg): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${cfg.cpus}]")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("local").toString)
      .config("spark.sql.warehouse.dir",
        cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session-wide one-time costs (JIT, codegen; JCE for the ingest path). */
  private def warmup(s: SparkSession, crypto: Boolean): Unit = {
    s.range(1000000).selectExpr("sum(id)").collect()
    if (crypto) {
      import graft.expr.Crypto
      s.range(1).select(Crypto.hashPassword(lit("w"), "p", 1, 8).as("h"),
        Crypto.encrypt(lit("w"), "0123456789abcdef").as("e"),
        Crypto.blindIndex(lit("w"), "k").as("b")).collect()
    }
  }

  /** Tag the current thread's Spark jobs with a span and op. */
  def tagJobs(s: SparkSession, span: Long, op: Long): Unit = {
    s.sparkContext.setLocalProperty(JobMeter.SpanKey, span.toString)
    s.sparkContext.setLocalProperty(JobMeter.OpKey, op.toString)
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Bytes held by persisted / locally checkpointed RDD blocks. */
  private def cachedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Files.createDirectories(cfg.work.resolve("local"))
    val tracer = new Tracer
    val wl: Workload = cfg.workload match {
      case "ingest_trickle" => new IngestWorkload(cfg, tracer, bulk = false)
      case "ingest_bulk" => new IngestWorkload(cfg, tracer, bulk = true)
      case "curation" => new CatalogWorkload(cfg, tracer, "q181_curation_pipeline")
      case "near_dup" => new CatalogWorkload(cfg, tracer, "q144_incremental_clusters")
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // The session is started once: the program keeps process-global
    // state (GenTracker, ArtifactCache) that does not survive a session
    // restart within one JVM. Set-up proper is repeated on it.
    val t0 = System.nanoTime()
    val spark = session(cfg)
    warmup(spark, crypto = wl.isInstanceOf[IngestWorkload])
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    val setupSecs = (1 to Setups).map { rep =>
      if (rep > 1) wl.close()
      val t1 = System.nanoTime()
      wl.setup(spark, rep)
      (System.nanoTime() - t1) / 1e9
    }
    wl.prepareChecks(spark)

    val meter = new JobMeter
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var peakCached = cachedBytes(spark)
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var k = 0
    while (System.nanoTime() < deadline) {
      val traced = cfg.trace && k % 2 == 1
      if (traced) sc.addSparkListener(meter)
      tracer.on = traced
      spark.catalog.clearCache()
      val cache0 = meter.cacheBytesWritten.get
      val start = Clock.now()
      val check =
        try tracer.span("op", 0L, k)(id => wl.op(spark, k, id))
        catch { case e: Throwable => () => OpResult(false, e.toString, Map.empty) }
      val end = Clock.now()
      val res =
        try check()
        catch { case e: Throwable => OpResult(false, e.toString, Map.empty) }
      val extra = mutable.LinkedHashMap.empty[String, Double]
      peakCached = math.max(peakCached, cachedBytes(spark))
      if (traced) {
        extra ++= wl.replay(spark, k)
        Bus.drain(sc)
        extra("cache_bytes_written") = (meter.cacheBytesWritten.get - cache0).toDouble
        sc.removeSparkListener(meter)
      }
      tracer.on = false
      ops += Map("id" -> k, "traced" -> traced, "start" -> start,
        "end" -> end, "ok" -> res.ok, "error" -> res.error,
        "fields" -> (res.fields ++ extra))
      k += 1
    }
    val failures = wl.finish(spark)

    val spans = tracer.spans.toArray(Array.empty[Span]).toSeq.sortBy(_.id).map(s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start" -> s.start, "end" -> s.end))
    val jobs = meter.allJobs.map(j =>
      Map("id" -> j.id, "parent" -> j.parent, "op" -> j.op,
        "frame" -> j.frame, "start" -> j.start, "end" -> j.end,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "gc_ms" -> j.gcMs, "shuffle_write" -> j.shuffleWrite,
        "spill" -> j.spill, "bytes_written" -> j.bytesWritten,
        "records_written" -> j.recordsWritten))
    val raw = Map("workload" -> cfg.workload, "cpus" -> cfg.cpus,
      "session_start_s" -> sessionSecs, "setup_s" -> setupSecs, "peak_cached_bytes" -> peakCached,
      "ops" -> ops, "spans" -> spans, "jobs" -> jobs,
      "failures" -> failures, "info" -> wl.info)
    json.writeValue(cfg.out.toFile, raw)
    wl.close()
    spark.stop()
  }
}

final case class OpResult(ok: Boolean, error: String, fields: Map[String, Double])

/** What a workload does at each phase of a run. */
trait Workload {
  /** Build the workload's state (again) on the session; timed as set-up. */
  def setup(s: SparkSession, rep: Int): Unit
  /** Prepare output checks; runs after set-up, untimed. */
  def prepareChecks(s: SparkSession): Unit = ()
  /** One timed op; `span` is its trace span (0 when untraced). Returns
    * the untimed check of its output. */
  def op(s: SparkSession, k: Int, span: Long): () => OpResult
  /** Per-layer replays after a traced op, outside the op. */
  def replay(s: SparkSession, k: Int): Map[String, Double] = Map.empty
  /** Checks on the final state; returns failure messages. */
  def finish(s: SparkSession): Seq[String]
  def info: Map[String, Any] = Map.empty
  def close(): Unit = ()
}
