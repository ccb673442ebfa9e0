package graft.jobs

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ArrayBlockingQueue,
  RejectedExecutionException, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The reference's user-facing service shell
  * (`/root/reference/api_server.py:13-41`), re-expressed over
  * [[IngestionJob]] with the JDK's built-in HTTP server (zero deps,
  * loopback-testable):
  *
  *  - `GET  /health`              → `{"status": "ok"}` — load-balancer probe
  *  - `GET  /hello`               → liveness message
  *  - `POST /jobs/ingestion`      → fire-and-forget: the job is queued
  *    for the server's one background worker, the response returns
  *    immediately with `{"status": "queued"}` and the metrics are
  *    discarded (the reference's `BackgroundTasks` semantics — failures
  *    are logged, not reported to the caller). With
  *    [[ApiServer.AsyncQueue]] jobs already waiting the trigger is
  *    refused with 503 `{"status": "busy"}`
  *  - `POST /jobs/ingestion/sync` → runs inline, responds
  *    `{"status": "completed", "metrics": {...}}`; the metrics carry the
  *    run's per-phase milliseconds as `stage_ms`
  *
  * The job itself is injected as a thunk: the server shell is transport
  * only, the engine work stays in `IngestionJob.run` (and specs can bind a
  * loopback-fed job). Spark driver-side by design — the reference runs
  * FastAPI in the same process as its pandas job; here the server shares
  * the driver JVM and each request drives cluster work through the
  * SparkSession captured by the thunk.
  */
final class ApiServer(runJob: () => IngestMetrics, port: Int = 0) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  /** The async endpoint's one worker: runs on one store serialise on its
    * monitor anyway, so a second worker would only wait. */
  private val background = new ThreadPoolExecutor(1, 1, 0L,
    TimeUnit.MILLISECONDS,
    new ArrayBlockingQueue[Runnable](ApiServer.AsyncQueue),
    (r: Runnable) => {
      val t = new Thread(r, "graft-api-ingestion")
      t.setDaemon(true)
      t
    })

  /** Completed background runs — observable for tests/monitoring (the
    * reference discards background results entirely; counting completions
    * adds observability without changing the response contract). */
  val backgroundCompleted = new AtomicLong(0L)

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** JSON string escaping — a store path containing `"`, `\`, or control
    * characters (newline/tab in a quoted dir name) must not produce
    * malformed JSON on the sync endpoint. */
  private def jsonEscape(s: String): String =
    new String(JsonStringEncoder.getInstance.quoteAsString(s))

  private def metricsJson(m: IngestMetrics): String = {
    def opt(v: Option[Int]): String = v.map(_.toString).getOrElse("null")
    s"""{"http_status": ${opt(m.httpStatus)},""" +
      s""" "retries_used": ${opt(m.retriesUsed)},""" +
      s""" "rows_fetched": ${m.rowsFetched},""" +
      s""" "rows_after_dedup": ${m.rowsAfterDedup},""" +
      s""" "output": "${jsonEscape(m.storePath)}",""" +
      s""" "stage_ms": ${stageJson(m.stageMs)}}"""
  }

  private def stageJson(t: StageMs): String =
    s"""{"fetch": ${t.fetch}, "parse": ${t.parse}, "probe": ${t.probe},""" +
      s""" "secure": ${t.secure}, "write": ${t.write},""" +
      s""" "commit": ${t.commit}}"""

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    (method, path) match {
      case ("GET", "/health") => respond(ex, 200, """{"status": "ok"}""")
      case ("GET", "/hello") => respond(ex, 200,
        """{"message": "RandomUser ingestion service is running"}""")
      case ("POST", "/jobs/ingestion") =>
        try {
          background.execute(() =>
            try { runJob(); backgroundCompleted.incrementAndGet(); () }
            catch { case e: Throwable =>
              System.err.println(
                s"background ingestion failed: ${e.getMessage}")
            })
          respond(ex, 200, """{"status": "queued"}""")
        } catch { case _: RejectedExecutionException =>
          respond(ex, 503, """{"status": "busy"}""")
        }
      case ("POST", "/jobs/ingestion/sync") =>
        try respond(ex, 200,
          s"""{"status": "completed", "metrics": ${metricsJson(runJob())}}""")
        catch { case e: Throwable =>
          // same escaping as the success path: a Spark stack message with
          // embedded newlines must not produce malformed JSON on the 500
          respond(ex, 500, s"""{"status": "failed", "detail": "${
            jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))}"}""")
        }
      case (_, "/health" | "/hello" | "/jobs/ingestion"
            | "/jobs/ingestion/sync") =>
        respond(ex, 405, """{"detail": "Method Not Allowed"}""")
      case _ => respond(ex, 404, """{"detail": "Not Found"}""")
    }
  }

  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): ApiServer = { server.start(); this }
  def boundPort: Int = server.getAddress.getPort
  /** Stops serving; queued background jobs still run. */
  def stop(): Unit = { server.stop(0); background.shutdown() }
}

object ApiServer {

  /** Async triggers that may wait behind the running one. */
  val AsyncQueue: Int = 4
}
