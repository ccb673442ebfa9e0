package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.jobs.{ApiServer, HttpUserFetcher, IngestMetrics, IngestionJob,
  LoopbackApi}

/** Live acquisition path (VERDICT r1 #5): real HTTP over loopback, observed
  * status/retries, fail-fast parity with the reference's raise_for_status
  * (`/root/reference/ingestion/api_client.py:21`), and the stdout metric-
  * line contract (`job.py:85-95`).
  */
class IngestionHttpSpec extends SparkSpec {

  private val fixture = sys.env.getOrElse("GRAFT_REPO", "/root/repo") +
    "/data/fixtures/users_fixture.json"
  private lazy val body =
    new String(Files.readAllBytes(Paths.get(fixture)), StandardCharsets.UTF_8)

  test("clean fetch observes status 200 and zero retries") {
    LoopbackApi.withServer(body) { url =>
      val r = new HttpUserFetcher(url).fetch()
      assert(r.httpStatus === Some(200))
      assert(r.retriesUsed === Some(0))
      // the fixture carries 6 users (5 distinct uuids)
      assert(IngestionJob.readUsersJson(spark, r.body).count() === 6)
    }
  }

  test("transient 503 is retried and the retry count is observed") {
    LoopbackApi.withServer(body, failFirst = 1) { url =>
      val t0 = System.nanoTime()
      val r = new HttpUserFetcher(url).fetch()
      val tookMs = (System.nanoTime() - t0) / 1000000L
      assert(r.httpStatus === Some(200))
      assert(r.retriesUsed === Some(1))
      // the retry waits at least half of the 100 ms first backoff
      assert(tookMs >= 50, s"two attempts in $tookMs ms")
    }
  }

  test("backoff doubles per retry up to its cap, with jitter in the upper " +
      "half") {
    for (n <- 1 to 8) {
      val d = math.min(2000L, 100L << (n - 1))
      val waits = Seq.fill(50)(HttpUserFetcher.backoffMs(n))
      assert(waits.forall(w => w >= d / 2 && w <= d), s"retry $n: $waits")
      assert(waits.distinct.size > 1, s"retry $n waits without jitter")
    }
  }

  test("persistent failure fails fast after bounded retries") {
    LoopbackApi.withServer(body, failFirst = 100) { url =>
      val e = intercept[java.io.IOException] {
        new HttpUserFetcher(url, maxRetries = 1).fetch()
      }
      assert(e.getMessage.contains("503"))
    }
  }

  test("run() through HTTP prints the reference's metric-line contract " +
      "with observed values") {
    val store = Files.createTempDirectory("graft_http_store").toString + "/st"
    val out = new ByteArrayOutputStream()
    val metrics = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      LoopbackApi.withServer(body, failFirst = 1) { url =>
        IngestionJob.run(spark, new HttpUserFetcher(url), store,
          "pepper", "0123456789abcdef", "bidx-key")
      }
    }
    assert(metrics.httpStatus === Some(200))
    assert(metrics.retriesUsed === Some(1)) // observed, not a literal
    assert(metrics.rowsFetched === 6)
    val lines = out.toString("UTF-8").linesIterator.toSeq
    // job.py:85-95 contract, one line each
    assert(lines.exists(_.matches("wrote 5 rows to .+")))
    assert(lines.exists(_.matches("api_url=http://127\\.0\\.0\\.1:\\d+/api.*")))
    assert(lines.exists(_ == "http_status=200 retries_used=1"))
    assert(lines.exists(
      _.matches("rows_fetched=6 rows_after_dedup=5 output=.+")))
  }

  test("a run prints its per-phase milliseconds after the reference's " +
      "four lines, and the phases sum to no more than the run's wall") {
    val store = Files.createTempDirectory("graft_stage_store").toString + "/st"
    for (_ <- 1 to 2) { // the run that creates the store, then a warm one
      val out = new ByteArrayOutputStream()
      val t0 = System.nanoTime()
      val m = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        IngestionJob.run(spark, fixture, store, "pepper", "0123456789abcdef",
          "bidx-key")
      }
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val lines = out.toString("UTF-8").linesIterator.toSeq
      assert(lines.size === 5, lines)
      assert(lines.take(4) === m.logLines(lines(1).stripPrefix("api_url=")))
      assert(lines(4) === m.stageMs.logLine)
      assert(lines(4).matches(
        "stage_ms fetch=\\d+ parse=\\d+ probe=\\d+ secure=\\d+ write=\\d+ " +
          "commit=\\d+"), lines(4))
      val t = m.stageMs
      assert(t.fetch + t.parse + t.probe + t.secure + t.write + t.commit <=
        wallMs,
        s"${t.logLine} in a $wallMs ms run")
    }
  }

  // ---- ApiServer: the reference's service shell (api_server.py:13-41)

  private def httpGet(url: String): (Int, String) = httpSend(url, "GET")
  private def httpPost(url: String): (Int, String) = httpSend(url, "POST")
  private def httpSend(url: String, method: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
    val req = (if (method == "POST")
      b.POST(java.net.http.HttpRequest.BodyPublishers.noBody()) else b.GET())
      .build()
    val r = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("api server: /health, /hello, sync and async job triggers") {
    val store = Files.createTempDirectory("graft_api_store").toString + "/st"
    val srv = new graft.jobs.ApiServer(
      () => IngestionJob.run(spark, fixture, store,
        "pepper", "0123456789abcdef", "bidx-key")).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      assert(httpGet(s"$base/health") === (200, """{"status": "ok"}"""))
      assert(httpGet(s"$base/hello") === (200,
        """{"message": "RandomUser ingestion service is running"}"""))

      // sync: runs inline, metrics in the response
      val (sc, sb) = httpPost(s"$base/jobs/ingestion/sync")
      assert(sc === 200)
      assert(sb.contains(""""status": "completed""""))
      assert(sb.contains(""""rows_fetched": 6"""))
      assert(sb.contains(""""rows_after_dedup": 5"""))
      assert(sb.contains(""""http_status": null""")) // fixture: observed-absent
      assert((""""stage_ms": \{"fetch": \d+, "parse": \d+, "probe": \d+, """ +
        """"secure": \d+, "write": \d+, "commit": \d+\}""").r
        .findFirstIn(sb).nonEmpty, sb)

      // async: immediate queued response, job completes in background
      val before = srv.backgroundCompleted.get()
      val (ac, ab) = httpPost(s"$base/jobs/ingestion")
      assert((ac, ab) === (200, """{"status": "queued"}"""))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (srv.backgroundCompleted.get() == before &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(srv.backgroundCompleted.get() === before + 1)

      // method/path contracts
      assert(httpGet(s"$base/jobs/ingestion")._1 === 405)
      assert(httpGet(s"$base/nope")._1 === 404)
    } finally srv.stop()
  }

  test("async triggers past the bounded queue are answered 503 busy, and " +
      "every accepted trigger completes") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val srv = new ApiServer(() => {
      started.countDown()
      release.await()
      IngestMetrics(None, None, 0L, 0L, "spec://blocked")
    }).start()
    val async = s"http://127.0.0.1:${srv.boundPort}/jobs/ingestion"
    try {
      assert(httpPost(async) === (200, """{"status": "queued"}"""))
      // the worker holds the first trigger; the queue takes the next ones
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
      for (_ <- 1 to ApiServer.AsyncQueue)
        assert(httpPost(async) === (200, """{"status": "queued"}"""))
      for (_ <- 1 to 2)
        assert(httpPost(async) === (503, """{"status": "busy"}"""))
      assert(srv.backgroundCompleted.get() === 0)
      release.countDown()
      val accepted = 1 + ApiServer.AsyncQueue
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (srv.backgroundCompleted.get() < accepted &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(srv.backgroundCompleted.get() === accepted)
      // the queue has room again
      assert(httpPost(async) === (200, """{"status": "queued"}"""))
    } finally { release.countDown(); srv.stop() }
  }

  test("sync endpoint emits valid JSON for hostile store paths " +
      "(quotes, backslashes, control chars)") {
    // the ADVICE r4/r5 sequence: quote+backslash alone still let
    // U+0000-U+001F through — drive the full hostile set end-to-end and
    // assert the body PARSES, not just that substrings appear
    val hostile = "/tmp/we\"ird\\dir\nwith\tctlchars"
    val srv = new graft.jobs.ApiServer(
      () => graft.jobs.IngestMetrics(Some(200), Some(0), 1L, 1L, hostile))
      .start()
    try {
      val (sc, sb) = httpPost(
        s"http://127.0.0.1:${srv.boundPort}/jobs/ingestion/sync")
      assert(sc === 200)
      // no raw control characters may survive into the one-line wire body
      assert(!sb.exists(c => c < 0x20), sb)
      // and the body round-trips through a real JSON parser
      val parsed = spark.read.json(
        spark.createDataset(Seq(sb))(
          org.apache.spark.sql.Encoders.STRING))
      assert(parsed.columns.contains("metrics"), sb)
      val out = parsed.selectExpr("metrics.output").head.getString(0)
      assert(out === hostile, s"escaped round-trip mismatch: $out")
    } finally srv.stop()
  }

  test("sync endpoint's 500 body is valid JSON when the failure message " +
      "has control chars") {
    // Spark failure messages routinely embed newlines ("Job aborted due
    // to stage failure:\n...") — the error path must escape like the
    // success path does
    val srv = new graft.jobs.ApiServer(() => throw new RuntimeException(
      "stage failure:\n\tat Something.scala:42 \"quoted\"")).start()
    try {
      val (sc, sb) = httpPost(
        s"http://127.0.0.1:${srv.boundPort}/jobs/ingestion/sync")
      assert(sc === 500)
      assert(!sb.exists(c => c < 0x20), sb)
      val parsed = spark.read.json(
        spark.createDataset(Seq(sb))(org.apache.spark.sql.Encoders.STRING))
      assert(parsed.columns.sorted.toSeq === Seq("detail", "status"), sb)
      val detail = parsed.selectExpr("detail").head.getString(0)
      assert(detail.contains("stage failure:\n\tat"), detail)
    } finally srv.stop()
  }

  test("fixture path reports transport metrics as absent, not invented") {
    val store = Files.createTempDirectory("graft_fx_store").toString + "/st"
    val metrics = IngestionJob.run(spark, fixture, store,
      "pepper", "0123456789abcdef", "bidx-key")
    assert(metrics.httpStatus === None)
    assert(metrics.retriesUsed === None)
    assert(metrics.logLines("fixture://x")
      .exists(_ == "http_status=n/a retries_used=n/a"))
  }
}
