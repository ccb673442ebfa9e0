package perfbench

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Base64
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{ApiServer, FetchResult, HttpUserFetcher, IngestMetrics,
  IngestionJob, SecretKeys, UserFetcher}
import graft.ops.Upsert

import Main.Cfg

/** The reference's own service path. The client POSTs
  * `/jobs/ingestion/sync` to an [[ApiServer]] whose job runs
  * `IngestionJob.run` with an [[HttpUserFetcher]] pointed at the
  * benchmark's loopback users API, which serves the next seeded batch.
  *
  * `bulk = false` (ingest_trickle): the production [[SecretKeys]] profile
  * (Argon2id t=3, 64 MiB; Fernet) against a store that starts empty.
  * `bulk = true` (ingest_bulk): the 4 MiB AES overload against a store
  * pre-seeded with `historyRows` rows, which repeated keys are drawn from.
  */
final class IngestWorkload(cfg: Cfg, tracer: Tracer, bulk: Boolean)
    extends Workload {
  import IngestWorkload.Batch

  private val rnd = new java.util.SplittableRandom(cfg.seed ^ 0x6b657973L)
  private def keyBytes(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
  private val keys = SecretKeys(s"pepper-${cfg.seed}",
    Base64.getUrlEncoder.encodeToString(keyBytes(32)),
    Base64.getEncoder.encodeToString(keyBytes(32)))
  private val aesKey = keyBytes(8).map(b => f"$b%02x").mkString

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private var loadApi: HttpServer = _
  private var api: ApiServer = _
  private val served = new AtomicReference[String]("")
  private val current = new AtomicReference[(Long, Long)]((0L, -1L))
  private var gen: LoadGen = _
  private var storeDir: Path = _
  private val bodies = mutable.ArrayBuffer.empty[String]
  @volatile private var lastFetch: (Double, Int) = (0.0, 0)
  private var lastRows = 0L
  /** The warm-up trigger's one user, keyed outside the run's key space. */
  private val WarmRows = 1L

  private def secure(users: DataFrame): DataFrame =
    if (bulk) IngestionJob.secureTransform(users, keys.pepper, aesKey,
      keys.blindIndexKey)
    else IngestionJob.secureTransform(users, keys, kdfTimeCost = 3,
      kdfMemoryKib = 65536)

  /** Delegating fetcher that records the `fetch` span and its wall. */
  private final class TimedFetcher(inner: UserFetcher, parent: Long, op: Long)
      extends UserFetcher {
    override def describe: String = inner.describe
    override def fetch(): FetchResult = {
      val t0 = System.nanoTime()
      val r = tracer.span("fetch", parent, op)(_ => inner.fetch())
      lastFetch = ((System.nanoTime() - t0) / 1e9, r.retriesUsed.getOrElse(0))
      r
    }
  }

  private def job(s: SparkSession, url: String)(): IngestMetrics = {
    val (parent, op) = current.get
    tracer.span("api.job", parent, op) { id =>
      if (id != 0L) Main.tagJobs(s, id, op)
      val f = new TimedFetcher(new HttpUserFetcher(url), id, op)
      if (bulk) IngestionJob.run(s, f, storeDir.toString, keys.pepper, aesKey,
        keys.blindIndexKey)
      else IngestionJob.run(s, f, storeDir.toString, keys)
    }
  }

  /** Write `n` history rows in the store's persisted schema, keyed by
    * [[LoadGen.historyUuid]]. */
  private def seedStore(s: SparkSession, n: Long, path: String): Unit = {
    val probe = IngestionJob.readUsersJson(s, new LoadGen(cfg.seed + 1, 1, 0).next())
    val schema = secure(probe).drop("_fetch_pos").schema
    val id = col("id")
    def h(salt: String) = sha2(concat(lit(s"$salt${cfg.seed}:"), id.cast("string")), 256)
    def pick(xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (pmod(id, lit(xs.size.toLong)) + 1).cast("int"))
    def ts(salt: Int) = timestamp_seconds(
      lit(315532800L) + pmod(xxhash64(id, lit(salt)), lit(1000000000L)))
    def cipher(salt: String) = base64(unhex(concat(h(salt), h(salt + "x"))))
    val exprs = Map(
      "login_uuid" -> concat(lit(LoadGen.historyUuidPrefix(cfg.seed)),
        lpad(lower(hex(id)), 12, "0")),
      "login_username" -> concat(lit("user"), id.cast("string")),
      "name_first" -> pick(LoadGen.First),
      "name_last" -> pick(LoadGen.Last),
      "dob_date" -> ts(1),
      "dob_age" -> (pmod(id, lit(60L)) + 18),
      "registered_date" -> ts(2),
      "location_country" -> pick(LoadGen.Countries),
      "password_hash" -> concat(lit("$argon2id$v=19$m=4096,t=3,p=1$"),
        base64(unhex(substring(h("salt"), 1, 32))), lit("$"),
        base64(unhex(h("pw")))),
      "email_enc" -> cipher("e"),
      "phone_enc" -> cipher("p"),
      "street_name_enc" -> cipher("s"),
      "email_bidx" -> h("b"))
    s.range(n).select(schema.fields.toSeq.map(f =>
        exprs(f.name).cast(f.dataType).as(f.name)): _*)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def post(port: Int): HttpResponse[String] = client.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/jobs/ingestion/sync"))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
    HttpResponse.BodyHandlers.ofString())

  override def setup(s: SparkSession, rep: Int): Unit = {
    val base = cfg.work.resolve(s"rep$rep")
    Files.createDirectories(base)
    storeDir = base.resolve("store")
    if (bulk) seedStore(s, cfg.historyRows, storeDir.toString)
    loadApi = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    loadApi.createContext("/api", (ex: HttpExchange) => {
      val bytes = served.get.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    loadApi.start()
    val url = s"http://127.0.0.1:${loadApi.getAddress.getPort}/api?results=$Batch"
    api = new ApiServer(job(s, url) _).start()
    // warm-up trigger: one user into the store, so the first op is not
    // charged JIT and first-use class loading of the store-sized paths
    served.set(new LoadGen(cfg.seed + 1, 1, 0).next())
    val r = post(api.boundPort)
    require(r.statusCode() == 200, s"warm-up trigger failed: ${r.body()}")
    gen = new LoadGen(cfg.seed, Batch, cfg.historyRows)
    bodies.clear()
    lastRows = cfg.historyRows + WarmRows
  }

  override def op(s: SparkSession, k: Int, span: Long): () => OpResult = {
    val body = gen.next()
    val want = gen.expectedRows + WarmRows
    bodies += body
    served.set(body)
    current.set((span, k.toLong))
    val resp = post(api.boundPort)
    () => {
      val fields = mutable.LinkedHashMap.empty[String, Double]
      val errs = mutable.ArrayBuffer.empty[String]
      if (resp.statusCode() != 200) errs += s"HTTP ${resp.statusCode()}"
      val js = mapper.readTree(resp.body())
      if (js.path("status").asText() != "completed")
        errs += s"status ${js.path("status").asText()}"
      val m = js.path("metrics")
      val fetched = m.path("rows_fetched").asLong(-1L)
      val after = m.path("rows_after_dedup").asLong(-1L)
      if (fetched != Batch) errs += s"rows_fetched $fetched != $Batch"
      if (after != want) errs += s"rows_after_dedup $after != $want"
      fields("rows_fetched") = fetched.toDouble
      fields("rows_after") = after.toDouble
      fields("new_rows") = (after - lastRows).toDouble
      lastRows = after
      if (span != 0L) {
        fields("fetch_s") = lastFetch._1
        fields("retries") = lastFetch._2.toDouble
      }
      OpResult(errs.isEmpty, errs.mkString("; "), fields.toMap)
    }
  }

  /** Replays on the op's batch: `secureTransform` alone, then
    * `keepFirst(store, secured batch)`, each written to `noop`. */
  override def replay(s: SparkSession, k: Int): Map[String, Double] = {
    val sec = secure(IngestionJob.readUsersJson(s, bodies(k))).persist()
    def timed(name: String)(f: => Unit): Double =
      tracer.span(name, 0L, k) { id =>
        Main.tagJobs(s, id, k)
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
    try {
      val secureS = timed("secure")(Main.noop(sec))
      val keepS = timed("keep_first")(Main.noop(Upsert.keepFirst(
        s.read.parquet(storeDir.toString).withColumn("_fetch_pos", lit(-1)),
        sec, keys = Seq("login_uuid"), order = Seq(col("_fetch_pos")))
        .drop("_fetch_pos")))
      Map("secure_s" -> secureS, "keep_first_s" -> keepS)
    } finally { sec.unpersist(blocking = true); () }
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  private var storeRows = 0L
  private var storeBytes = 0L
  private var identical = false

  override def finish(s: SparkSession): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    // load generator self-check: same seed, byte-identical batches, and
    // every batch parses with a key on every row
    val again = new LoadGen(cfg.seed, Batch, cfg.historyRows)
    identical = bodies.forall(_ == again.next())
    if (!identical) errs += "load generator is not deterministic"
    bodies.zipWithIndex.foreach { case (b, i) =>
      val nulls = IngestionJob.readUsersJson(s, b)
        .filter(col("login.uuid").isNull).count()
      if (nulls != 0) errs += s"batch $i: $nulls rows without login_uuid"
    }
    // final store: one row per key, no plaintext PII
    if (bodies.nonEmpty) {
      val st = s.read.parquet(storeDir.toString)
      val plain = Seq("login_password", "email", "phone", "location_street_name")
        .filter(st.columns.contains)
      if (plain.nonEmpty) errs += s"plaintext columns stored: ${plain.mkString(",")}"
      val r = st.agg(count(lit(1)), countDistinct(col("login_uuid"))).head()
      storeRows = r.getLong(0)
      if (r.getLong(0) != r.getLong(1)) errs += s"store has ${r.getLong(0)} rows " +
        s"for ${r.getLong(1)} keys"
      if (storeRows != gen.expectedRows + WarmRows) errs +=
        s"store has $storeRows rows, expected ${gen.expectedRows + WarmRows}"
      storeBytes = dirBytes(storeDir)
    }
    errs.toSeq
  }

  override def info: Map[String, Any] = Map(
    "store_rows" -> storeRows, "store_bytes" -> storeBytes,
    "history_rows" -> cfg.historyRows, "batch" -> Batch,
    "repeat_share" -> (if (gen == null || gen.slots == 0) 0.0
      else gen.repeatedSlots.toDouble / gen.slots),
    "batches_identical" -> identical)

  override def close(): Unit = {
    if (api != null) api.stop()
    if (loadApi != null) loadApi.stop(0)
  }
}

object IngestWorkload {
  /** Users per batch: the reference job's batch size. */
  val Batch = 10
}
