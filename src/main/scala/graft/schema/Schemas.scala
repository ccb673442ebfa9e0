package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders + explicit schemas for the driver testdata
  * (`/root/testdata/sf*`, see TESTDATA.md) and the ingestion-parity
  * nested-user record (reference: `/root/reference/ingestion/api_client.py:9-13`,
  * fields consumed at `transformations.py:31-41`).
  *
  * Only the ingestion record ([[Schemas.userSchema]]) and the ingestion
  * store's row ([[Schemas.storeSchema]]) have a declared StructType. The
  * testdata tables do not: [[Tables.load]] reads each
  * file's schema from its parquet footer, which costs one Spark job per
  * read. A declared schema per table would drop those jobs and let a
  * footer that disagrees fail loudly (ROADMAP direction 9).
  */
object Schemas {

  /** Nested RandomUser-shaped record (required subset; extra fields tolerated
    * by schema-on-read). Reference flattens immediately with json_normalize
    * (`transformations.py:25`); we keep it nested and flatten at the edge.
    */
  val userSchema: StructType = StructType(Seq(
    StructField("name", StructType(Seq(
      StructField("title", StringType),
      StructField("first", StringType),
      StructField("last", StringType)))),
    StructField("email", StringType),
    StructField("login", StructType(Seq(
      StructField("uuid", StringType),
      StructField("username", StringType),
      StructField("password", StringType)))),
    StructField("dob", StructType(Seq(
      StructField("date", StringType),
      StructField("age", LongType)))),
    StructField("registered", StructType(Seq(
      StructField("date", StringType),
      StructField("age", LongType)))),
    StructField("phone", StringType),
    StructField("location", StructType(Seq(
      StructField("street", StructType(Seq(
        StructField("number", LongType),
        StructField("name", StringType)))),
      StructField("city", StringType),
      StructField("state", StringType),
      StructField("country", StringType),
      StructField("postcode", StringType))))
  ))

  /** One row of the ingestion store: the secured projection of a user
    * (`IngestionJob.secureTransform`, either overload), plaintext PII
    * dropped. A store whose `part-*` footer disagrees on a field's name or
    * type fails the ingestion run. */
  val storeSchema: StructType = StructType(Seq(
    StructField("login_uuid", StringType),
    StructField("login_username", StringType),
    StructField("name_first", StringType),
    StructField("name_last", StringType),
    StructField("dob_date", TimestampType),
    StructField("dob_age", LongType),
    StructField("registered_date", TimestampType),
    StructField("location_country", StringType),
    StructField("password_hash", StringType),
    StructField("email_enc", StringType),
    StructField("phone_enc", StringType),
    StructField("street_name_enc", StringType),
    StructField("email_bidx", StringType)))
}

/** Scan helpers. One parquet file per table; at cluster scale these would be
  * partitioned directories — `spark.read.parquet` handles both identically.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Minimum split count for the wide corpus tables: a fraction of the
    * cores, not all of them — the catalog's plans are many short stages,
    * and 32 tasks per stage on a corpus this size costs more in scheduling
    * than the parallelism buys (measured in the docsWithShingles guard
    * this floor generalizes).
    */
  def minSplits(s: SparkSession): Int =
    math.max(2, s.sparkContext.defaultParallelism / 4)

  /** Fan an under-split scan out before CPU-heavy derivation chains.
    *
    * Narrow-transform parallelism is capped by the SOURCE's split count: a
    * single-file corpus (the local test SFs, one row group) scans as ONE
    * partition, so every downstream tokenize / JSON-parse / hash / codec
    * chain runs serially on one task. This exact hazard shipped three
    * rounds running (docsWithShingles r5, mediaTable r6, then a 17-query
    * family of raw-table consumers caught by the r6 driver bench at
    * 3.4-17× the internal numbers), so the guard now lives here at the
    * load, covering every consumer at once. At 100 TB parquet supplies
    * thousands of splits and this is a no-op — the condition keys off
    * actual vs available parallelism, not a constant. Hash-partitioning on
    * the table key (vs round-robin `repartition(n)`) avoids the
    * local-sort Spark inserts for deterministic round-robin and gives
    * downstream self-joins a reusable distribution.
    */
  /** Scan split count per source path. `df.rdd.getNumPartitions` forces a
    * full analyze/plan/file-listing cycle; the count is stable per path
    * within a session (file layout + maxPartitionBytes don't change under
    * us), and catalog-wide consumers (Bench, Verify, plan audits) call the
    * loaders hundreds of times while composing ~100 queries. */
  private val splitCounts = scala.collection.concurrent.TrieMap.empty[String, Int]

  private def fanOut(s: SparkSession, df: DataFrame, key: String,
                     path: String): DataFrame = {
    val min = minSplits(s)
    val n = splitCounts.getOrElseUpdate(path, df.rdd.getNumPartitions)
    if (n < min) df.repartition(min, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** Drop a managed table AND its leftover warehouse directory. A table
    * dropped in a previous JVM leaves its directory behind while the fresh
    * session's in-memory catalog has no entry to overwrite through — the
    * subsequent CREATE then fails on the non-empty location. Used by the
    * written-index entries (q34b, q44b) and mirrored in BucketingSpec. */
  def resetManagedTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    // Hadoop FS, not java.io.File: the warehouse may be non-local
    // (hdfs://, s3a://) — URI.getPath on those would silently point the
    // recursive delete at the driver's LOCAL disk while the stale remote
    // directory survives.
    val dir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
      table)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) { fs.delete(dir, true); () }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  /** The two TPC-H fact tables get the same under-split guard as the wide
    * corpus tables (VERDICT r7 #3): at sf0.1 lineitem packs into ~3 splits
    * and orders into 1, so the whole relational family (q10-q17, q26, q29)
    * ran its scans-plus-aggregations on 1-3 tasks — below the guard's own
    * floor — and host contention amplified exactly those queries (q11b
    * 1.89 → 5.05 s across two driver rounds). Keyed on the orderkey so the
    * orders⋈lineitem join family and the groupBy(l_orderkey) aggregations
    * can reuse the distribution. At 100 TB the condition is a no-op. */
  def orders(s: SparkSession, d: String): DataFrame =
    fanOut(s, load(s, d, "orders"), "o_orderkey", s"$d/orders.parquet")
  def lineitem(s: SparkSession, d: String): DataFrame =
    fanOut(s, load(s, d, "lineitem"), "l_orderkey", s"$d/lineitem.parquet")

  /** RAW (un-fanned) fact-table loaders — for consumers whose FIRST
    * operator is itself an exchange on a DIFFERENT key (a window/sort/agg
    * partitioned by something other than the order key). There the
    * under-split guard's spread is discarded by the very next operator,
    * and its exchange is pure cost: the map side feeding the consumer's
    * exchange is the same single-split scan either way, so fanning out
    * first adds one full-table shuffle (8 map tasks + a stage barrier)
    * that buys nothing (round 18, measured: q09 1.59 → the guide §2.4
    * "remove shuffles outright" case — two back-to-back Exchanges in the
    * plan). Consumers running NARROW CPU work after the scan (tokenize,
    * crypto, decode, per-row scoring) must keep the fanned loaders — the
    * guard exists for exactly them (r5-r7 lessons above). At 100 TB both
    * variants plan identically (the guard is already a no-op there). */
  def ordersRaw(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitemRaw(s: SparkSession, d: String): DataFrame =
    load(s, d, "lineitem")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]). Read the raw INT64 nanos via
    * the legacy conf and convert with INTEGER division (a double division
    * would lose precision: epoch-nanos ≈ 1.7e18 > 2^53).
    */
  def events(s: SparkSession, d: String): DataFrame =
    fanOut(s, eventsRaw(s, d), "event_id", s"$d/events.parquet")

  /** [[events]] minus the under-split fan-out — same raw-vs-fanned rule
    * as [[lineitemRaw]]: the event-analytics family windows by user_id,
    * so the event_id spread is re-exchanged immediately. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      // nanos file → raw INT64 under the conf → convert; micros-precision
      // files (e.g. Spark-written test fixtures) arrive as TIMESTAMP already
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    documentsAndScan(s, d)._1

  /** [[documents]] together with the raw scan it fans out, from ONE read
    * (each `spark.read.parquet` runs a schema-inference job): the
    * near-duplicate maintainers band the fan-out and look candidates up
    * in the scan — a candidate-sized read gains nothing from the fan-out. */
  def documentsAndScan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val scan = load(s, d, "documents")
    (fanOut(s, scan, "doc_id", s"$d/documents.parquet"), scan)
  }
  def embeddings(s: SparkSession, d: String): DataFrame =
    fanOut(s, load(s, d, "embeddings"), "vec_id", s"$d/embeddings.parquet")
}
