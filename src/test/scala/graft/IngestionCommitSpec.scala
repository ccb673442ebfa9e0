package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

import graft.IngestionBodies.{aesKey, batch, bidxKey, pepper, user}
import graft.expr.Crypto
import graft.jobs.{IngestMetrics, IngestionJob, SecretKeys}
import graft.ops.Upsert
import graft.schema.Schemas
import graft.tools.Meter

/** The ingestion run's append-only commit against the reference's
  * keep-first upsert (`ingestion/io_utils.py:16-39`):
  * after every run the store must hold exactly what
  * `Upsert.keepFirst(store, batch)` would have rewritten it to, and a
  * killed run's staging residue must never reach the store.
  */
class IngestionCommitSpec extends SparkSpec {

  /** The columns a rerun reproduces bit for bit (no salt, no IV). */
  private val deterministic = Seq("login_uuid", "login_username", "name_first",
    "name_last", "dob_date", "dob_age", "registered_date", "location_country",
    "email_bidx")

  private def run(store: String, body: String): IngestMetrics =
    IngestionBodies.run(spark, store, body)

  private def sorted(df: DataFrame): Seq[Row] =
    df.select(deterministic.map(col): _*).collect().toSeq.sortBy(_.toString)

  /** The store's deterministic rows, or none if there is no store yet. */
  private def storeRows(store: String): Seq[Row] =
    if (Files.exists(Paths.get(store))) sorted(spark.read.parquet(store))
    else Nil

  /** The old semantics: the whole store and the secured batch through
    * `Upsert.keepFirst`, stored rows first, then fetch position. */
  private def keepFirst(before: Seq[Row], body: String): Seq[Row] = {
    val secured = IngestionJob.secureTransform(
      IngestionJob.readUsersJson(spark, body), pepper, aesKey, bidxKey)
      .select((col("_fetch_pos") +: deterministic.map(col)): _*)
    val schema = secured.drop("_fetch_pos").schema
    val existing = spark.createDataFrame(
      spark.sparkContext.parallelize(before, 1), schema)
      .withColumn("_fetch_pos", lit(-1))
      .select(secured.columns.map(col): _*)
    sorted(Upsert.keepFirst(existing, secured, keys = Seq("login_uuid"),
      order = Seq(col("_fetch_pos"))))
  }

  /** Run `body` into `store` and check it against `keepFirst`. */
  private def checkRun(store: String, body: String): IngestMetrics = {
    val want = keepFirst(storeRows(store), body)
    val m = run(store, body)
    val got = storeRows(store)
    assert(got === want)
    assert(m.rowsAfterDedup === want.size)
    assert(m.rowsFetched ===
      IngestionJob.readUsersJson(spark, body).count())
    // the run's staging directory is gone
    assert(new File(store).getParentFile.list().toSeq === Seq("st"))
    m
  }

  private def newStore(): String =
    Files.createTempDirectory("graft_commit_store").toString + "/st"

  test("append-only commit equals keepFirst over the whole store, run " +
      "after run") {
    val store = newStore()
    // first run into a missing store: a key repeated within the batch and
    // two keyless users (one keyless row survives, the first)
    val m1 = checkRun(store, batch(user("k1", "Ada"), user("k2", "Alan"),
      user("k1", "Ada2"), user(null, "Nobody"), user(null, "Nobody2")))
    assert(m1.rowsAfterDedup === 3)
    // stored keys win, the stored keyless row wins, one key is new
    val m2 = checkRun(store, batch(user("k2", "Alan2"), user("k3", "Grace"),
      user(null, "Nobody3"), user("k3", "Grace2")))
    assert(m2.rowsAfterDedup === 4)
    // an empty batch adds nothing
    assert(checkRun(store, batch()).rowsAfterDedup === 4)
    // only repeats: nothing is written
    val files = new File(store).list().length
    assert(checkRun(store, batch(user("k3", "Grace3"), user("k1", "Ada3")))
      .rowsAfterDedup === 4)
    assert(new File(store).list().length === files)
    val st = spark.read.parquet(store)
    assert(st.count() === st.select("login_uuid").distinct().count())
  }

  test("an empty first batch creates an empty store; a keyless user then " +
      "enters it once") {
    val store = newStore()
    assert(checkRun(store, batch()).rowsAfterDedup === 0)
    assert(Files.isDirectory(Paths.get(store)))
    assert(checkRun(store, batch(user(null, "Nobody"), user("k1", "Ada")))
      .rowsAfterDedup === 2)
    assert(checkRun(store, batch(user(null, "Nobody2"))).rowsAfterDedup === 2)
  }

  test("a killed run's staging residue never reaches the store, and the " +
      "next runs commit beside it") {
    val store = newStore()
    run(store, batch(user("k1", "Ada"), user("k2", "Alan")))
    val before = storeRows(store)
    assert(before.size === 2)

    // what a run killed mid-write leaves: its staging directory beside the
    // store, holding a truncated part file
    val part = new File(store).listFiles()
      .find(_.getName.startsWith("part-")).get
    val bytes = Files.readAllBytes(part.toPath)
    val residue = Paths.get(s"$store.tmp-0123456789ab")
    Files.createDirectories(residue)
    Files.write(residue.resolve(part.getName),
      java.util.Arrays.copyOf(bytes, bytes.length / 2))

    // the store still reads with its previous contents
    assert(storeRows(store) === before)

    // a run commits correctly next to the residue
    val body = batch(user("k2", "Alan2"), user("k3", "Grace"))
    val want = keepFirst(before, body)
    val m1 = run(store, body)
    assert(storeRows(store) === want)
    assert(m1.rowsAfterDedup === 3)

    // rerunning the same batch adds 0 rows and reports the same count
    val files = new File(store).list().length
    val m2 = run(store, body)
    assert(m2.rowsAfterDedup === m1.rowsAfterDedup)
    assert(storeRows(store) === want)
    assert(new File(store).list().length === files)
    assert(Files.exists(residue))
  }

  test("a warm run against an existing store runs no Spark job and " +
      "compiles nothing: parse, probe, count, secure and write all run on " +
      "the driver") {
    val store = newStore()
    run(store, batch(user("k1", "Ada")))
    // the existing-store path once, with a keyless user and a stored key
    run(store, batch(user("k2", "Alan"), user(null, "Nobody"), user("k1", "A")))

    val body = batch(user("k3", "Grace"), user("k1", "Ada2"), user("k4", "Ed"))
    val (_, parse) = Meter.measure(spark)(
      IngestionJob.readUsersJson(spark, body).collect())
    assert(parse.jobs === 0)
    val (m, warm) = Meter.measure(spark)(run(store, body))
    assert(m.rowsAfterDedup === 5)
    assert(warm.jobs === 0, warm.stageRows.map(_.name).mkString("; "))
    assert(warm.compiles === 0, s"warm run compiled ${warm.compiles} classes")
  }

  test("the secured rows, folded into their local relation or executed, " +
      "write equal stores in Spark's own file format: the declared schema, " +
      "equal deterministic columns, hashes that verify and ciphertexts " +
      "that decrypt to the same plaintext") {
    val bodies = Seq(
      batch(user("k1", "Ada"), user("k2", "Alan"), user(null, "Nobody"),
        user("k1", "Ada2")),
      batch(user("k3", "Grace"), user("k4", "Ed"), user("k2", "Alan3"),
        user("k5", "Bo"), user("k6", "Cy"), user("k7", "Di")))
    val (folded, unfolded, bySpark) = (newStore(), newStore(), newStore())
    def files(store: String) = Option(new File(store).listFiles()).toSeq
      .flatten.filter(_.getName.startsWith("part-"))
    var cold = Set.empty[File]
    for (body <- bodies) {
      cold = files(folded).toSet
      val (_, f) = Meter.measure(spark)(run(folded, body))
      assert(f.jobs === 0)
      val (_, u) = Meter.measure(spark)(LocalSpark.withConf(spark,
          "spark.sql.optimizer.excludedRules" ->
            "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")(
        run(unfolded, body)))
      assert(u.jobs > 0) // the unfolded plan is executed
    }
    // the same batch written by a Spark write job, for its footer
    IngestionJob.secureTransform(IngestionJob.readUsersJson(spark,
        bodies.head), pepper, aesKey, bidxKey)
      .drop("_fetch_pos").repartition(1).write.parquet(bySpark)
    def footer(f: File) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f.toURI), spark.sparkContext.hadoopConfiguration))
      try {
        val meta = r.getFooter.getFileMetaData
        (meta.getSchema,
          meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      } finally r.close()
    }
    val stores = Seq(folded, unfolded)
    val schemas = (stores :+ bySpark).flatMap(files).map(footer)
    assert(schemas.size === 5 && schemas.distinct.size === 1, schemas)
    val found = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(schemas.head._1)
    assert(found.map(f => f.name -> f.dataType) ===
      Schemas.storeSchema.map(f => f.name -> f.dataType))

    assert(storeRows(folded) === storeRows(unfolded))
    assert(storeRows(folded).size === 8)
    // the warm run's file holds its new rows in fetch order
    assert(spark.read.parquet(files(folded).filterNot(cold).head.toString)
      .select("login_uuid").collect().map(_.getString(0)).toSeq ===
      Seq("k3", "k4", "k5", "k6", "k7"))
    def plain(store: String): Seq[Row] = spark.read.parquet(store).select(
        col("login_uuid"), col("name_first"), col("password_hash"),
        Crypto.decrypt(col("email_enc"), aesKey),
        Crypto.decrypt(col("phone_enc"), aesKey),
        Crypto.decrypt(col("street_name_enc"), aesKey))
      .collect().toSeq.sortBy(_.toString)
    for (store <- stores; r <- plain(store)) {
      val first = r.getString(1)
      assert(Crypto.verifyPassword(s"pw$first", pepper, r.getString(2)), r)
      assert(Seq(r.getString(3), r.getString(4), r.getString(5)) ===
        Seq(s"$first@example.com", s"011-555-$first", s"$first Road"), r)
    }
    assert(plain(folded).map(r => (r.getString(0), r.getString(1))) ===
      plain(unfolded).map(r => (r.getString(0), r.getString(1))))
  }

  test("both secureTransform overloads produce exactly the declared store " +
      "schema") {
    val users = IngestionJob.readUsersJson(spark,
      batch(user("k1", "Ada"), user(null, "Nobody")))
    val fernet = java.util.Base64.getUrlEncoder.encodeToString(
      Array.tabulate[Byte](32)(_.toByte))
    def fields(df: DataFrame) =
      df.drop("_fetch_pos").schema.map(f => f.name -> f.dataType)
    val declared = Schemas.storeSchema.map(f => f.name -> f.dataType)
    assert(fields(IngestionJob.secureTransform(users, pepper, aesKey,
      bidxKey)) === declared)
    assert(fields(IngestionJob.secureTransform(users,
      SecretKeys(pepper, fernet, bidxKey), kdfTimeCost = 1,
      kdfMemoryKib = 64)) === declared)
  }

  test("a store written with another schema fails the run with the schema " +
      "check's message") {
    val store = newStore()
    spark.range(3).selectExpr("cast(id as string) as login_uuid", "id as other")
      .write.parquet(store)
    val e = intercept[IllegalArgumentException](
      run(store, batch(user("k1", "Ada"))))
    assert(e.getMessage.contains("does not match the batch schema"),
      e.getMessage)
  }

  test("the driver-side parse equals Spark's JSON reader exploded by " +
      "position, malformed and partial bodies included") {
    import spark.implicits._
    val envelope = StructType(Seq(
      StructField("results", ArrayType(Schemas.userSchema))))
    def reader(body: String): DataFrame = spark.read.schema(envelope)
      .json(spark.createDataset(body :: Nil))
      .select(posexplode(col("results")).as(Seq("_fetch_pos", "user")))
      .select(col("_fetch_pos"), col("user.*"))
    for (body <- Seq(batch(user("k1", "Ada"), user(null, "Nobody")),
        batch(), """{"results": null}""", "{}", "not json",
        """{"results": [null, {"login": {"uuid": 5}, "dob": {"age": "x"}}]}""",
        """{"results": [{"email": "a@b", "extra": 1}], "info": {}}""")) {
      val parsed = IngestionJob.readUsersJson(spark, body)
      assert(parsed.schema === reader(body).schema, body)
      assert(parsed.collect().toSeq === reader(body).collect().toSeq, body)
    }
  }
}
