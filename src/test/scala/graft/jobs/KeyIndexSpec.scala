package graft.jobs

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.IngestionBodies.{aesKey, batch, bidxKey, pepper, user}
import graft.SparkSpec

/** The ingestion run's JVM-held store key index: a run must answer as if
  * it read the whole store, whatever another writer did to the store since
  * the index was built, and runs on one store in one JVM commit one at a
  * time. */
class KeyIndexSpec extends SparkSpec {

  private def newStore(): String =
    Files.createTempDirectory("graft_index_store").toString + "/st"

  private def run(store: String, body: String): IngestMetrics =
    graft.IngestionBodies.run(spark, store, body)

  private def delete(dir: String): Unit = {
    val paths = Files.walk(Paths.get(dir))
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally paths.close()
  }

  private def count(store: String): Long = spark.read.parquet(store).count()

  /** (login_uuid, name_first) per stored row. */
  private def stored(store: String): Seq[(String, String)] =
    spark.read.parquet(store).select("login_uuid", "name_first").collect()
      .toSeq.map(r => (r.getString(0), r.getString(1))).sortBy(_.toString)

  /** Secured rows of `body` written as one part file by plain Spark, as
    * another writer of the store would; the file's path. */
  private def foreignPart(body: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_foreign").toString + "/w"
    IngestionJob.secureTransform(IngestionJob.readUsersJson(spark, body),
      pepper, aesKey, bidxKey).drop("_fetch_pos").coalesce(1)
      .write.parquet(dir)
    new File(dir).listFiles().find(_.getName.startsWith("part-")).get.toPath
  }

  test("a part file another writer puts into an indexed store is seen by " +
      "the next run: its keys win keep-first and its rows are counted") {
    val store = newStore()
    run(store, batch(user("k1", "Ada"), user("k2", "Alan")))
    // warm: the index now covers the store
    assert(run(store, batch(user("k1", "Ada2"))).rowsAfterDedup === 2)

    val part = foreignPart(batch(user("f1", "Foreign"), user(null, "Nobody")))
    Files.move(part, Paths.get(store, "part-foreign-" + part.getFileName),
      StandardCopyOption.ATOMIC_MOVE)

    val m = run(store, batch(user("f1", "Mine"), user(null, "Mine2"),
      user("k3", "Grace")))
    assert(m.rowsAfterDedup === 5)
    assert(count(store) === 5)
    assert(stored(store) === Seq(("f1", "Foreign"), ("k1", "Ada"),
      ("k2", "Alan"), ("k3", "Grace"), (null, "Nobody")).sortBy(_.toString))
  }

  test("a store deleted and rewritten at the same path rebuilds the index") {
    val store = newStore()
    run(store, batch(user("k1", "Ada"), user("k2", "Alan")))
    assert(run(store, batch(user("k1", "Ada2"))).rowsAfterDedup === 2)

    // rewritten by this job: k1 is new again
    delete(store)
    assert(run(store, batch(user("k2", "Alan2"))).rowsAfterDedup === 1)
    val m = run(store, batch(user("k1", "Ada3"), user("k2", "Alan3")))
    assert(m.rowsAfterDedup === 2)
    assert(stored(store) === Seq(("k1", "Ada3"), ("k2", "Alan2")))

    // rewritten by another writer: its keys are the stored ones
    delete(store)
    Files.createDirectories(Paths.get(store))
    val part = foreignPart(batch(user("f1", "Foreign"), user("f2", "F2"),
      user("f3", "F3")))
    Files.move(part, Paths.get(store, part.getFileName.toString))
    assert(run(store, batch(user("k1", "Ada4"), user("f2", "Mine")))
      .rowsAfterDedup === 4)
    assert(stored(store).map(_._1) === Seq("f1", "f2", "f3", "k1"))
    assert(stored(store).contains(("f2", "F2")))
  }

  test("a store of another schema fails the run with the schema check's " +
      "message even when an index exists for its path") {
    val store = newStore()
    run(store, batch(user("k1", "Ada")))
    assert(run(store, batch(user("k1", "Ada2"))).rowsAfterDedup === 1)

    delete(store)
    spark.range(3).selectExpr("cast(id as string) as login_uuid", "id as other")
      .write.parquet(store)
    val e = intercept[IllegalArgumentException](
      run(store, batch(user("k1", "Ada"))))
    assert(e.getMessage.contains("does not match the batch schema"),
      e.getMessage)
  }

  test("a dropped index gives the same answers as a kept one") {
    val batches = Seq(
      batch(user("k1", "Ada"), user(null, "Nobody"), user("k2", "Alan")),
      batch(user("k2", "Alan2"), user("k3", "Grace"), user(null, "N2")),
      batch(),
      batch(user("k3", "Grace3"), user("k4", "Ed"), user("k1", "Ada3")))
    val kept = newStore()
    val keptCounts = batches.map(b => run(kept, b).rowsAfterDedup)
    val dropped = newStore()
    val droppedCounts = batches.map { b =>
      IngestionJob.dropIndexes()
      run(dropped, b).rowsAfterDedup
    }
    assert(droppedCounts === keptCounts)
    assert(keptCounts === Seq(3L, 4L, 4L, 5L))
    assert(stored(dropped) === stored(kept))
  }

  test("two runs on one store at once commit one at a time: one row per " +
      "key, and each run's count is the store's right after its commit") {
    val store = newStore()
    run(store, batch(user("k1", "Ada"), user("k2", "Alan")))
    val before = Set("k1", "k2")
    val bodies = Seq(
      Seq("k2" -> "A", "n1" -> "A", "n2" -> "A", "n3" -> "A"),
      Seq("n2" -> "B", "n3" -> "B", "n4" -> "B", "k1" -> "B"))
    // both runs leave their fetch together, so their probes overlap unless
    // something serialises them
    val gate = new CyclicBarrier(2)
    final class Together(body: String) extends UserFetcher {
      override def describe: String = "spec://together"
      override def fetch(): FetchResult = {
        gate.await(30, TimeUnit.SECONDS)
        FetchResult(body, None, None)
      }
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = bodies.map { users =>
        val body = batch(users.map { case (k, n) => user(k, n) }: _*)
        pool.submit(new Callable[IngestMetrics] {
          def call(): IngestMetrics = Console.withOut(
            new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
            IngestionJob.run(spark, new Together(body), store, pepper, aesKey,
              bidxKey)
          }
        })
      }.map(_.get(120, TimeUnit.SECONDS).rowsAfterDedup)

      val rows = spark.read.parquet(store)
      assert(rows.count() === 6)
      assert(rows.select("login_uuid").distinct().count() === 6)
      // the run with the smaller count committed first: its count is the
      // store before plus its own new keys; the other's is the final store
      val keys = bodies.map(_.map(_._1).toSet)
      val first = if (runs(0) < runs(1)) 0 else 1
      assert(runs(first) === before.size + (keys(first) -- before).size)
      assert(runs(1 - first) === 6)
      val names: Map[String, String] = rows.select("login_uuid", "name_first")
        .collect().map { case Row(k: String, n: String) => k -> n }.toMap
      // the first committer's rows won every key both runs added
      val winner = if (first == 0) "A" else "B"
      assert((keys(0) & keys(1) -- before).forall(names(_) == winner), names)
      assert(rows.filter(col("login_uuid").isNull).count() === 0)
    } finally pool.shutdown()
  }
}
