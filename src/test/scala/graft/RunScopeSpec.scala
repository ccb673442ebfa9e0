package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Queries that share one driver own their cached data, checkpoints and
  * scratch dirs run by run (graft.ops.RunScope): composing one query
  * never frees what another query's unacted plan reads, a micro-batch
  * frees what it cached when it returns, and a restarted session
  * rebuilds what the stopped one held.
  */
class RunScopeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def compose(s: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(s, sf)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  // pairs from one family: the second query once freed the first one's
  // eager checkpoints when it was composed
  Seq(
    "q198_kmv_overlap" -> "q196_cms_frequency",
    "q203_pareto_maintain" -> "q198_kmv_overlap",
    "q209_pagerank_maintain" -> "q129_pagerank").foreach { case (a, b) =>
    test(s"composing $b before acting on $a leaves $a's plan intact") {
      val expected = rows(compose(spark, a))
      val first = compose(spark, a)
      compose(spark, b)
      assert(rows(first) == expected)
    }
  }

  test("per-micro-batch candidate lookups are freed with their batch: " +
      "q109 and q146 hold no more persisted RDDs pass over pass") {
    Seq("q109_stream_neardup_gate", "q146_stream_cluster_maintain")
      .foreach { n =>
        val counts = (1 to 3).map { _ =>
          noop(compose(spark, n))
          spark.sparkContext.getPersistentRDDs.size
        }
        assert(counts(1) <= counts(0) && counts(2) <= counts(1),
          s"$n: persisted RDDs grew across passes: ${counts.mkString(" -> ")}")
      }
  }

  test("two queries of one family run at once on two threads, three " +
      "times each, and match a sequential run") {
    val names = Seq("q196_cms_frequency", "q198_kmv_overlap")
    val sequential = names.map(n => rows(compose(spark, n)))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val runs = names.map(n =>
      Future((1 to 3).map(_ => rows(compose(spark, n)))))
    names.zip(sequential).zip(runs).foreach { case ((n, want), run) =>
      Await.result(run, Duration.Inf).foreach(got =>
        assert(got == want, s"$n differs from its sequential run"))
    }
  }

  // last in the suite: it stops the shared session; later suites get
  // the restarted one from SparkSpec.session
  test("a stopped and restarted session serves q144 and q198") {
    val names = Seq("q144_incremental_clusters", "q198_kmv_overlap")
    val before = names.map(n => rows(compose(spark, n)))
    spark.stop()
    val restarted = SparkSpec.session
    assert(!restarted.sparkContext.isStopped)
    assert(names.map(n => rows(compose(restarted, n))) == before)
  }
}
