package graft

import graft.expr.TopKAgg
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bounded top-k aggregate: result-equal to the window formulation,
  * planned as a two-phase (partial/final) aggregate — the property that
  * makes it the at-scale replacement for window top-k. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def viaAgg(k: Int) = spark.read
    .parquet(s"$sf/orders.parquet")
    .groupBy($"o_custkey")
    .agg(TopKAgg.topK(k)($"o_totalprice", $"o_orderkey").as("top"))
    .select($"o_custkey", posexplode($"top").as(Seq("i", "t")))
    .select($"o_custkey", ($"i" + 1).as("rank"),
      $"t.id".as("o_orderkey"), $"t.score".as("o_totalprice"))

  private def viaWindow(k: Int) = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"o_custkey", $"rank".cast("long"), $"o_orderkey", $"o_totalprice")
  }

  test("aggregate top-k equals the window formulation (k=1,3,5)") {
    for (k <- Seq(1, 3, 5)) {
      val a = viaAgg(k).collect().map(_.toSeq).toSet
      val b = viaWindow(k).collect().map(_.toSeq).toSet
      assert(a === b, s"mismatch at k=$k")
    }
  }

  test("plans as a two-phase aggregate: map-side partial before the shuffle") {
    val plan = viaAgg(3).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_"), s"no partial (map-side) phase:\n$plan")
  }

  test("shuffle bytes: parity with Spark's InferWindowGroupLimit, 50x+ " +
      "under the un-optimized window") {
    // Spark 3.5+ recognizes `row_number() <= k` filters and plans a
    // partial WindowGroupLimit BEFORE the exchange (SPARK-37099) — so the
    // optimized window formulation ALSO ships ≤ k rows per key per map
    // task. This test pins both facts: the bounded aggregate matches that
    // optimized shuffle volume (same order of magnitude), and both beat
    // the un-optimized window (rule excluded) by 50×+ — which is what a
    // rank filter the rule cannot recognize, or an engine without the
    // rule, would pay. The aggregate's remaining edge is composability:
    // top-k alongside other aggregates in ONE pass, grouped output with
    // no re-explode.
    // 200k rows over 3 keys (~67k rows/key, k=3): the regime bounded
    // top-k exists for
    val df = spark.range(200000).select(($"id" % 3).as("key"),
      ($"id" % 9973).cast("double").as("score"), $"id".as("ident"))
    def measure(d: org.apache.spark.sql.DataFrame): Long =
      graft.tools.Meter.measure(spark)(
        d.write.mode("overwrite").format("noop").save())._2.shuffleBytes
    val w = Window.partitionBy($"key")
      .orderBy($"score".desc, $"ident".asc)
    val windowed = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
    val aggBytes = measure(df.groupBy($"key")
      .agg(TopKAgg.topK(3)($"score", $"ident").as("top")))
    val winOptBytes = measure(windowed)
    val ruleKey = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(ruleKey)
    spark.conf.set(ruleKey,
      "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit")
    val winNaiveBytes =
      try measure(windowed)
      finally saved match {
        case Some(v) => spark.conf.set(ruleKey, v)
        case None => spark.conf.unset(ruleKey)
      }
    assert(aggBytes > 0 && winOptBytes > 0 && winNaiveBytes > 0)
    assert(aggBytes < winOptBytes * 10 && winOptBytes < aggBytes * 10,
      s"expected same order: agg=$aggBytes optimized-window=$winOptBytes")
    assert(aggBytes * 50 < winNaiveBytes,
      s"agg=$aggBytes should be ≪ un-optimized window=$winNaiveBytes")
  }

  test("property: matches local sort-take on random data with ties") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(2000)((rnd.nextInt(20).toLong,
      rnd.nextInt(50).toDouble, rnd.nextLong().abs))
    val df = rows.toDF("key", "score", "id")
    val got = df.groupBy($"key")
      .agg(TopKAgg.topK(4)($"score", $"id").as("top"))
      .as[(Long, Seq[(Double, Long)])].collect().toMap
    val expected = rows.groupBy(_._1).map { case (key, g) =>
      key -> g.map(r => (r._2, r._3))
        .sortBy { case (s, id) => (-s, id) }.take(4)
    }
    assert(got.keySet === expected.keySet)
    got.foreach { case (key, top) => assert(top === expected(key), s"key $key") }
  }
}
