package graft.tools

import graft.ops.SkewData

/** Skew-mitigation measurement (VERDICT r10 #4): runs the q29/q18 salted
  * shapes and their plain twins against a ZIPFIAN fact table — a key
  * distribution the driver testdata doesn't have — and reports, per
  * variant: wall time, total shuffle bytes, and the LONGEST single task
  * (the straggler that decides wall-clock on a real cluster; a hot key is
  * invisible in totals but dominates this column). Results go to
  * SCALING.md's skew section.
  *
  * The fact table is WRITTEN to parquet first so every variant reads the
  * same multi-file scan (no in-memory range lineage differences), and the
  * plain SMJ runs both with AQE's skew split disabled (the unmitigated
  * baseline) and enabled (the automatic mitigation q29's manual salting
  * is the fallback for).
  *
  * Usage: `sbt "runMain graft.tools.SkewBench"` (~2 min at the default
  * 4M × 100k-key size).
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val cpus = graft.LocalSpark.defaultCpus
    val nRows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "4000000").toLong
    val nKeys = 100000
    val spark = graft.LocalSpark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val dir = graft.ops.RunScope.keyed("SkewBench")(
      graft.ops.RunScope.scratch("graft_skew"))
    SkewData.fact(spark, nRows, nKeys, parts = cpus)
      .write.mode("overwrite").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = SkewData.dim(spark, nKeys)

    def conf(k: String, v: String): Unit = spark.conf.set(k, v)

    // common: force SMJ for the join variants so the skew actually lands
    // on a shuffle (the dim is broadcastable at this size; at 100 TB the
    // dim that needs salting is the one that is NOT)
    def noBroadcast(): Unit =
      conf("spark.sql.autoBroadcastJoinThreshold", "-1")
    def restoreBroadcast(): Unit =
      conf("spark.sql.autoBroadcastJoinThreshold", "10485760")

    def measure(name: String)(mk: => org.apache.spark.sql.DataFrame)
        : Seq[Any] = {
      // shuffle and max-task come from the SAME run as the best wall —
      // otherwise the printed straggler can come from a contended rep
      // while the wall comes from the clean one
      val ((best, r), m) = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        Meter.measure(spark) {
          val t0 = System.nanoTime()
          val r = mk.collect()
          ((System.nanoTime() - t0) / 1e9, r)
        }
      }.minBy(_._1._1)
      val row = r.head.toSeq
      println(f"$name%-28s ${best}%7.2f s ${m.shuffleBytes / 1e6}%9.2f MB " +
        f"maxTask ${m.maxTaskMs / 1e3}%6.2f s   result=${row.mkString(",")}")
      row
    }

    println(s"zipf fact: $nRows rows, $nKeys keys, cpus=$cpus")
    // hot-key profile (the q77 diagnostic on this table)
    val prof = fact.groupBy("k").count()
      .selectExpr("count(*) n_keys", "max(count) max_cnt",
        "round(max(count) / avg(count), 1) skew_ratio")
      .collect().head
    println(s"profile: $prof")

    conf("spark.sql.adaptive.skewJoin.enabled", "false")
    noBroadcast()
    val a = measure("join plain SMJ (no AQE skew)")(
      SkewData.plainJoinAgg(fact, dim))
    conf("spark.sql.adaptive.skewJoin.enabled", "true")
    val b = measure("join plain SMJ (AQE skew)")(
      SkewData.plainJoinAgg(fact, dim))
    conf("spark.sql.adaptive.skewJoin.enabled", "false")
    val c = measure("join salted x8 (q29 shape)")(
      SkewData.saltedJoinAgg(fact, dim, saltN = 8))
    restoreBroadcast()
    val d = measure("join broadcast dim")(
      SkewData.plainJoinAgg(fact, dim))
    require(Seq(b, c, d).forall(_ == a), "join variants disagree")

    val e = measure("agg plain")(SkewData.plainAgg(fact))
    val f = measure("agg salted x16 (q18 shape)")(
      SkewData.saltedAgg(fact, saltN = 16))
    require(e == f, "agg variants disagree")

    val g = measure("holistic agg plain")(SkewData.holisticAgg(fact))
    val h = measure("holistic agg salted x16")(
      SkewData.saltedHolisticAgg(fact, saltN = 16))
    require(g == h, "holistic agg variants disagree")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    spark.stop()
  }
}
