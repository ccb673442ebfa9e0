package graft.tools

/** Prints each gated-ANN query's measured verification row (notably
  * `avg_recall`) at the given SF dir, so the pinned constants in the
  * oracle SQL (VERDICT r10 #3) can be re-derived after a testdata
  * regeneration: `sbt "runMain graft.tools.RecallProbe /root/testdata/sf0.01"`.
  */
object RecallProbe {
  val AnnQueries = Seq("q41_ann_lsh", "q44_ann_ivf", "q44b_ann_ivf_indexed",
    "q44c_ann_ivf_incremental", "q74_ann_pq", "q81_ann_ivfpq",
    "q143_ann_sq8", "q108_stream_ann_serving")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // hold the verify gate open so the probe can MEASURE recall at bench
    // SF (above Gates.MaxRows), where the benched plan itself
    // honestly skips the quadratic exact pass (VERDICT r11 #5)
    sys.props("graft.forceVerify") = "1"
    val spark = graft.LocalSpark(4)
    spark.sparkContext.setLogLevel("WARN")
    AnnQueries.foreach { name =>
      spark.catalog.clearCache()
      val row = graft.SparkEntry.queries(name)(spark, sfDir).head()
      println(s"RECALLPROBE $name $row")
    }
    spark.stop()
  }
}
