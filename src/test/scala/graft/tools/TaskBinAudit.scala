package graft.tools

/** Dev-only task-binary audit (test scope, never shipped): runs the whole
  * catalog once, printing a `###Q <name>` marker to stderr before each
  * query so Spark's "Broadcasting large task binary" WARNings (same
  * stream, synchronous console appender) can be attributed per query:
  *
  *   sbt "Test/runMain graft.tools.TaskBinAudit" 2> audit.log
  *   awk '/^###Q /{q=$2} /large task binary/{print q, $0}' audit.log
  *
  * Usage: sbt "Test/runMain graft.tools.TaskBinAudit [prefix,prefix,...]"
  */
object TaskBinAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSpark(graft.LocalSpark.defaultCpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val only = args.headOption.map(graft.Catalog.prefixes)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    names.foreach { name =>
      spark.catalog.clearCache()
      System.err.println(s"###Q $name")
      System.err.flush()
      try graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"###ERR $name ${e.getClass.getName}")
      }
    }
    System.err.println("###Q done")
    spark.stop()
  }
}
