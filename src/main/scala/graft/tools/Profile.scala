package graft.tools

/** Per-query cost-structure profiler (round 18, guide §1): the bench
  * records WALL per query, but optimizing a 17 MB-scale run needs the
  * split behind it — how much of a query is scheduling (jobs × stages ×
  * tasks) versus executor compute (task time) versus data movement
  * (shuffle bytes). Runs each named query exactly like Bench does
  * (clearCache, build = function invocation, serve = noop write) and
  * prints one line per query:
  *
  *   name  wall  build  jobs  stages  tasks  task_sec  shuf_mb  gc_sec
  *     classes  comp_ms
  *
  * A query whose task_sec ≪ wall × cores is scheduling/serialization
  * bound (fix: fewer jobs/stages/partitions); one whose task_sec is the
  * wall × cores product is compute bound (fix: the plan or expressions).
  * `classes` is the generated classes the run compiled: a warm (r2) run
  * that still compiles dozens has a working set larger than Spark's
  * 100-entry codegen cache and recompiles its own code every run.
  *
  * Usage: sbt "runMain graft.tools.Profile <sfDir> <q>… [-stages]"
  * (query names may be comma- or space-separated; prefix match). The
  * counters and their accounting caveat are [[Meter]]'s. `-stages` adds
  * each run's 25 costliest stages by task time, named by call site.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val (flags, rest) = args.tail.partition(_.startsWith("-"))
    val stageMode = flags.contains("-stages")
    val wanted = rest.flatMap(graft.Catalog.prefixes)
    val spark = graft.LocalSpark(graft.LocalSpark.defaultCpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.exists(n.startsWith))
    println(f"${"query"}%-38s ${"wall"}%6s ${"build"}%6s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"task_s"}%7s ${"shufMB"}%7s ${"gc_s"}%5s ${"classes"}%7s ${"comp_ms"}%7s")
    // two reps like Bench: rep 1 is the cold artifact build, rep 2 the
    // warm steady state the recorded min-of-2 actually lands on for the
    // maintainer family (ArtifactCache memo). Both printed, tagged.
    names.foreach { name =>
      (1 to 2).foreach { rep =>
        spark.catalog.clearCache()
        val ((wall, build), m) = Meter.measure(spark) {
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9)
        }
        println(f"$name%-36s r$rep $wall%6.2f $build%6.2f ${m.jobs}%5d ${m.stages}%5d ${m.tasks}%6d ${m.taskMs / 1e3}%7.1f ${m.shuffleBytes / 1e6}%7.1f ${m.gcMs / 1e3}%5.1f ${m.compiles}%7d ${m.compileMs}%7d")
        if (stageMode)
          m.stageRows.sortBy(-_.taskMs).take(25).foreach { st =>
            println(f"    ${st.taskMs / 1e3}%7.2fs ${st.tasks}%5d tasks ${st.shuffleBytes / 1e6}%8.2fMB  ${st.name}")
          }
      }
    }
    spark.stop()
  }
}
