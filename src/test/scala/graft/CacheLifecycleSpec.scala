package graft

/** Long-lived-session cache residency (round 16, VERDICT r15 #7).
  *
  * The bench clears the session cache between queries, which MASKS
  * accretion: a production session composing the catalog repeatedly
  * must not grow its persisted-RDD set run over run. graft.ops.RunScope
  * (each query's persists and checkpoints are freed when the same query
  * is composed again) plus the try/finally-scoped persists are the
  * mechanisms; this spec is the assertion. `sc.getPersistentRDDs` sees
  * BOTH layers — RDDs behind CacheManager entries and checkpoint block
  * RDDs — and is updated synchronously on unpersist, so the count is a
  * faithful leak meter.
  */
class CacheLifecycleSpec extends SparkSpec {

  test("repeated catalog runs do not accrete cached blocks: residency " +
      "after pass 3 equals residency after pass 1") {
    val sf = "/root/testdata/sf0.001"
    // one representative per persist-owning family: LSH pair sweep
    // (in-plan + indexed + incremental), cluster CC, semantic dedup,
    // decontam, retrieval postings, IVF index, kmv/cms/pareto sketch
    // checkpoints, graph + rank maintainers, exact-dedup index
    val names = Seq(
      "q34_minhash_lsh", "q34c_minhash_incremental", "q45_dup_clusters",
      "q87_semantic_dedup", "q95_fuzzy_decontam", "q103_decontam_report",
      "q121_exact_dedup_indexed", "q144_incremental_clusters",
      "q187_bm25_incremental", "q44c_ann_ivf_incremental",
      "q196_cms_frequency", "q198_kmv_overlap", "q201_pareto_frontier",
      "q203_pareto_maintain", "q200_dupgraph_transitivity",
      "q209_pagerank_maintain", "q210_transitivity_maintain",
      "q129_pagerank")
    def pass(): Int = {
      names.foreach { n =>
        SparkEntry.queries(n)(spark, sf)
          .write.mode("overwrite").format("noop").save()
      }
      spark.sparkContext.getPersistentRDDs.size
    }
    val after1 = pass()
    val after2 = pass()
    val after3 = pass()
    // intent: composing the same work again REPLACES each family's
    // generation instead of stacking a new one per pass. Pass 1 may sit
    // slightly HIGHER than steady state (the cold build-once artifact
    // builds leave frames the first warm pass's tracker evicts); from
    // pass 2 on the count must not grow — any monotone growth is a leak
    // that compounds in a long-lived session. NON-GROWTH, not strict
    // equality (ADVICE r16 #1): the ContextCleaner asynchronously
    // removes GC'd persisted RDDs and blocking=false releases complete
    // asynchronously at the block layer, so pass-over-pass counts can
    // legitimately tick DOWN between samples; only an increase is a
    // leak signal.
    assert(after2 <= after1 && after3 <= after2,
      s"cached-RDD residency grew across passes: $after1 -> $after2 " +
        s"-> $after3 (a persist site is missing an eviction owner)")
  }

  test("the ABOVE-GATE rank serve's persists are generation-owned too: " +
      "repeated shuffled-mode serves do not accrete (round 18 — the " +
      "src-aligned incJoin and degJ persists join liveRankCaches)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rank_residency").toString
    spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    graft.ops.GraphOps.writeEdgeSnapshot(spark, dir)
    val cut = graft.schema.Cuts.lineitem(spark, dir)
    def serve(): Int = {
      graft.ops.GraphOps.pageRankMaintainServe(spark,
          graft.ops.GraphOps.coPurchaseEdges(
            graft.schema.Tables.lineitem(spark, dir)
              .filter(col("l_orderkey") >= cut)),
          iters = 2, broadcastGateNodes = 0L)
        .write.mode("overwrite").format("noop").save()
      spark.sparkContext.getPersistentRDDs.size
    }
    val after1 = serve()
    val after2 = serve()
    val after3 = serve()
    assert(after2 <= after1 && after3 <= after2,
      s"above-gate rank-serve residency grew across serves: $after1 -> " +
        s"$after2 -> $after3 (incJoin/degJ missing a tracker owner)")
  }
}
