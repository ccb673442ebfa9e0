package graft

/** Regression guards for the physical-plan properties the engine's 100 TB
  * posture depends on: filters and column pruning reaching the parquet
  * scan, broadcast joins for dims, TakeOrderedAndProject for top-k, and
  * whole-stage codegen in scan-heavy pipelines. These are the properties
  * `.explain` was inspected for by hand; the spec keeps them true.
  */
class PlanHygieneSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filter AND projection are pushed into the parquet scan") {
    val p = plan("q02_filter_project")
    // plan toString truncates long PushedFilters lists — match the head
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "IsNotNull(l_returnflag), GreaterThan(l_quantity,45.0)"), p)
    // pruned to exactly the 5 referenced columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double"), p)
  }

  test("q03: dim joins broadcast (no shuffle of the fact side for the join)") {
    val p = plan("q03_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan("q01_agg")
    // partial_* functions before the exchange, final HashAggregate after
    assert(p.contains("partial_sum"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q10: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan("q10_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q70: metadata query prunes the payload/text column at the scan") {
    val p = plan("q70_media_meta")
    // text is needed (payload bytes derive from it) but lang/source are not
    assert(!p.contains("source"), p)
  }

  test("q187: the serve probe bucket-prunes the postings index and plans " +
      "the top-20 as TakeOrderedAndProject") {
    val p = plan("q187_bm25_incremental")
    // the isin(QueryTerms) filter must reach the bucketed scan as bucket
    // pruning — the index-probe read that makes serve posting-list-sized
    assert(p.contains("SelectedBucketsCount"), p)
    // ... and prune to a strict subset of the 8 buckets
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(sel.exists(n => n >= 1 && n < 8), s"buckets=$sel\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("custom expressions stay inside codegen stages") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10).select(
      graft.expr.Crypto.hmacSha256Hex(col("id").cast("string"), lit("k")))
    // "*(n)" prefix marks whole-stage-codegen stages in the plan string;
    // a codegen-incapable expression would fall back to a bare Project
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p)
    val pDot = spark.range(4).selectExpr("array(cast(id as float)) as v")
      .select(graft.expr.VectorExprs.dotFast(col("v"), col("v")))
      .queryExecution.executedPlan.toString
    assert(pDot.contains("*(1) Project"), pDot)
    val cb = Seq.fill(2)(Seq.fill(4)(Seq(0.1, 0.2)))
    val pPq = spark.range(4)
      .selectExpr("array(cast(id as double), cast(id as double), " +
        "cast(id as double), cast(id as double)) as v")
      .select(graft.expr.VectorExprs.pqEncode(col("v"), cb))
      .queryExecution.executedPlan.toString
    assert(pPq.contains("*(1) Project"), pPq)
  }

  test("q34/q35: the df cap runs in the shingle kernel (no join, no window)") {
    // the stop-shingle cap and its floor rescue are one per-row
    // expression over each doc's shingle array, fed by a driver-held hot
    // list: the plan carries the kernel and neither an anti-join on the
    // hot set nor a rescue window — a df WINDOW here would instead
    // shuffle the whole posting stream by shingle (the round-4 redesign
    // this guards). q34's CATALOG plan became an artifact read when the
    // shared pair table is warm (round 12's build-once memo), so the
    // guard targets the DETECTION plan its build job runs; q35 still
    // plans detection directly.
    val docs = graft.schema.Tables.documents(spark, sf)
    val plans = Seq(
      "q34 detection" -> graft.ops.TextOps
        .minHashLshPairs(docs, 0.5, dfCap = 16)
        .queryExecution.executedPlan.toString,
      "q35" -> plan("q35_ngram_jaccard"))
    for ((q, p) <- plans)
      assert(p.contains("graft_shingle_kernel") && !p.contains("LeftAnti") &&
        !p.contains("Window"), s"$q:\n$p")
  }

  test("candidate lookups tokenize only the candidates: the id semi-join " +
      "sits below the tokenizer, never above an unpruned documents scan") {
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan,
      Project, RepartitionOperation, UnaryNode, Union}
    import org.apache.spark.sql.functions._
    def tokenizers(p: LogicalPlan) = p.collect {
      case t: Project if t.projectList.exists(_.exists(
        _.isInstanceOf[StringSplit])) => t
    }
    // walking down from a tokenizer, the semi-join comes before any scan,
    // and no repartition sits on the way to the scan: the candidate rows
    // never pass an exchange
    def pruned(n: LogicalPlan): Boolean = n match {
      case _: RepartitionOperation => false
      case j: Join => j.joinType == LeftSemi &&
        !j.left.exists(_.isInstanceOf[RepartitionOperation])
      case u: Union => u.children.forall(pruned)
      case u: UnaryNode => pruned(u.child)
      case _ => false
    }
    val cand = spark.range(5)
      .select((col("id") * 7).as("id_a"), (col("id") * 7 + 1).as("id_b"))
    val looked = graft.ops.TextOps.lookupForCandidates(
      graft.schema.Tables.load(spark, sf, "documents"), cand)
    looked.unpersist() // plan the lookup itself, not its cache entry
    val p = looked.select(col("doc_id"), col("sh"))
      .queryExecution.optimizedPlan
    assert(tokenizers(p).nonEmpty, p.toString)
    tokenizers(p).foreach(t =>
      assert(pruned(t.child), s"a tokenizer reads an unpruned scan:\n$p"))
    // q34c's verify lookup, inside the query's own plan (its increment
    // banding tokenizes the increment unpruned by design; the lookup is
    // the tokenizer with a semi-join below it)
    val q34c = SparkEntry.queries("q34c_minhash_incremental")(spark, sf)
    spark.catalog.clearCache() // plan the lookups, not their cache entries
    val pq = q34c.queryExecution.optimizedPlan
    val lookups = tokenizers(pq).filter(_.exists {
      case j: Join => j.joinType == LeftSemi
      case _ => false
    })
    assert(lookups.nonEmpty, pq.toString)
    lookups.foreach(t => assert(pruned(t.child),
      s"q34c's lookup tokenizes candidates behind an exchange:\n$pq"))
  }

  test("q42: above the row-count gate the benched plan carries NO " +
      "CartesianProduct node — the last unguarded quadratic plan is " +
      "gone (VERDICT r14 #4)") {
    // a corpus ABOVE Gates.MaxRows: 1100 vectors. The all-pairs
    // oracle leg must not run — the plan is the empty un-run sentinel,
    // mirrored by the oracle's row-count predicate.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q42_gate").toString
    spark.range(1100)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), " +
          "i -> CAST(pmod(id * i, 97) AS FLOAT) / 97.0F)").as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = SparkEntry.queries("q42_embed_neardup")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q42 above the gate still plans an all-pairs join:\n${p.take(400)}")
    assert(df.count() === 0L)
    // and BELOW the gate the oracle mechanism still runs for real —
    // the all-pairs scan IS the point at oracle scale (at 500 vectors
    // Spark broadcasts one side, so the node is a nested-loop cross
    // join rather than CartesianProduct — same quadratic mechanism)
    val small = SparkEntry.queries("q42_embed_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(small.contains("CartesianProduct") ||
      small.contains("BroadcastNestedLoopJoin"),
      "q42 below the gate no longer plans its all-pairs oracle leg")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q42b: the LSH bucket join shuffles ids, never embeddings") {
    // candidate generation exchanges carry (band, bucket, vec_id) — the
    // embedding column must only appear in exchanges AFTER the candidate
    // pair join (the verification fetch)
    val df = SparkEntry.queries("q42b_embed_neardup_lsh")(spark, sf)
    // the candidate-generation join (keyed on band+bucket) is what moves
    // between executors — neither of its inputs may carry an embedding
    // column; full vectors enter only in the post-candidate fetch joins
    val bucketJoins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.exists(_.toString.contains("bucket")) => j
    }
    assert(bucketJoins.nonEmpty, "bucket-keyed join not found")
    assert(bucketJoins.forall(j =>
      !(j.left.output ++ j.right.output).exists(_.name.contains("embedding"))),
      bucketJoins.map(j => (j.left.output ++ j.right.output)
        .map(_.name).mkString(",")).mkString("\n"))
  }

  test("q81: the ADC probe join broadcasts queries and never exchanges codes") {
    // the index side of the probed-cell join must stream (cell-pruned scan
    // at scale); only the query side (tables + probed cells) broadcasts
    val p = plan("q81_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("catalog integrity: unique names, no null/empty oracle strings") {
    // Round 9 shipped Some(null) via a strict-val forward reference
    // (TextOps.RagChunksSql declared after catalog2) — Verify NPE'd and the
    // whole round's DuckDB compare was zeroed. This catches any recurrence
    // at test time, for every module's catalog at once.
    val cat = SparkEntry.catalog
    val dupes = cat.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(",")}")
    val bad = cat.filter(q => q.oracle.exists(s => s == null || s.trim.isEmpty))
    assert(bad.isEmpty, s"null/empty oracles: ${bad.map(_.name).mkString(",")}")
    // the driver's t1 smoke calls entry() directly — pin its rows>0
    // contract here so a broken delegate (or a bad hardcoded sf path)
    // fails in CI, not in the driver
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q167: ORC roundtrip preserves values and the read-back scan " +
      "accepts pushed filters") {
    import spark.implicits._
    // roundtrip equality on the real table: the catalog query vs the
    // same aggregate straight from parquet
    val orc = SparkEntry.queries("q167_orc_roundtrip")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSet
    val direct = graft.schema.Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.col("user_id")).as("u"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CAST(round(value * 100) AS BIGINT)")).as("c"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(orc === direct)
    // pushdown reaches the ORC scan like it does the parquet one
    val dir = java.nio.file.Files
      .createTempDirectory("graft_orc_spec_").toString
    graft.schema.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("value"))
      .write.mode("overwrite").orc(dir)
    val p = spark.read.orc(dir)
      .filter(org.apache.spark.sql.functions.col("event_id") > 100L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(event_id), " +
      "GreaterThan(event_id,100)"), p)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
