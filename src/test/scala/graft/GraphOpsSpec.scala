package graft

import graft.ops.GraphOps
import graft.tools.Meter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Shuffle bytes of one noop write of `df`, which is built inside the
    * metered window: the rank loops run eager actions while building. */
  private def shuffleBytes(df: => DataFrame): Long = {
    spark.catalog.clearCache()
    Meter.measure(spark)(df.write.mode("overwrite").format("noop").save())
      ._2.shuffleBytes
  }

  test("coPurchaseEdges: symmetric, deduped, no self-loops") {
    // orders: (o1: p1 p2 p3), (o2: p1 p2) — p1-p2 co-occur twice but must
    // appear once per direction
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val e = GraphOps.coPurchaseEdges(li)
      .as[(Long, Long)].collect().toSet
    assert(e == Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L)))
    assert(e.forall { case (a, b) => a != b && e((b, a)) })
  }

  test("pageRankScaled matches a hand-computed integer recurrence on a " +
      "star-plus-edge graph") {
    // graph: hub 1 ↔ {2, 3, 4}, plus 2 ↔ 3. N=4, scale=1000 for hand math
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (4L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    // deg: 1→3, 2→2, 3→2, 4→1. r0 = 1000/4 = 250 each. base = 150/4 = 37
    // it1: r(1) = 37 + (250*85)/(100*2) [from 2] + same [from 3]
    //             + (250*85)/100 [from 4] = 37 + 106 + 106 + 212 = 461
    //      r(2) = 37 + (250*85)/(100*3) [from 1] + (250*85)/(100*2) [from 3]
    //           = 37 + 70 + 106 = 213;  r(3) = 213 by symmetry
    //      r(4) = 37 + 70 = 107
    val r1 = GraphOps.pageRankScaled(edges, iters = 1, scale = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 461L, 2L -> 213L, 3L -> 213L, 4L -> 107L))
    // it2 from (461, 213, 213, 107):
    //  r(1) = 37 + (213*85)/200 + (213*85)/200 + (107*85)/100
    //       = 37 + 90 + 90 + 90 = 307
    //  r(2) = 37 + (461*85)/300 + (213*85)/200 = 37 + 130 + 90 = 257
    //  r(4) = 37 + 130 = 167
    val r2 = GraphOps.pageRankScaled(edges, iters = 2, scale = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 307L, 2L -> 257L, 3L -> 257L, 4L -> 167L))
  }

  test("rank mass is conserved up to integer-floor leakage") {
    val edges = GraphOps.coPurchaseEdges(
      Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 11L), (3L, 12L))
        .toDF("l_orderkey", "l_partkey"))
    val scale = 1000000000L
    val ranks = GraphOps.pageRankScaled(edges, iters = 5, scale = scale)
    val mass = ranks.agg(sum("r")).as[Long].head()
    val n = 3L // nodes 10, 11, 12
    // every div floors at most 1 per term; per iteration the loss is
    // < (#edges + N) — after 5 iterations mass sits just under scale
    assert(mass <= scale && mass >= scale - 5 * (6 + n) - n)
  }

  test("iterations are exchange-free on the dst-clustered layout: " +
      "5 iterations shuffle no more bytes than 1") {
    val li = spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
    def run(iters: Int): Long =
      shuffleBytes(GraphOps.pageRankScaled(GraphOps.coPurchaseEdges(li), iters))
    val one = run(1)
    val five = run(5)
    assert(one > 0L) // the edge build does shuffle (once)
    assert(five <= one * 11 / 10,
      s"iterations shuffled: 1-iter=$one bytes, 5-iter=$five bytes")
  }

  test("result is invariant to input partitioning (integer determinism)") {
    val li = spark.range(0, 2000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 37 AS l_partkey")
    def run(parts: Int) =
      GraphOps.pageRankScaled(
          GraphOps.coPurchaseEdges(li.repartition(parts)), iters = 3)
        .as[(Long, Long)].collect().toMap
    assert(run(1) == run(7))
  }

  test("q209 incremental maintenance == from-scratch rank: the " +
      "snapshot-store + increment edge merge is lossless (VERDICT r14 #5)") {
    val sf = "/root/testdata/sf0.001"
    // q209 derives snapshot edges from the written store + increment
    // edges from the order suffix; q129 derives everything from scratch.
    // Co-purchase pairs never straddle the l_orderkey cut, so the two
    // top-20 rank lists must be identical, bit for bit.
    val scratch = SparkEntry.queries("q129_pagerank")(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val maintained = SparkEntry.queries("q209_pagerank_maintain")(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(maintained === scratch)
  }

  test("q209 maintain serve: extra rank iterations add only node-sized " +
      "shuffle — the snapshot edge store is never re-exchanged (round 16)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_serve").toString
    spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    GraphOps.writeEdgeSnapshot(spark, dir)
    val cut = graft.schema.Cuts.lineitem(spark, dir)
    def serve(iters: Int): Long =
      shuffleBytes(GraphOps.pageRankMaintainServe(spark,
        GraphOps.coPurchaseEdges(graft.schema.Tables.lineitem(spark, dir)
          .filter(col("l_orderkey") >= cut)), iters))
    val one = serve(1)
    val five = serve(5)
    // both serves pay the same increment derivation + anti-join; the 4
    // extra iterations may only add node-sized exchanges (211 parts —
    // the full_outer contribution merge), never an edge-relation
    // re-shuffle. Contrast: the merged edge relation is ~44k pairs
    // (~700 KB serialized), so a single edge re-exchange per iteration
    // would add hundreds of KB; node-sized exchanges measure ~3-4 KB.
    // The threshold scales off the measured 1-iter baseline (which
    // carries the edge-sized build exchange) instead of a bare
    // absolute, so a different shuffle-compression default moves both
    // sides together (ADVICE r16 #4); the 32 KB floor keeps the bound
    // meaningful if the build ever shrinks.
    assert(one > 0L)
    val perIter = (five - one) / 4
    assert(perIter <= math.max(32 * 1024L, one / 20),
      s"per-iteration shuffle is not node-sized: $perIter bytes " +
        s"(1-iter=$one, 5-iter=$five)")
  }

  test("broadcast gate both-sides fixture (round 17, VERDICT r16 #2): " +
      "forcing the shuffled-rank fallback produces bit-identical ranks " +
      "in both the from-scratch loop and the maintain serve") {
    // from-scratch: gate 0 forces the src-layout + shuffle-hash plan
    val li = spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
    val bcast = GraphOps.pageRankScaled(
        GraphOps.coPurchaseEdges(li), iters = 3)
      .as[(Long, Long)].collect().toMap
    val shuffled = GraphOps.pageRankScaled(
        GraphOps.coPurchaseEdges(li), iters = 3, broadcastGateNodes = 0L)
      .as[(Long, Long)].collect().toMap
    assert(shuffled == bcast,
      "shuffled-rank fallback diverged from the broadcast plan")
    // maintain serve: the fallback additionally reads the lazily
    // written src-bucketed twin of the snapshot store
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_gate").toString
    spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    GraphOps.writeEdgeSnapshot(spark, dir)
    val cut = graft.schema.Cuts.lineitem(spark, dir)
    def inc = GraphOps.coPurchaseEdges(
      graft.schema.Tables.lineitem(spark, dir)
        .filter(col("l_orderkey") >= cut))
    val servedB = GraphOps.pageRankMaintainServe(spark, inc, iters = 3)
      .as[(Long, Long)].collect().toMap
    val servedS = GraphOps.pageRankMaintainServe(spark, inc, iters = 3,
        broadcastGateNodes = 0L)
      .as[(Long, Long)].collect().toMap
    assert(servedS == servedB,
      "maintain-serve fallback diverged from the broadcast serve")
  }

  test("the shuffled-rank fallback is still edge-stationary: extra " +
      "iterations above the gate add node-bounded shuffle, never an " +
      "edge-relation re-exchange (round 17, VERDICT r16 #2)") {
    val li = spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
    def run(iters: Int): Long =
      shuffleBytes(GraphOps.pageRankScaled(GraphOps.coPurchaseEdges(li), iters,
        broadcastGateNodes = 0L))
    val one = run(1)
    val five = run(5)
    // the 1-iter run carries the edge build + the one-time src-layout
    // exchange; the 4 extra iterations may add only the node-sized rank
    // exchange plus the partial-aggregated contribution exchange
    // (bounded by nodes × partitions — ~211 nodes here), NEVER the
    // ~700 KB edge relation. one/8 scales with compression defaults
    // while sitting far below a per-iteration edge re-exchange, which
    // would add >= one/2 per iteration.
    assert(one > 0L)
    val perIter = (five - one) / 4
    assert(perIter <= math.max(96 * 1024L, one / 8),
      s"fallback per-iteration shuffle is not node-bounded: $perIter " +
        s"bytes (1-iter=$one, 5-iter=$five)")
  }

  test("the maintain serve's fallback is edge-stationary too: above the " +
      "gate the snapshot rides its src-bucketed twin and extra " +
      "iterations stay node-bounded (round 17, VERDICT r16 #2)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_gate_shuf").toString
    spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    GraphOps.writeEdgeSnapshot(spark, dir)
    val cut = graft.schema.Cuts.lineitem(spark, dir)
    def serve(iters: Int): Long =
      shuffleBytes(GraphOps.pageRankMaintainServe(spark,
        GraphOps.coPurchaseEdges(graft.schema.Tables.lineitem(spark, dir)
          .filter(col("l_orderkey") >= cut)),
        iters, broadcastGateNodes = 0L))
    // warm the src-layout twin OUTSIDE the metered window: its one-time
    // bucketed write is an ingest-time artifact cost, not serve shuffle
    serve(1)
    val one = serve(1)
    val five = serve(5)
    // same bound as the loop-side test: per-iteration additions are the
    // node-sized rank exchange + partial-aggregated contributions from
    // both sides; a snapshot re-exchange would add ~one/2 per iteration
    assert(one > 0L)
    val perIter = (five - one) / 4
    assert(perIter <= math.max(96 * 1024L, one / 8),
      s"serve fallback per-iteration shuffle is not node-bounded: " +
        s"$perIter bytes (1-iter=$one, 5-iter=$five)")
  }

  test("the fallback serve survives the DRIVER posture — 32 shuffle " +
      "partitions (> the 8-bucket store), AQE on, rank side too big to " +
      "broadcast: no iteration's executed plan re-exchanges the " +
      "src-bucketed snapshot (round 18 guard for the snapParts " +
      "alignment)") {
    // The de-bucketing hazard is partition-count- AND posture-
    // dependent: when the side joining the store arrives partitioned at
    // spark.sql.shuffle.partitions > the bucket count, the planner
    // re-exchanges the BUCKETED side to the larger count and the full
    // edge relation moves every iteration. None of the existing guards
    // can see it: the spec session runs 4 shuffle partitions (< 8
    // buckets, the bucketed side always anchors), PlanAuditSpec's
    // composed-plan audit never sees the loop's per-iteration plans
    // (each iteration executes inside its eager localCheckpoint during
    // query COMPOSITION; the returned frame is a truncated
    // ExistingRDD), and at fixture scale AQE broadcast-converts the
    // tiny rank join, which masks the hazard — at 100 TB the rank
    // relation is NOT broadcastable (that is the whole point of the
    // above-gate path). Measured on this fixture with broadcast
    // disabled: reverting BOTH snapParts alignments (rnk and degJ —
    // either alone still anchors the rd join at the bucket count)
    // takes per-iteration shuffle from 45 KB (node-sized) to 112 KB
    // (edge-sized re-exchange of the 8822-edge snapshot, 2.5×). This
    // leg reproduces the driver posture — 32 partitions, AQE ON,
    // autoBroadcastJoinThreshold -1 — captures each iteration's ACTUAL
    // executed (adaptive) plan via a QueryExecutionListener, and
    // asserts no shuffle exchange sits between the src-twin's scan and
    // its join: the written layout must stay the anchor. First run of
    // this leg also caught a real misplan the byte meters had absorbed:
    // iteration 1 planned against COLD degJ/incJoin caches (an
    // unmaterialized InMemoryRelation wraps a non-final adaptive plan,
    // outputPartitioning UNKNOWN) and re-exchanged the store for that
    // one iteration — fixed by materializing the pre-exchanged caches
    // before the loop; this guard now holds for EVERY iteration.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    // AQE wraps materialized stages in QueryStageExec (children = Nil),
    // so TreeNode.collect stops at stage boundaries — traverse through
    // them and through the adaptive root's current physical plan
    def deepChildren(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    def subtreeHas(p: SparkPlan, pred: SparkPlan => Boolean): Boolean =
      pred(p) || deepChildren(p).exists(subtreeHas(_, pred))
    def isSrcScan(p: SparkPlan): Boolean = p match {
      case sc: FileSourceScanExec =>
        sc.tableIdentifier.exists(_.table == GraphOps.EdgeSrcTable)
      case _ => false
    }
    // the hazard is an exchange BETWEEN the scan and its join — the
    // store moving before it anchors anything. Exchanges above the JOIN
    // output (the contribution groupBy's partial-aggregated exchange)
    // are the node-sized movement the design budgets for, so the
    // downward walk stops at join nodes.
    def scanBeforeAnyJoin(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case sc if isSrcScan(sc) => true
      case other => deepChildren(other).exists(scanBeforeAnyJoin)
    }
    def violations(p: SparkPlan): Int =
      (p match {
        case ex: ShuffleExchangeLike if scanBeforeAnyJoin(ex.child) => 1
        case _ => 0
      }) + deepChildren(p).map(violations).sum
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_gate_departs").toString
    // dense co-purchase fixture (12-item orders over 401 parts): 8822
    // directed edges vs 401 nodes, so an edge-sized re-exchange is
    // unambiguous against node-sized movement
    spark.range(0, 24000L)
      .selectExpr("id div 12 AS l_orderkey", "id % 401 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAbc =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraphOps.writeEdgeSnapshot(spark, dir)
      val cut = graft.schema.Cuts.lineitem(spark, dir)
      GraphOps.writeEdgeSrcLayout(spark) // build the twin outside capture
      spark.catalog.clearCache()
      spark.listenerManager.register(qel)
      GraphOps.pageRankMaintainServe(spark,
          GraphOps.coPurchaseEdges(graft.schema.Tables.lineitem(spark, dir)
            .filter(col("l_orderkey") >= cut)),
          iters = 3, broadcastGateNodes = 0L)
        .write.mode("overwrite").format("noop").save()
      org.apache.spark.sql.graftshim.ListenerShim
        .waitUntilListenersDrained(spark.sparkContext)
      val captured = plans.toArray(Array.empty[SparkPlan]).toSeq
      val withScan = captured.filter(subtreeHas(_, isSrcScan))
      // positive control: the iterations' plans were CAPTURED (eager
      // localCheckpoints fire the listener) and scan the twin once per
      // iteration — without this the violation sweep passes vacuously
      // if a Spark upgrade stops reporting checkpoint executions
      assert(withScan.size >= 3,
        s"captured only ${withScan.size} plans scanning the src twin " +
          "across 3 iterations — the listener is not seeing the loop")
      val bad = withScan.map(violations).sum
      assert(bad == 0,
        s"$bad shuffle exchange(s) above the ${GraphOps.EdgeSrcTable} " +
          "scan in the iterations' executed plans at the driver " +
          "posture — the store is being re-exchanged (~2.5× iteration " +
          "shuffle) instead of anchoring the join; restore the " +
          "snapParts alignment")
    } finally {
      spark.listenerManager.unregister(qel)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      prevAbc match {
        case Some(v) => spark.conf
          .set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf
          .unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("the src-bucketed twin is built once per snapshot generation — " +
      "including after a memo loss (cross-JVM serve, ADVICE r17 #3): " +
      "the stored-table signature fallback keeps build-once economics") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_srconce").toString
    spark.range(0, 20000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 211 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    GraphOps.writeEdgeSnapshot(spark, dir)
    // content signature of the twin's files — identical iff not rewritten
    def srcSig(): String = graft.schema.Cuts.pathSig(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(GraphOps.EdgeSrcTable))
        .location.toString)
    GraphOps.writeEdgeSrcLayout(spark)
    val sig1 = srcSig()
    GraphOps.writeEdgeSrcLayout(spark)
    assert(srcSig() == sig1,
      "a second same-generation serve rewrote the src-bucketed twin")
    // simulate a FRESH JVM serving a warehouse-persisted snapshot: both
    // build memos are gone, both tables are still on disk. The first
    // call may rebuild (memo cold); the second must memo-hit via the
    // stored-table signature fallback — before the fallback its parent
    // tag was None and EVERY above-gate serve rewrote the full copy.
    graft.ops.ArtifactCache.invalidate(GraphOps.EdgeTable)
    graft.ops.ArtifactCache.invalidate(GraphOps.EdgeSrcTable)
    GraphOps.writeEdgeSrcLayout(spark)
    val sig2 = srcSig()
    GraphOps.writeEdgeSrcLayout(spark)
    assert(srcSig() == sig2,
      "post-memo-loss second serve rewrote the twin — the stored-table " +
        "signature fallback is not keeping the build-once amortization")
  }

  test("maintain serve with an EMPTY increment equals ranks over the " +
      "snapshot store alone (q211's drained-stream edge case)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pr_empty").toString
    spark.range(0, 2000L)
      .selectExpr("id div 4 AS l_orderkey", "id % 37 AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    GraphOps.writeEdgeSnapshot(spark, dir)
    val served = GraphOps.pageRankMaintainServe(spark,
        spark.table(GraphOps.EdgeTable).limit(0), iters = 3)
      .as[(Long, Long)].collect().toMap
    val scratch = GraphOps.pageRankScaled(
        spark.table(GraphOps.EdgeTable), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(served == scratch)
  }

  test("q210 incremental transitivity == from-scratch report on a planted " +
      "delta: new-node triangles, wedge deltas, nodes born in the delta") {
    // snapshot: K4 on {1,2,3,4} plus chain 10-11-12 (the q200 golden
    // graph). Delta (new ids 20, 21 > all old ids): 20 closes the chain's
    // open wedge into a triangle (10-20, 11-20 with 10-11 stored), joins
    // the clique corner (1-20 — wedges only), and 21 attaches to 20 alone
    // (a node pair born entirely in the delta, degree-0 base).
    val snapE = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val incE = Seq(
      (10L, 20L), (11L, 20L), (1L, 20L), (20L, 21L)).toDF("id_a", "id_b")
    val snapDeg = snapE.select(col("id_a").as("v"))
      .unionAll(snapE.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val maintained = GraphOps.transitivityMaintainFrom(
        snapE, snapDeg, GraphOps.transitivityReport(snapE), incE)
      .as[(Long, Long, Long, Long, Long)].head()
    val scratch = GraphOps.transitivityReport(snapE.unionByName(incE))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(maintained === scratch, s"maintained=$maintained scratch=$scratch")
    // the delta actually exercised each term: a new triangle (10-11-20),
    // a new node pair (20, 21), and wedge growth at touched old nodes
    assert(scratch._3 === 5L && scratch._2 === 9L, scratch)
  }

  test("q210 maintained transitivity == q200's from-scratch report " +
      "(snapshot store + delta pairs are the exact full pair set)") {
    val sf = "/root/testdata/sf0.001"
    val scratch = SparkEntry.queries("q200_dupgraph_transitivity")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].head()
    val maintained = SparkEntry.queries("q210_transitivity_maintain")(
        spark, sf)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(maintained === scratch)
  }

  test("transitivity report: 4-clique + 3-chain golden graph, ordered " +
      "enumeration counts each triangle once (q200)") {
    // K4 on {1,2,3,4} (4 triangles, every wedge closed) plus the chain
    // 10-11-12 (0 triangles, 1 open wedge at 11). Totals: E=8, V=7,
    // T=4; wedges by degree: clique nodes 3 each (4*C(3,2)=12), chain
    // middle 2 (1), ends 1 (0) -> W=13; 3*4*10000 div 13 = 9230 bp.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val out = graft.ops.GraphOps.transitivityReport(edges)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(out === ((8L, 7L, 4L, 13L, 9230L)), out)
  }
}
