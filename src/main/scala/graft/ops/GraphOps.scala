package graft.ops

import graft.Q
import graft.schema.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relations — PageRank-style centrality
  * on the product co-purchase graph.
  *
  * Why it belongs in a training-data engine: link-style centrality is the
  * classic corpus-quality prior (Common-Crawl-lineage pipelines weight
  * sources by harmonic/PageRank centrality of their hosts), and the same
  * iterate-join-aggregate shape underlies label propagation and the
  * dup-cluster resolution already in the catalog (q45's connected
  * components). This module pins the general pattern: edges persisted
  * once, a node-sized rank relation re-derived per iteration (join on
  * src, shuffle on dst), lineage truncated with localCheckpoint exactly
  * like q45's CC loop so 10-iteration plans don't compound.
  *
  * Determinism discipline: ranks are FIXED-POINT BIGINTs (scale 1e9),
  * every per-edge contribution is integer `div` (truncating — all values
  * non-negative, so identical to floor in both engines), so the result is
  * bit-exact across Spark and DuckDB regardless of aggregation order —
  * the float-order hazard that plagues naive PageRank comparisons never
  * arises (the q115 floor-quantization discipline applied to iteration).
  *
  * Scale (100 TB): the rank relation is node-sized, never edge-sized; the
  * per-iteration shuffle carries one (dst, contrib) pair per edge — at
  * cluster scale the edge relation is written `bucketBy(src)` so the
  * rank⋈edges join is co-located and only the dst-aggregation exchanges.
  * Nothing is collected to the driver; the node count enters the plan as
  * a broadcast 1-row aggregate.
  */
object GraphOps {

  /** Directed co-purchase edges: (src, dst) part pairs that appear in at
    * least one common order, both directions, deduplicated. Cost: one
    * self-equi-join on the order key (shuffle of (order, part) pairs —
    * the exchange is planned once and reused for both sides), output ∝
    * Σ items-per-order² — bounded by basket size, not catalog size.
    *
    * Layout: the result is hash-partitioned by DST, and the dedup rides
    * that exchange for free — HashPartitioning(dst) satisfies the
    * ClusteredDistribution(src, dst) the dropDuplicates aggregate needs
    * (all copies of a (src, dst) pair share a dst), so Catalyst plans NO
    * second exchange. dst-clustering is the layout the PageRank iteration
    * wants (contributions aggregate by dst), which is why the builder
    * pays its one edge-sized exchange on dst rather than on the pair.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val op = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk"))
    op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .repartition(col("dst"))
      .dropDuplicates("src", "dst")
  }

  /** Fixed-point PageRank: damping 0.85, `iters` synchronous iterations,
    * ranks scaled by `scale` as BIGINTs. Every node in `edges` has
    * out-degree ≥ 1 (the co-purchase graph is symmetric), so there is no
    * dangling mass and the per-iteration update is exactly
    * r'(v) = (15·scale) div (100·N) + Σ_{u→v} (r(u)·85) div (100·deg(u)).
    *
    * Iteration shape (round 19 — profile-driven unroll of the round-13
    * loop): the edge relation is persisted ONCE (destination degrees
    * attached while it is built) and never moves again — each iteration
    * joins it against a BROADCAST node-sized (node, rank, deg) STATE and
    * aggregates by dst, which is exchange-free when `edges` arrive
    * dst-partitioned (coPurchaseEdges's layout; with any other layout
    * the plan stays correct and pays one partial-aggregated exchange).
    * The state carries each node's out-degree through the aggregation
    * itself (min of the constant-within-group destination degree), so no
    * per-iteration rank⋈deg join exists, and the node count enters as a
    * driver literal from one bounded count. The fixed `iters` recurrence
    * is UNROLLED into one lazy plan with a single final localCheckpoint:
    * the state is referenced once per iteration, so the logical plan is
    * linear in iters (no lineage compounding — the hazard that forces
    * per-round checkpoints in connectedComponents' unbounded loop and in
    * the maintain serve's twice-referenced split state), and the five
    * per-iteration checkpoint actions the r18 profile showed as the
    * query's fixed overhead (47 jobs warm) disappear. At cluster scale,
    * when the node set outgrows the broadcast threshold, the same
    * unrolled plan runs with edges pre-exchanged to (or written
    * bucketed in) src layout and a shuffled rank join — per-iteration
    * edge movement stays zero. That crossover is a GATE: above
    * `broadcastGateNodes` live nodes the plan switches to the
    * shuffled-rank form automatically (see
    * [[BroadcastGateNodesDefault]]).
    *
    * The returned frame's checkpointed blocks belong to the caller's
    * [[RunScope]] (called outside a query: this helper's own scope, freed
    * by its next direct call). They are unrecoverable by design (lineage
    * truncated), so act on the result before that scope closes.
    */
  def pageRankScaled(edges: DataFrame, iters: Int,
      scale: Long = 1000000000L,
      broadcastGateNodes: Long = BroadcastGateNodesDefault): DataFrame =
    RunScope.keyed("GraphOps.pageRankScaled") {
    import org.apache.spark.storage.StorageLevel
    val ed = edges.persist()
    // node-sized out-degree relation; eager checkpoint = exactly one
    // pass over the cached edges, and every later use is free.
    // MEMORY_AND_DISK for the checkpointed relations (ADVICE r14 #1):
    // a localCheckpoint stores non-replicated blocks and truncates
    // lineage, so an evicted MEMORY_ONLY block is UNRECOVERABLE — and
    // the "node-sized ≪ executor memory" claim that justified r13's
    // MEMORY_ONLY retune is scale-dependent, not enforced, while the
    // persisted edge cache competes for the same unified memory. Under
    // MEMORY_AND_DISK the blocks still live in memory (disk is an
    // eviction fallback, not a per-iteration sync — the r13 fix that
    // mattered, unpersisting superseded iterations, is kept), so the
    // q129 perf win stands and pressure degrades to a spill instead of
    // a failed job.
    val deg = RunScope.checkpoint(
      ed.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // Node count as a DRIVER CONSTANT (round 19, profile-driven): it
    // used to enter the loop as a broadcast 1-row aggregate whose
    // subtree every iteration's checkpoint action re-executed (one agg
    // job + one BroadcastNestedLoopJoin per iteration). One bounded
    // count over the checkpointed node-sized relation — a single long
    // to the driver, the belowGate-probe class of driver action, no
    // row data — embeds both integer terms as literals instead.
    val nNodes = deg.count()
    val r0 = scale / nNodes                      // `div` on non-negatives
    val baseTerm = scale * 15L / (100L * nNodes) // = the SQL base term
    // Broadcast-vs-shuffle gate (round 17, VERDICT r16 #2): the
    // per-iteration (rank, deg) broadcast is node-sized, which is fine
    // for a dimension-sized node set but not for a graph whose node set
    // scales with the corpus. The limit-probe over the checkpointed
    // node relation is bounded by the gate itself (the
    // connectedComponents driverGateEdges discipline).
    val useBroadcast = belowGate(deg, broadcastGateNodes)
    // Degree-carrying state (round 19): the rank state is (node, r, deg)
    // instead of (node, r), and each edge row carries its DESTINATION's
    // degree (`ddeg`) — attached via the same node-sized relation the
    // join strategy already moves (broadcast below the gate, where the
    // identical deg subtree is exchange-REUSED across all unrolled
    // iterations; riding the one pre-loop src exchange above it). The
    // per-iteration aggregation then rebuilds the full state itself
    // (min(ddeg) is constant within a dst group), which deletes the
    // per-iteration ranks⋈deg join — and with it one broadcast build +
    // one job per iteration — while every contribution term stays the
    // identical integer expression.
    val degDst = deg.select(col("src").as("dst"), col("deg").as("ddeg"))
    // Above the gate: ONE src-layout exchange before the loop (ddeg
    // attached while the edges move anyway), so the per-iteration join
    // is edge-stationary — only the node-sized rank state exchanges.
    val edJoin =
      if (useBroadcast) ed.join(broadcast(degDst), Seq("dst"))
      else {
        val e = ed.join(degDst.hint("shuffle_hash"), Seq("dst"))
          .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
        // materialize BEFORE the loop (round 18): a cold InMemoryRelation
        // wraps a not-yet-final adaptive plan whose outputPartitioning is
        // UNKNOWN, so iteration 1's EnsureRequirements re-exchanges both
        // sides of the rank join to the conf count — moving the full edge
        // relation once more. The build cost is identical (iteration 1
        // paid it anyway); paying it eagerly makes the src layout visible
        // to the first iteration's planning.
        e.count()
        e
      }
    // The recurrence UNROLLED into one lazy plan (round 19, profile-
    // driven): the per-iteration eager localCheckpoint bought lineage
    // truncation the fixed-depth loop does not need — the state is
    // referenced ONCE per iteration, so the unrolled logical plan is
    // LINEAR in iters (the exponential-growth hazard that forces
    // checkpoints in connectedComponents and in the maintain serve's
    // twice-referenced split state does not arise). What the checkpoints
    // cost was the round's largest fixed overhead: one blocking action +
    // node-sized block write per iteration, ~5 extra jobs plus their
    // ~42 ms scheduling floors (q129 profile: 47 jobs warm, five 0.5 s
    // checkpoint stages whose task work is milliseconds). One final
    // checkpoint keeps the external contract identical — the returned
    // frame is eagerly materialized, lineage-free, and scope-owned,
    // and the edge caches still release before return.
    var state: DataFrame = deg.select(col("src").as("node"),
      lit(r0).as("r"), col("deg"))
    for (_ <- 1 to iters) {
      val contrib = joinRanks(edJoin, state, useBroadcast)
        .select(col("dst"), expr("r * 85L div (100L * deg)").as("c"),
          col("ddeg"))
      state = contrib
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("rc"), min(col("ddeg")).as("deg"))
        .select(col("dst").as("node"), (lit(baseTerm) + col("rc")).as("r"),
          col("deg"))
    }
    // deg + the returned fixed point stay block-backed until the run's
    // scope closes
    val ranks = RunScope.checkpoint(state.select(col("node"), col("r")))
    ed.unpersist()
    if (!useBroadcast) edJoin.unpersist()
    ranks
  }

  /** Node-count gate above which the per-iteration (node, rank, deg)
    * relation is SHUFFLED to the edge layout instead of broadcast
    * (round 17, VERDICT r16 #2). Memory-derived, the
    * [[graft.ops.PipelineOps.connectedComponents]] driverGateEdges
    * discipline: a broadcast collects the relation to the driver and
    * ships it to every executor — 3 longs/row ≈ 24 B × gate = 24 MB at
    * the default (≈3× that transiently as driver rows), well inside a
    * 1 GB driver heap and Spark's own torrent-broadcast comfort zone,
    * re-paid once per iteration. Above the gate the crossover
    * accounting flips: the broadcast costs nodes × executors bytes per
    * iteration, while the shuffled plan moves the node-sized rank
    * relation ONCE per iteration (hash to the edge layout) plus a
    * partial-aggregated contribution exchange bounded by
    * nodes × partitions — and the edge relation still never moves
    * (pre-exchanged once into a src-clustered layout before the loop,
    * or read from the written src-bucketed store in the maintain
    * serve). GraphOpsSpec asserts both paths produce bit-identical
    * ranks (integer determinism makes the equality exact). */
  private[graft] val BroadcastGateNodesDefault: Long = 1000000L

  /** `limit(gate + 1)` probe count, Int-clamped (limit takes Int; a
    * gate at/above Int.MaxValue means "always broadcast" and any count
    * below it passes). Checked BEFORE the +1 — `Long.MaxValue + 1`
    * wraps negative — and floored at 0 so a negative gate argument
    * degrades to "never broadcast" instead of a negative-limit throw
    * (round 18 review, the connectedComponents probe's twin fix). */
  private def intGate(gate: Long): Int =
    if (gate >= Int.MaxValue.toLong) Int.MaxValue
    else math.max(0L, gate + 1).toInt

  /** The broadcast-vs-shuffle gate probe, shared by [[pageRankScaled]]
    * and [[pageRankMaintainServe]] (VERDICT r17 hygiene — the twin
    * inline probes drifted one review apart): is the node set at/below
    * the gate? The limit bounds the probe by the gate itself (the
    * connectedComponents driverGateEdges discipline — never an
    * unbounded count over a corpus-scaled node relation). */
  private def belowGate(deg: DataFrame, gate: Long): Boolean =
    deg.limit(intGate(gate)).count() <= gate

  /** The per-iteration rank⋈edges join, gated: below the gate the
    * node-sized (rank, deg) relation broadcasts to the stationary edge
    * cache; above it the edges' src-clustered layout is the stationary
    * side and ONLY the rank relation exchanges (shuffle-hash — the
    * node-sized side builds, the edge side probes without a sort). */
  private def joinRanks(e: DataFrame, rd: DataFrame,
      useBroadcast: Boolean): DataFrame =
    if (useBroadcast) e.join(broadcast(rd), e("src") === rd("node"))
    else e.join(rd.hint("shuffle_hash"), e("src") === rd("node"))

  /** The MAINTAIN serve (q209/q211): the integer-exact recurrence over
    * snapshot ∪ increment edges with the SNAPSHOT SIDE NEVER LEAVING its
    * written dst-bucket layout (round 16, VERDICT r15 #1's serve-cost
    * item). The r15 shape unioned the stored edges with the increment's
    * and re-deduplicated the full set — one edge-sized exchange — then
    * re-aggregated full out-degrees — a second edge-sized pass — before
    * the iterations even started. This serve does neither:
    *
    *  - DEDUP BY PROBE: the two pair sets are not disjoint (the same
    *    co-purchase pair can arise from an order on each side of the
    *    cut), but the overlap is resolved with an increment-sized
    *    anti-join against the store instead of re-deduplicating the
    *    union; the store side rides its bucket layout.
    *  - DEGREES BY DELTA: full out-degrees = the stored node-sized
    *    degree table ⊕ the increment-only per-src counts (exact: the
    *    anti-join made the union disjoint, and out-degree over a
    *    disjoint union adds).
    *  - SPLIT CONTRIBUTIONS: each iteration aggregates the snapshot's
    *    and the increment's per-dst contributions SEPARATELY and adds
    *    them (integer sum associativity — bit-exact vs the merged
    *    aggregation). The snapshot agg is exchange-free on the bucket
    *    layout; the increment agg is exchange-free after its one
    *    dst-repartition; the merge is a node-sized full-outer join.
    *
    * At 100 TB this is the difference between "every serve shuffles the
    * full edge relation 1 + iters times" and "the snapshot edge store is
    * never exchanged at all — per-serve shuffle cost is increment-sized
    * plus node-sized per iteration".
    *
    * Why ranks are still iterated from uniform rather than warm-started
    * from stored converged ranks (the r15 verdict's sketch): the
    * contract — q129's five-CTE oracle — pins the value of iteration 5
    * FROM UNIFORM over the full graph, and that trajectory is not
    * reachable from any other seed: iteration 1 already depends on the
    * full graph's N (the base term) and on every touched src's new
    * degree, so a warm seed computes a DIFFERENT (not converged-equal)
    * vector at every node. Matching a warm start bit-exactly would
    * require moving the contract to the converged fixed point, which
    * for this integer recurrence takes Θ(log(scale)/log(1/0.85)) ≈ 130
    * iterations to pin exactly — a 26× serve regression dressed as an
    * optimization. The headroom that IS real under the 5-iteration
    * contract — never re-shuffling the snapshot edges — is what this
    * function takes.
    *
    * As with [[pageRankScaled]], the returned frame's blocks belong to
    * the caller's [[RunScope]]: act on it before that scope closes. */
  private[graft] def pageRankMaintainServe(s: SparkSession,
      incEdgesRaw: DataFrame, iters: Int,
      scale: Long = 1000000000L,
      broadcastGateNodes: Long = BroadcastGateNodesDefault): DataFrame =
    RunScope.keyed("GraphOps.pageRankMaintainServe") {
    import org.apache.spark.storage.StorageLevel
    val snap = RunScope.own(s.table(EdgeTable)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val incOnly = RunScope.own(
      incEdgesRaw.join(snap, Seq("src", "dst"), "left_anti")
        .repartition(col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val dDeg = incOnly.groupBy(col("src")).agg(count(lit(1)).as("ddeg"))
    val deg = RunScope.checkpoint(s.table(s"${EdgeTable}_deg")
      .join(dDeg, Seq("src"), "full_outer")
      .select(col("src"),
        (coalesce(col("deg"), lit(0L)) + coalesce(col("ddeg"), lit(0L)))
          .as("deg")))
    // node count as a driver constant (round 19 — the pageRankScaled
    // change applied to the serve): one bounded count over the
    // checkpointed node relation replaces the broadcast 1-row aggregate
    // whose subtree every iteration re-executed
    val nNodes = deg.count()
    val r0 = scale / nNodes
    val baseTerm = scale * 15L / (100L * nNodes)
    // The broadcast gate (round 17, VERDICT r16 #2 — see
    // BroadcastGateNodesDefault). Above it, the snapshot side of the
    // per-iteration join reads the WRITTEN src-bucketed layout
    // (build-once per snapshot generation, amortized across serves)
    // and the increment side pre-exchanges to src ONCE — so the serve
    // contract is unchanged: the snapshot store is never exchanged at
    // serve time in either mode, and per-iteration movement is
    // node-sized (rank relation + partial-aggregated contributions).
    val useBroadcast = belowGate(deg, broadcastGateNodes)
    val snapJoin =
      if (useBroadcast) snap
      else { writeEdgeSrcLayout(s); s.table(EdgeSrcTable) }
    // ---- Above-gate layout alignment (round 18): three co-partitioning
    // decisions keep the EDGE relations stationary across iterations,
    // all measured at sf0.1 (SCALING.md round-18 rows; together they
    // cut the shuffled serve from 23.4 MB/iter — a full snapshot
    // re-exchange per iteration — to node-sized):
    //  1. PERSIST, not localCheckpoint, for pre-exchanged relations: a
    //     localCheckpoint rewraps the frame as an ExistingRDD whose
    //     outputPartitioning is UNKNOWN, so the one-time src exchange
    //     was invisible to EnsureRequirements and every iteration
    //     re-exchanged the increment from the cached blocks. (Same
    //     reason pageRankScaled's edJoin persists.)
    //  2. Everything the iteration joins against the snapshot aligns to
    //     the WRITTEN LAYOUT'S OWN partition count (its bucket count),
    //     not spark.sql.shuffle.partitions: the rank relation arrives
    //     as a shuffled-join output partitioned at the conf count, and
    //     when the two sides' counts disagree EnsureRequirements
    //     re-exchanges the BUCKETED side to the larger count — the
    //     planner then marks the bucketed scan useless ("Bucketed:
    //     false (disabled by query planner)") and moves the full edge
    //     relation every iteration. Pre-partitioning deg (once) and
    //     ranks (node-sized, per iteration) to the bucket count makes
    //     the stored layout the anchor at ANY shuffle-partition
    //     setting. At 100 TB the bucket count is the ingest-time
    //     parallelism knob for the serve; the demo store uses 8.
    //  3. The increment pre-exchanges to the same count, so both
    //     contribution joins are exchange-free on their edge side.
    // the layout's partition count comes from CATALOG METADATA, not
    // from planning a bare scan (`snapJoin.rdd.getNumPartitions` lies:
    // with no downstream requirement the planner disables bucketed
    // reading for the probe plan and reports file-split counts)
    val snapParts =
      if (useBroadcast) 0
      else s.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(EdgeSrcTable))
        .bucketSpec.map(_.numBuckets)
        .getOrElse(s.conf.get("spark.sql.shuffle.partitions").toInt)
    val incJoin =
      if (useBroadcast) incOnly
      else RunScope.own(incOnly.repartition(snapParts, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val degJ =
      if (useBroadcast) deg
      else RunScope.own(deg.repartition(snapParts, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // Materialize the pre-exchanged caches BEFORE the loop (round 18):
    // a cold InMemoryRelation wraps a not-yet-final adaptive plan whose
    // outputPartitioning is UNKNOWN, so iteration 1's EnsureRequirements
    // re-exchanged BOTH sides of the contribution join to the conf
    // count — de-bucketing the snapshot scan for that iteration (the
    // driver-posture GraphOpsSpec leg captures exactly this). The build
    // cost is identical (iteration 1 paid it anyway); eager
    // materialization makes the bucket-count layout visible to the
    // first iteration's planning, so the store never moves.
    if (!useBroadcast) { degJ.count(); incJoin.count() }
    val ranks =
      if (useBroadcast) {
        // ---- below the gate (round 19): the pageRankScaled unroll,
        // serve form. The anti-join above made snap and incOnly
        // DISJOINT, so one aggregation over their union equals the old
        // per-side aggregate pair joined full_outer — integer sum over
        // a disjoint union, bit-exact — and the union collapses the
        // state to ONE reference per iteration, which is what makes the
        // unrolled logical plan linear in iters (the twice-referenced
        // split state was exactly the lineage-compounding hazard the
        // per-iteration checkpoints existed for). The degree-attached
        // union is materialized ONCE per serve (measured: iterating the
        // LAZY union re-ran the two-cache interleave + degree probe per
        // iteration at ~8 task-s each — the one-pass cache fill costs a
        // single such pass and the five iteration scans drop to the
        // q129 shape), after which the two construction caches release
        // early. Degrees ride the edge rows / the state (the
        // pageRankScaled degree-carrying form), so no per-iteration
        // rank⋈deg join exists.
        val degDst = deg.select(col("src").as("dst"), col("deg").as("ddeg"))
        val allEd = snap.unionByName(incOnly)
          .join(broadcast(degDst), Seq("dst"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        allEd.count() // eager fill; snap/incOnly are done after this
        var state = deg.select(col("src").as("node"), lit(r0).as("r"),
          col("deg"))
        for (_ <- 1 to iters) {
          val contrib = joinRanks(allEd, state, useBroadcast = true)
            .select(col("dst"), expr("r * 85L div (100L * deg)").as("c"),
              col("ddeg"))
          state = contrib.groupBy(col("dst"))
            .agg(sum(col("c")).as("rc"), min(col("ddeg")).as("deg"))
            .select(col("dst").as("node"),
              (lit(baseTerm) + col("rc")).as("r"), col("deg"))
        }
        val out = RunScope.checkpoint(state.select(col("node"), col("r")))
        allEd.unpersist()
        out
      } else {
        // ---- above the gate: the split per-side loop stays — each
        // contribution aggregate must stay exchange-free on ITS OWN
        // written/pre-exchanged src layout (a union of differently-
        // partitioned sides would report unknown partitioning and
        // re-exchange the full edge relation per iteration), and the
        // twice-referenced state keeps the per-iteration checkpoint
        // (lineage linearity). Round 19 still removes the per-iteration
        // node-count subtree (driver literal).
        var rks = RunScope.checkpoint(
          deg.select(col("src").as("node"), lit(r0).as("r")))
        for (_ <- 1 to iters) {
          val rnk = rks.repartition(snapParts, col("node"))
          val rd = rnk.join(degJ, rnk("node") === degJ("src"))
            .select(col("node"), col("r"), col("deg"))
          def contrib(e: DataFrame, out: String) =
            joinRanks(e, rd, useBroadcast = false)
              .select(col("dst"), expr("r * 85L div (100L * deg)").as("c"))
              .groupBy(col("dst")).agg(sum(col("c")).as(out))
          val prev = rks
          rks = RunScope.checkpoint(contrib(snapJoin, "rs")
            .join(contrib(incJoin, "ri"), Seq("dst"), "full_outer")
            .select(col("dst").as("node"),
              (lit(baseTerm) +
                coalesce(col("rs"), lit(0L)) + coalesce(col("ri"), lit(0L)))
                .as("r")))
          RunScope.release(prev)
        }
        rks
      }
    ranks
  }

  /** The src-bucketed twin of the snapshot edge store, written lazily
    * the first time a serve crosses the broadcast gate (build-once per
    * snapshot generation — the tag derives from the dst store's own
    * content tag, so a new snapshot forces a rebuild). At 100 TB this
    * is an ingest-time artifact: one extra bucketed copy of the edge
    * relation buys every serve a join whose stationary side is the
    * store itself — the rank relation exchanges, the edges never do. */
  private[graft] val EdgeSrcTable = s"graft_copurchase_edges_src"
  private[graft] def writeEdgeSrcLayout(s: SparkSession): Unit = {
    // Content tag (ADVICE r17 #3): prefer the parent store's live build
    // tag; when the edge snapshot was written by a PRIOR JVM (warehouse-
    // persisted, currentTag None) fall back to a signature of the stored
    // table's own files — the previous `.map` alone disabled the memo in
    // that case and every above-gate serve rewrote the full bucketed
    // edge copy, defeating the build-once-per-snapshot-generation
    // amortization the scaladoc promises.
    val parentTag = ArtifactCache.currentTag(EdgeTable)
      .orElse(storedTableSig(s, EdgeTable))
    ArtifactCache.once(EdgeSrcTable, parentTag.map(t => s"$t|srclayout")) {
      Tables.resetManagedTable(s, EdgeSrcTable)
      s.table(EdgeTable).write.bucketBy(8, "src").mode("overwrite")
        .saveAsTable(EdgeSrcTable)
    }
  }

  /** fs-metadata content identity of an already-written managed table
    * (its location's recursive file signature) — the cross-JVM fallback
    * parent tag for derived layouts. None when the table doesn't exist
    * (the derived build would fail anyway; tagless = build-always keeps
    * the old behavior there). */
  private def storedTableSig(s: SparkSession, table: String): Option[String] =
    if (!s.catalog.tableExists(table)) None
    else Some("stored@" + graft.schema.Cuts.pathSig(
      s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString))

  /** The SHARED written co-purchase edge artifact (q209): the edge
    * derivation — a lineitem self-join whose cost is corpus-sized — is
    * the expensive pass of the graph family, and a recurring crawl
    * pipeline pays it once per snapshot, not once per re-rank. Snapshot
    * = orders below the 80% l_orderkey cut (the q34c demo concession:
    * written in the same run, probed like a pre-existing store). The
    * table is bucketed by dst — the layout the rank iteration's
    * per-dst aggregation wants. */
  private[graft] val EdgeTable = "graft_copurchase_edges"
  private[graft] def edgeTag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "lineitem", "cut0.8|copurchase")

  private[graft] def writeEdgeSnapshot(s: SparkSession, d: String): Unit =
    ArtifactCache.once(EdgeTable, edgeTag(d)) {
      val cut = graft.schema.Cuts.lineitem(s, d)
      Tables.resetManagedTable(s, EdgeTable)
      coPurchaseEdges(Tables.lineitem(s, d)
          .filter(col("l_orderkey") < cut))
        .write.bucketBy(8, "dst").mode("overwrite").saveAsTable(EdgeTable)
      // the node-sized out-degree relation rides along (round 16): the
      // maintain serve derives full degrees as stored ⊕ increment-only
      // deltas instead of re-aggregating the merged edge set per serve
      Tables.resetManagedTable(s, s"${EdgeTable}_deg")
      s.table(EdgeTable).groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .write.mode("overwrite").saveAsTable(s"${EdgeTable}_deg")
    }

  val catalog: Seq[Q] = Seq(

    // ---- co-purchase PageRank (q129): 5 fixed-point iterations over the
    // lineitem co-purchase graph, top-20 parts by rank (rank desc, part
    // asc — a total order, so the limit is deterministic). The oracle
    // replays the identical integer recurrence as five chained CTEs in
    // DuckDB — bit-exact BIGINT equality, no float tolerance anywhere.
    Q("q129_pagerank",
      (s, d) => {
        val ranks = pageRankScaled(
          coPurchaseEdges(Tables.lineitem(s, d)), iters = 5)
        ranks.select(col("node").as("part"), col("r").as("rank_scaled"))
          .orderBy(col("rank_scaled").desc, col("part"))
          .limit(20)
      },
      Some(PageRankSql)),

    // ---- incremental PageRank maintenance (q209, VERDICT r14 #5): the
    // graph family's MAINTAIN member — q129 re-ranks a corpus from
    // scratch; this is what the recurring crawl pipeline runs when an
    // order increment lands. The split of costs is the point: edge
    // DERIVATION (the lineitem self-join — the only corpus-sized pass)
    // is amortized through the written snapshot edge store, and the
    // increment derives its edges ALONE (an order is entirely on one
    // side of the l_orderkey cut, so co-purchase pairs never straddle
    // it: edges(full) = edges(snap) ∪ edges(inc), an exact identity,
    // not an approximation). The RE-RANK then runs the existing
    // integer-exact recurrence over snapshot ∪ increment edges —
    // PageRank is a global fixed point, so the iteration is inherently
    // full-graph, but it is EDGE-RELATION-sized (node-sized state,
    // one-pass-per-iteration), never lineitem-sized — and as of round
    // 16 the snapshot edges NEVER LEAVE their written bucket layout:
    // [[pageRankMaintainServe]] dedups by increment-sized anti-join
    // probe, derives degrees from the stored degree table ⊕ deltas, and
    // aggregates per-side contributions exchange-free (see its
    // scaladoc, incl. why warm-starting ranks is impossible under the
    // bit-exact 5-iteration contract). Oracle: q129's five-CTE replay
    // over the FULL lineitem — green iff the snapshot∪increment edge
    // merge is lossless AND the recurrence is bit-exact over it.
    Q("q209_pagerank_maintain",
      (s, d) => {
        writeEdgeSnapshot(s, d)
        val cut = graft.schema.Cuts.lineitem(s, d)
        val incEdges = coPurchaseEdges(
          Tables.lineitem(s, d).filter(col("l_orderkey") >= cut))
        pageRankMaintainServe(s, incEdges, iters = 5)
          .select(col("node").as("part"), col("r").as("rank_scaled"))
          .orderBy(col("rank_scaled").desc, col("part"))
          .limit(20)
      },
      Some(PageRankSql)),

    // ---- near-dup graph transitivity (q200): triangle count + global
    // clustering coefficient of the LSH near-dup pair graph — the
    // STRUCTURE check on dedup output. Near-duplication is empirically
    // near-transitive (a≈b and b≈c usually forces a≈c), so the dup graph
    // of a healthy corpus closes most of its wedges; a LOW transitivity
    // score is the smoking gun for threshold-boundary chaining (the
    // pathology that makes q45's cluster collapse over-merge: long
    // chains of pairwise-similar docs whose endpoints share nothing).
    // This is the diagnostic you run before trusting connected-component
    // dedup at a new threshold. Edges come from the SHARED written pair
    // artifact (corpusLshPairs — the q34/q45 family's build, reused, not
    // rebuilt). Triangle enumeration is the classic ordered three-way
    // self-join: edges are stored (id_a < id_b), so each triangle
    // a<b<c is counted exactly once as ab⋈bc⋈ac — relational, shuffle-
    // parallel, no adjacency structure in memory. At corpus scale the
    // standard degree-ordering relabel bounds wedge fanout at hub nodes
    // (orient edges low-degree → high-degree before the join); the dup
    // graph here is hub-free (max cluster ~18), so id-ordering suffices
    // and the relabel is documented rather than paid. Wedges = Σ C(d,2)
    // over undirected degrees; transitivity = 3·T/W emitted in integer
    // BASIS POINTS ((30000·T) div W) — BIGINT-exact, no float division.
    Q("q200_dupgraph_transitivity",
      (s, d) => transitivityReport(
        graft.ops.TextOps.corpusLshPairs(s, d)
          .select(col("id_a"), col("id_b"))),
      Some(TransitivitySql)),

    // ---- incremental transitivity maintenance (q210): q200's STRUCTURE
    // check kept current under a corpus increment — the graph family's
    // second maintain member (q209 re-ranks; this re-measures wedge
    // closure so the dedup-health signal refreshes per crawl without a
    // full pair sweep). The split of costs mirrors q144: the snapshot's
    // pair set, per-node degrees, and one-row triangle/wedge stats are
    // written once (sharing q144's snapshot LSH index build); the
    // increment derives its DELTA EDGES alone (frozen-hot banding +
    // index probe + one exact verify — [[TextOps.deltaPairsAgainstIndex]])
    // and the update is pure increment-sized arithmetic: every new
    // triangle contains a new node (new ids exceed all old ids, so its
    // two larger-endpoint edges are delta edges and the third probes the
    // pair store once, pair-set-sized); wedge deltas are per-touched-node
    // C(d0+Δ,2)−C(d0,2) against the stored degrees. No corpus-sized pass
    // anywhere in the maintain path. Oracle: q200's exact-pairs SQL
    // verbatim — green iff snapshot∪delta is the exact full pair set AND
    // the incremental counts equal a from-scratch enumeration.
    Q("q210_transitivity_maintain",
      (s, d) => {
        writeDupGraphSnapshot(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val (docs, scan) = Tables.documentsAndScan(s, d)
        // not persisted: banding is its only reader (the verify lookup
        // fingerprints only the candidates). Both read the documents
        // scan: below the delta gate the increment is one task's banding
        val inc = TextOps.fingerprints(scan.filter(col("doc_id") >= cut))
        // delta edges EAGERLY checkpointed, not merely persisted: the
        // maintain arithmetic fans FOUR consumers off this relation (two
        // triangle-join sides, degree deltas, edge count), three of them
        // broadcast-exchange subtrees that execute concurrently — against
        // a lazy cache they race its first materialization and re-run
        // the delta sweep up to 3× in parallel (measured 20.2 → 6.4 s
        // at sf0.1). The eager checkpoint runs the sweep exactly once
        // and hands every consumer a lineage-free block read.
        val incEdges = RunScope.checkpoint(TextOps.deltaPairsAgainstIndex(s,
            TextOps.SnapshotLshTable, inc, scan, jaccardThreshold = 0.5)
          .select(col("id_a"), col("id_b")))
        transitivityMaintainFrom(s.table(DupGraphEdgeTable),
          s.table(s"${DupGraphEdgeTable}_deg"),
          s.table(s"${DupGraphEdgeTable}_stats"), incEdges)
      },
      // exact pairs recomputed from raw text (the q34 oracle discipline:
      // a wrong/stale pair artifact fails this hash), then the identical
      // integer triangle/wedge arithmetic
      Some(TransitivitySql))
  )

  /** q200/q210's shared oracle — exact all-pairs shingle-Jaccard ≥ 0.5
    * pairs recomputed from raw text, then the integer triangle/wedge
    * arithmetic (one rule, two engine postures: the from-scratch report
    * and the snapshot+delta maintainer). */
  private[graft] lazy val TransitivitySql: String =
    (raw"""WITH t AS (SELECT doc_id, ${TextOps.TrigramShinglesSql} AS sh
         FROM documents),
         ex AS (SELECT doc_id, unnest(sh) AS s FROM t),
         sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) AS ni
           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5),
         tri AS (SELECT count(*) AS n_triangles FROM pairs ab
           JOIN pairs bc ON ab.id_b = bc.id_a
           JOIN pairs ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b),
         deg AS (SELECT v, count(*) AS dg FROM (
             SELECT id_a AS v FROM pairs
             UNION ALL SELECT id_b AS v FROM pairs) GROUP BY 1),
         wed AS (SELECT count(*) AS n_nodes,
             sum(dg * (dg - 1) // 2) AS n_wedges FROM deg)
         SELECT (SELECT count(*) FROM pairs) AS n_edges,
           CAST(wed.n_nodes AS BIGINT) AS n_nodes,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           CAST(wed.n_wedges AS BIGINT) AS n_wedges,
           CAST(CASE WHEN wed.n_wedges > 0
             THEN (30000 * tri.n_triangles) // wed.n_wedges
             ELSE 0 END AS BIGINT) AS transitivity_bp
         FROM tri, wed""")

  /** q129/q209's shared oracle — the five-CTE integer-exact PageRank
    * replay over the FULL lineitem (one rule, two engine postures: the
    * from-scratch rank and the snapshot∪increment maintainer). LAZY:
    * referenced from the catalog during object init (the q191 lesson).
    */
  private[graft] lazy val PageRankSql: String =
    ("""WITH e AS (SELECT DISTINCT a.l_partkey AS src,
                  b.l_partkey AS dst
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey <> b.l_partkey),
              deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
              nn AS (SELECT count(*) AS n FROM deg),
              r0 AS (SELECT src AS node,
                       CAST(1000000000 AS BIGINT) // n AS r
                     FROM deg, nn),
              it1 AS (SELECT e.dst AS node,
                  CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * nn.n)
                  + sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS r
                FROM e JOIN r0 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src, nn
                GROUP BY e.dst, nn.n),
              it2 AS (SELECT e.dst AS node,
                  CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * nn.n)
                  + sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS r
                FROM e JOIN it1 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src, nn
                GROUP BY e.dst, nn.n),
              it3 AS (SELECT e.dst AS node,
                  CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * nn.n)
                  + sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS r
                FROM e JOIN it2 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src, nn
                GROUP BY e.dst, nn.n),
              it4 AS (SELECT e.dst AS node,
                  CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * nn.n)
                  + sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS r
                FROM e JOIN it3 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src, nn
                GROUP BY e.dst, nn.n),
              it5 AS (SELECT e.dst AS node,
                  CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * nn.n)
                  + sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS r
                FROM e JOIN it4 r ON r.node = e.src
                  JOIN deg d ON d.src = e.src, nn
                GROUP BY e.dst, nn.n)
              SELECT node AS part, r AS rank_scaled FROM it5
              ORDER BY rank_scaled DESC, part LIMIT 20""")

  /** The dup-graph snapshot stores (q210): the snapshot corpus's verified
    * pair set, its per-node degrees, and the one-row triangle/wedge
    * stats, written once per (JVM, corpus snapshot). The pair sweep rides
    * q144's shared snapshot LSH index (same table, same tag — one build
    * serves both families); degrees and stats then derive from the
    * WRITTEN pairs, so the build adds two pair-set-sized passes to an
    * artifact the cluster family already pays for. */
  private[graft] val DupGraphEdgeTable = "graft_dupgraph_edges"
  private[graft] def dupGraphTag(d: String): Option[String] =
    TextOps.snapshotLshTag(d).map(t => s"$t|j0.5|dupgraph")

  private[graft] def writeDupGraphSnapshot(s: SparkSession, d: String): Unit =
    ArtifactCache.once(DupGraphEdgeTable, dupGraphTag(d)) {
      val (docs, scan) = Tables.documentsAndScan(s, d)
      val snap = TextOps.fingerprints(docs)
        .filter(col("doc_id") < graft.schema.Cuts.documents(s, d))
      TextOps.writeSnapshotLshIndex(s, snap, dfCap = 16,
        TextOps.SnapshotLshTable, TextOps.snapshotLshTag(d))
      Tables.resetManagedTable(s, DupGraphEdgeTable)
      TextOps.pairsFromBandedIndex(s.table(TextOps.SnapshotLshTable), scan,
          jaccardThreshold = 0.5)
        .select(col("id_a"), col("id_b"))
        .write.mode("overwrite").saveAsTable(DupGraphEdgeTable)
      val st = s.table(DupGraphEdgeTable)
      Tables.resetManagedTable(s, s"${DupGraphEdgeTable}_deg")
      st.select(col("id_a").as("v")).unionAll(st.select(col("id_b")))
        .groupBy(col("v")).agg(count(lit(1)).as("dg"))
        .write.mode("overwrite").saveAsTable(s"${DupGraphEdgeTable}_deg")
      Tables.resetManagedTable(s, s"${DupGraphEdgeTable}_stats")
      transitivityReport(st)
        .write.mode("overwrite").saveAsTable(s"${DupGraphEdgeTable}_stats")
    }

  /** q210's arithmetic core, factored for golden-graph testing: the full
    * graph's transitivity report from the snapshot's stored (edges,
    * degrees, stats) plus the increment's delta edges ALONE.
    *
    * Requires the q210 id discipline: every delta edge's larger endpoint
    * is a new node (new ids exceed all old ids), and `snapEdges` ∪
    * `incEdges` is a disjoint union of the full ordered pair set. Then:
    *
    *  - Δtriangles: a new triangle a<b<c contains a new node, so c is
    *    new — its (b,c) and (a,c) edges are DELTA edges while (a,b)
    *    ranges over the full set; the enumeration probes the pair store
    *    once (pair-set-sized) and is otherwise delta-bounded.
    *  - Δwedges: per touched node, C(d0+Δ,2) − C(d0,2) against the
    *    stored degrees (left join — a node new to the graph has d0=0
    *    and counts toward Δnodes).
    *
    * All arithmetic is BIGINT (counts and integer div) — bit-exact vs
    * the oracle's from-scratch enumeration, no float anywhere.
    *
    * Callers persist `incEdges` (it feeds four consumers: both
    * delta-side triangle joins, the degree deltas, and the edge count —
    * q210 checkpoints it into its [[RunScope]]). */
  private[graft] def transitivityMaintainFrom(snapEdges: DataFrame,
      snapDeg: DataFrame, snapStats: DataFrame,
      incEdges: DataFrame): DataFrame = {
    val incE = incEdges
    val full = snapEdges.unionByName(incE)
    val dTri = full.as("ab")
      .join(incE.as("bc"), col("ab.id_b") === col("bc.id_a"))
      .join(incE.as("ac"), col("ac.id_a") === col("ab.id_a") &&
        col("ac.id_b") === col("bc.id_b"))
      .agg(count(lit(1)).as("d_tri"))
    val dd = incE.select(col("id_a").as("v"))
      .unionAll(incE.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("ddg"))
    val dW = dd.join(snapDeg, Seq("v"), "left_outer")
      .select(
        expr("""(coalesce(dg, 0L) + ddg) * (coalesce(dg, 0L) + ddg - 1L)
            div 2L - coalesce(dg, 0L) * (coalesce(dg, 0L) - 1L) div 2L""")
          .as("w"),
        when(col("dg").isNull, lit(1L)).otherwise(lit(0L)).as("nn"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("d_wedges"),
        coalesce(sum(col("nn")), lit(0L)).as("d_nodes"))
    val dE = incE.agg(count(lit(1)).as("d_edges"))
    snapStats
      .select(col("n_edges"), col("n_nodes"),
        col("n_triangles"), col("n_wedges"))
      .crossJoin(broadcast(dE))
      .crossJoin(broadcast(dTri))
      .crossJoin(broadcast(dW))
      .select(
        (col("n_edges") + col("d_edges")).as("n_edges"),
        (col("n_nodes") + col("d_nodes")).as("n_nodes"),
        (col("n_triangles") + col("d_tri")).as("n_triangles"),
        (col("n_wedges") + col("d_wedges")).as("n_wedges"))
      .select(col("n_edges"), col("n_nodes"),
        col("n_triangles"), col("n_wedges"),
        expr("""CASE WHEN n_wedges > 0
            THEN (30000 * n_triangles) div n_wedges
            ELSE 0 END""").as("transitivity_bp"))
  }

  /** Triangle/wedge/transitivity report over an undirected edge relation
    * stored ordered (id_a < id_b, deduplicated) — q200's body, factored
    * for golden-graph testing. One row out: (n_edges, n_nodes,
    * n_triangles, n_wedges, transitivity_bp).
    *
    * The returned plan reads a persisted edge relation owned by the
    * caller's [[RunScope]] (called outside a query: this helper's own
    * scope). Once that scope closes the plan recomputes it. */
  def transitivityReport(edges: DataFrame): DataFrame =
    RunScope.keyed("GraphOps.transitivityReport") {
    // the persisted edge relation feeds the triangle join (3 refs), the
    // wedge agg and the edge count within ONE returned plan; the run's
    // scope frees it
    val e = RunScope.own(edges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.id_b") === col("bc.id_a"))
      .join(e.as("ac"), col("ac.id_a") === col("ab.id_a") &&
        col("ac.id_b") === col("bc.id_b"))
      .agg(count(lit(1)).as("n_triangles"))
    val wed = e.select(col("id_a").as("v"))
      .unionAll(e.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wed))
      .crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_nodes"),
        col("n_triangles"), col("n_wedges"),
        expr("""CASE WHEN n_wedges > 0
            THEN (30000 * n_triangles) div n_wedges
            ELSE 0 END""").as("transitivity_bp"))
  }
}
