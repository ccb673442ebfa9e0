package graft

import graft.ops.{Gates, PipelineOps}
import org.apache.spark.sql.functions._

/** Cluster resolution, stratified split, quality filter — the pipeline
  * composition layer (PipelineOps). */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    PipelineOps.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain propagates the min label across its full diameter") {
    // diameter 9: exercises the iterative loop, not just one round
    val chain = (1L until 10L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.keySet === (1L to 10L).toSet)
    assert(got.values.toSet === Set(1L))
  }

  test("disjoint components get their own min-id labels") {
    val got = components(Seq((5L, 3L), (3L, 9L), (20L, 21L), (40L, 41L), (41L, 42L)))
    assert(got(3L) == 3L && got(5L) == 3L && got(9L) == 3L)
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got(40L) == 40L && got(41L) == 40L && got(42L) == 40L)
  }

  test("edge direction does not matter (symmetrized internally)") {
    assert(components(Seq((7L, 2L))) === Map(2L -> 2L, 7L -> 2L))
    assert(components(Seq((2L, 7L))) === Map(2L -> 2L, 7L -> 2L))
  }

  test("driver union-find (below the size gate) labels identically to " +
      "the distributed min-label loop on randomized graphs") {
    val rng = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 30 + rng.nextInt(60)
      val edges = (0 until n).map(_ =>
        (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("a", "b")
      val viaUnionFind = PipelineOps.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaLoop = PipelineOps
        .connectedComponents(df, driverGateEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaUnionFind === viaLoop, s"trial $trial edges=$edges")
    }
  }

  test("below the gate a closure runs two jobs on a multi-partition " +
      "input: its checkpoint and ONE bounded collect") {
    val edges = spark.range(0, 400, 1, 4)
      .select(col("id").as("a"), (col("id") / 2).cast("long").as("b"))
    val (labels, m) = graft.tools.Meter.measure(spark)(
      PipelineOps.connectedComponents(edges))
    assert(m.jobs === 2, s"${m.stageRows.map(_.name)}")
    assert(labels.count() === 400L)
  }

  test("collectBounded: one job over every partition below the bound, " +
      "None past it, no overflow at bounds 0 and Int.MaxValue, Some(empty) " +
      "on an empty input, no job on a local relation") {
    // 1,000 rows on 8 partitions, each value ten times (a multiset)
    val df = spark.range(0, 1000, 1, 8).select((col("id") % 100).as("v"))
    def values(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getLong(0)).sorted.toSeq
    val (at, m) = graft.tools.Meter.measure(spark)(Gates.collectBounded(df, 1000))
    assert(m.jobs === 1, s"${m.stageRows.map(_.name)}")
    assert(at.map(values) === Some(values(df.collect())))
    assert(Gates.collectBounded(df, 999) === None)
    assert(Gates.collectBounded(df.select(), 999) === None)
    assert(Gates.collectBounded(df.select(), 1000).map(_.length) === Some(1000))
    assert(Gates.collectBounded(df, 0) === None)
    assert(Gates.collectBounded(df, Int.MaxValue).map(values) ===
      Some(values(df.collect())))
    val empty = df.filter(col("v") < 0)
    for (bound <- Seq(0, 5, Int.MaxValue))
      assert(Gates.collectBounded(empty, bound).map(_.length) === Some(0))
    val local = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val (l, lm) = graft.tools.Meter.measure(spark)(Gates.collectBounded(local, 2))
    assert(lm.jobs === 0 && l.map(_.length) === Some(2))
    assert(Gates.collectBounded(local, 1) === None)
  }

  test("driver union-find gate keeps its collect memory-bounded " +
      "(VERDICT r13 #8: the constant's contract, spec-checked)") {
    // the gated collect ships gate × 2 longs; the union-find holds at
    // most 2·gate map entries. Keep the raw row payload under 4 MB and
    // the worst-case driver-side working set (~8× the payload for boxed
    // Rows + map overhead) under 64 MB — both ≪ the smallest plausible
    // driver heap and Spark's own 128 MB collect guard. A retune that
    // breaks this must re-derive the scaladoc's byte math.
    val payloadBytes = Gates.DriverEdges.toLong * 16L
    assert(payloadBytes <= 4L * 1024 * 1024,
      s"gate collect payload $payloadBytes B exceeds the 4 MB contract")
    assert(payloadBytes * 8 <= 64L * 1024 * 1024,
      "worst-case driver working set exceeds the 64 MB contract")
    // the delta path's gate: band and index rows (int, long, long) stay
    // under the same 4 MB payload, and its fingerprint collect (one
    // array of ≤ 98 trigram fingerprints per ≤ 100-token doc) under 64 MB
    val deltaGate = Gates.DeltaRows.toLong
    assert(deltaGate * 20L <= 4L * 1024 * 1024,
      "delta band-row collect payload exceeds the 4 MB contract")
    assert(deltaGate * 98L * 8L <= 64L * 1024 * 1024,
      "delta fingerprint collect payload exceeds the 64 MB contract")
  }

  test("sequence packing: hand fixture — bins close on overflow, an " +
      "oversized doc gets its own bin, order is doc_id-deterministic " +
      "(q206)") {
    // one shard (ids all ≡ 1 mod 8); token counts by construction:
    // "a b c" = 3 tokens etc. capacity 5:
    //   doc 1 (3 tok) + doc 9 (2 tok) fill bin 0 exactly (fill 5);
    //   doc 17 (4 tok) opens bin 1; doc 25 (7 tok, OVERSIZED) gets its
    //   own bin 2 (fill_bp > 10000); doc 33 (1 tok) opens bin 3.
    val docs = Seq(
      (1L, "a b c"), (9L, "d e"), (17L, "f g h i"),
      (25L, "j k l m n o p"), (33L, "q"))
      .toDF("doc_id", "text")
    val out = PipelineOps.packSequences(docs, capacity = 5, nShards = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 2L, 5L, 10000L),
      (1L, 1L, 1L, 4L, 8000L),
      (1L, 2L, 1L, 7L, 14000L),
      (1L, 3L, 1L, 1L, 2000L)))
  }

  test("incremental packing from the stored open-bin state equals a " +
      "from-scratch full repack EXACTLY (q207's fold-suffix identity)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      spark.catalog.clearCache()
      val full = PipelineOps.packSequences(
          graft.schema.Tables.documents(spark, sf), capacity = 256,
          nShards = 8)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val inc = PipelineOps.packIncrement(spark, sf, capacity = 256)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(inc == full, s"identity broken at $sf")
    }
  }

  test("state-seeded packing fold covers increment shards ABSENT from " +
      "the stored state — fresh shards pack from an empty open bin, " +
      "byte-identical to a from-scratch repack (ADVICE r14 #4)") {
    // nShards = 4 (exercising the parameterization — the old code
    // hard-coded % 8). Snapshot: ids < 12 excluding shard 3 entirely;
    // increment: ids >= 12 plus ALL of shard 3 — a per-shard order
    // suffix (shard 3's stored state is empty, its increment is the
    // whole shard), the documented precondition.
    def text(i: Long) = Seq.fill((i % 3 + 1).toInt)("w").mkString(" ")
    val all = (0L until 20L).map(i => (i, text(i)))
    val snapIds = all.filter { case (i, _) => i < 12 && i % 4 != 3 }
    val incIds = all.filterNot(snapIds.contains)
    val stored = PipelineOps.packSequences(
      snapIds.toDF("doc_id", "text"), capacity = 4, nShards = 4)
    val folded = PipelineOps.packFoldFrom(stored,
        incIds.toDF("doc_id", "text"), capacity = 4, nShards = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val scratch = PipelineOps.packSequences(
        all.toDF("doc_id", "text"), capacity = 4, nShards = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(folded === scratch)
    // shard 3's docs really are present (the old left_outer dropped them)
    assert(folded.exists(_._1 == 3L))
    // all-fresh edge: EMPTY stored state and an OVERSIZED first doc —
    // the empty seed bin absorbs it (a bin takes at least one doc,
    // packSequences' rule), so no 0-doc bin and no phantom bin shift
    val emptyStore = PipelineOps.packSequences(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      capacity = 4, nShards = 4)
    val docs2 = Seq((0L, Seq.fill(9)("w").mkString(" ")), (4L, "w w"))
    val f2 = PipelineOps.packFoldFrom(emptyStore,
        docs2.toDF("doc_id", "text"), capacity = 4, nShards = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val s2 = PipelineOps.packSequences(
        docs2.toDF("doc_id", "text"), capacity = 4, nShards = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(f2 === s2)
    assert(f2 === Seq((0L, 0L, 1L, 9L, 22500L), (0L, 1L, 1L, 2L, 5000L)))
  }

  test("pack store self-describes its packing parameters: a mismatched " +
      "fold fails loudly instead of by call-site convention (VERDICT " +
      "r15 #2)") {
    def text(i: Long) = Seq.fill((i % 3 + 1).toInt)("w").mkString(" ")
    val tagged = PipelineOps.packSequences(
        (0L until 12L).map(i => (i, text(i))).toDF("doc_id", "text"),
        capacity = 4, nShards = 4)
      .withColumn("n_shards", lit(4L))
      .withColumn("capacity", lit(4L))
    // matching parameters: the tag is stripped and the fold proceeds
    val ok = PipelineOps.readPackStore(tagged, capacity = 4, nShards = 4)
    assert(!ok.columns.contains("n_shards") &&
      !ok.columns.contains("capacity"))
    // mismatched sharding / capacity: loud failure at read time
    val e1 = intercept[IllegalArgumentException] {
      PipelineOps.readPackStore(tagged, capacity = 4, nShards = 8)
    }
    assert(e1.getMessage.contains("n_shards=4") &&
      e1.getMessage.contains("n_shards=8"))
    val e2 = intercept[IllegalArgumentException] {
      PipelineOps.readPackStore(tagged, capacity = 256, nShards = 4)
    }
    assert(e2.getMessage.contains("capacity=4") &&
      e2.getMessage.contains("capacity=256"))
    // an UNTAGGED store (pre-r16 layout, or a stray frame) is refused
    val e3 = intercept[IllegalArgumentException] {
      PipelineOps.readPackStore(tagged.drop("n_shards"),
        capacity = 4, nShards = 4)
    }
    assert(e3.getMessage.contains("untagged"))
    // an EMPTY tagged store passes vacuously (fold seeds empty bins)
    PipelineOps.readPackStore(tagged.limit(0), capacity = 9, nShards = 2)
      .collect()
  }

  test("LSH-fed cluster resolution equals the exact-pair formulation") {
    // the production composition (q45b) must resolve the same clusters as
    // the exact inverted-index path (q45) — same docs, same labels
    val d = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("q45_dup_clusters")(spark, d)
      .collect().map(_.toSeq).toSeq
    val lsh = SparkEntry.queries("q45b_dup_clusters_lsh")(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(lsh === exact)
    assert(lsh.nonEmpty)
  }

  test("incremental cluster maintenance equals from-scratch clustering " +
      "(q144 ≡ q45) on the real tables") {
    val d = "/root/testdata/sf0.001"
    val full = SparkEntry.queries("q45_dup_clusters")(spark, d)
      .collect().map(_.toSeq).toSeq
    val inc = SparkEntry.queries("q144_incremental_clusters")(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("incremental cluster maintenance handles every merge shape: " +
      "extend, bridge-singleton, inc-only, untouched") {
    import graft.ops.{PipelineOps, TextOps}
    def doc(id: Long, text: String) = (id, text)
    val s1 = "a b c d e"
    val s2 = "f g h i j"
    val s3 = "k l m n o"
    val s4 = "p q r s t"
    val junk = "z z one z z two z z three"
    val snap = Seq(
      doc(0L, s1), doc(1L, s1),     // untouched cluster {0,1}
      doc(2L, s2), doc(3L, s2),     // cluster {2,3}, extended by inc 10
      doc(4L, junk),                // stays a singleton
      doc(5L, s3)                   // snapshot singleton, joined by inc 13
    ).toDF("doc_id", "text")
    val inc = Seq(
      doc(10L, s2),                 // extends {2,3} -> {2,3,10}
      doc(11L, s4), doc(12L, s4),   // inc-only new cluster {11,12}
      doc(13L, s3)                  // bridges singleton 5 -> {5,13}
    ).toDF("doc_id", "text")
    val got = PipelineOps.incrementalDupClustersFrom(spark, snap, inc,
        jaccardThreshold = 0.5, dfCap = 16, table = "graft_test_inc_clusters")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 2L, 2L -> 3L, 5L -> 2L, 11L -> 2L))
    // cross-check against a from-scratch run over the union
    val fullPairs = TextOps.minHashLshPairs(snap.unionByName(inc), 0.5, 16)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val full = PipelineOps.connectedComponents(fullPairs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
      .as[(Long, Long)].collect().toMap
    assert(got === full)
  }

  test("the driver delta path (default gate) and the relational one " +
      "(gate 0) merge to the same (node, cluster_id) table: no " +
      "candidates, a bridge of two clusters, a new-new pair, a pair at " +
      "the threshold exactly") {
    import graft.ops.TextOps
    def doc(id: Long, text: String) = (id, text)
    // shingle sets by construction (word trigrams):
    //  "a b c d e f" = {abc bcd cde def}, "d e f g h i" = {def efg fgh ghi}
    //  J = 1/7 between them; "a b c d e f g h i" has 7 trigrams and
    //  J = 4/7 with each, so it bridges their two clusters.
    //  "u v w x y z" (4 trigrams) ⊂ "p q u v w x y z" plus 2 more words
    //  (8 trigrams): J = 4/8 = 0.5, exactly the threshold.
    val s1 = "a b c d e f"
    val s2 = "d e f g h i"
    val at4 = "u v w x y z"
    val at8 = "s t u v w x y z zz yy"
    val junk = "one two three four five six seven"
    def labels(snap: Seq[(Long, String)], inc: Seq[(Long, String)],
        table: String) = {
      val snapDf = snap.toDF("doc_id", "text")
      val incDf = inc.toDF("doc_id", "text")
      val text = snapDf.unionByName(incDf)
      // builds the index and the stored labels
      PipelineOps.incrementalDupClustersFrom(spark, snapDf, incDf,
        jaccardThreshold = 0.5, dfCap = 16, table = table).collect()
      def merged(deltaGate: Int, edgeGate: Int) = {
        val edges = TextOps.deltaPairsAgainstIndex(spark, table,
          TextOps.fingerprints(incDf), text, 0.5, deltaGate)
        val lbl = PipelineOps.mergeDeltaIntoLabels(spark.table(s"${table}_labels"),
            edges.select(col("id_a"), col("id_b")), edgeGate)
          .as[(Long, Long)].collect()
        assert(lbl.map(_._1).distinct.length === lbl.length,
          s"gates $deltaGate/$edgeGate: a node has two labels")
        (edges.as[(Long, Long, Double)].collect().toSet, lbl.toMap)
      }
      val (driverEdges, driver) = merged(Gates.DeltaRows, Gates.DriverEdges)
      val (relEdges, relational) = merged(0, 0)
      assert(driverEdges === relEdges)
      assert(driver === relational)
      // and both equal the from-scratch clustering of the union
      val scratch = PipelineOps.connectedComponents(
          TextOps.minHashLshPairs(text, 0.5, 16)
            .select(col("id_a").as("a"), col("id_b").as("b")))
        .as[(Long, Long)].collect().toMap
      assert(driver === scratch)
      (driverEdges, driver)
    }
    // no candidates: the increment shares no band with anything, and the
    // stored labels come back unchanged
    val (noEdges, unchanged) = labels(
      Seq(doc(0L, s1), doc(1L, s1), doc(2L, junk)),
      Seq(doc(10L, "k l m n o p q")), "graft_test_delta_none")
    assert(noEdges.isEmpty)
    assert(unchanged === Map(0L -> 0L, 1L -> 0L))
    // a bridge, a new-new pair and a pair at the threshold
    val (edges, got) = labels(
      Seq(doc(0L, s1), doc(1L, s1), doc(2L, s2), doc(3L, s2),
        doc(4L, at8), doc(5L, junk)),
      Seq(doc(10L, "a b c d e f g h i"), doc(11L, "q r s t"),
        doc(12L, "q r s t"), doc(13L, at4)),
      "graft_test_delta_shapes")
    assert(edges.contains((4L, 13L, 0.5)), s"no threshold pair in $edges")
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 10L -> 0L,
      11L -> 11L, 12L -> 11L, 4L -> 4L, 13L -> 4L))
  }

  test("streaming cluster fold: cross-batch pairs merge, replay is " +
      "idempotent, final labels equal from-scratch (q146 core)") {
    import graft.ops.{PipelineOps, TextOps}
    def doc(id: Long, text: String) = (id, text)
    val s1 = "a b c d e"
    val s2 = "f g h i j"
    val s3 = "k l m n o"
    val s4 = "p q r s t"
    val snap = Seq(
      doc(0L, s1), doc(1L, s1),    // untouched cluster {0,1}
      doc(2L, s2), doc(3L, s2),    // extended by batch-0 doc 10
      doc(4L, "z z one z z two z z three"), // stays singleton
      doc(5L, s3)                  // bridged by batch-1 doc 13
    ).toDF("doc_id", "text")
    val b0 = Seq(doc(10L, s2), doc(11L, s4)).toDF("doc_id", "text")
    // doc 12 pairs with BATCH-0's doc 11 — only discoverable through the
    // band store appended by the earlier batch, not the snapshot index
    val b1 = Seq(doc(12L, s4), doc(13L, s3)).toDF("doc_id", "text")
    val allText = snap.unionByName(b0).unionByName(b1)
    val table = "graft_test_stream_clusters"
    val labelStore = java.nio.file.Files
      .createTempDirectory("graft_test_lbls").toString
    val bandStore = java.nio.file.Files
      .createTempDirectory("graft_test_bands").toString
    try {
      PipelineOps.buildClusterSnapshotStore(spark, snap, dfCap = 16, table,
        labelStore, jaccardThreshold = 0.5)
      PipelineOps.foldBatchIntoClusterStore(spark, b0, allText, table,
        bandStore, labelStore, batchId = 0, jaccardThreshold = 0.5)
      PipelineOps.foldBatchIntoClusterStore(spark, b1, allText, table,
        bandStore, labelStore, batchId = 1, jaccardThreshold = 0.5)
      def served = spark.read
        .parquet(graft.ops.Upsert.latestVersionPath(spark, labelStore))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
        .as[(Long, Long)].collect().toMap
      val got = served
      assert(got === Map(0L -> 2L, 2L -> 3L, 5L -> 2L, 11L -> 2L))
      // from-scratch over the union must agree
      val fullPairs = TextOps.minHashLshPairs(allText, 0.5, 16)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val full = PipelineOps.connectedComponents(fullPairs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
        .as[(Long, Long)].collect().toMap
      assert(got === full)
      // replay batch 1: same base version re-derived, store unchanged
      PipelineOps.foldBatchIntoClusterStore(spark, b1, allText, table,
        bandStore, labelStore, batchId = 1, jaccardThreshold = 0.5)
      assert(served === got)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(labelStore))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(bandStore))
    }
  }

  test("q144's warm op fits Spark's codegen cache and keeps its job " +
      "count: the second warm run compiles almost nothing") {
    // Planted corpus: the sf0.001 documents with five increment docs
    // rewritten as near-copies of snapshot docs, so the maintain phase
    // verifies real delta edges and merges them into stored clusters.
    // A fresh directory is a fresh ArtifactCache tag: run 1 builds the
    // shared index and labels cold, runs 2 and 3 are the warm op.
    val sf = "/root/testdata/sf0.001"
    val src = graft.schema.Tables.documents(spark, sf)
    val cut = graft.schema.Cuts.documents(spark, sf)
    val planted = (0L until 5L).map(i => (cut + 3 * i, 7 * i + 1)).toMap
    val texts = src.filter(col("doc_id").isin(planted.values.toSeq: _*))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val rewrite = planted.foldLeft(col("text")) { case (c, (inc, snap)) =>
      when(col("doc_id") === inc, lit(texts(snap) + " planted tail")).otherwise(c)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_q144_guard")
      .toString
    src.withColumn("text", rewrite)
      .write.parquet(s"$dir/documents.parquet")
    val q = SparkEntry.queries("q144_incremental_clusters")
    def run(): graft.tools.Meter.Counts = {
      spark.catalog.clearCache()
      graft.tools.Meter.measure(spark)(
        q(spark, dir).write.mode("overwrite").format("noop").save())._2
    }
    try {
      (1 to 2).foreach(_ => run())
      val warm = run()
      // the op's generated classes (68 on this corpus) stay in Spark's
      // 100-entry codegen cache; a working set past the cache's size
      // recompiles part of itself on every warm run
      assert(warm.compiles <= 5,
        s"warm q144 compiled ${warm.compiles} generated classes")
      // measured: 10 jobs per warm run on this corpus — the schema read,
      // the hot list, the increment's bands and the index probe (one
      // bounded collect each, however many partitions they read), the
      // candidates' fingerprints, the touched labels, four serve jobs
      assert(warm.jobs <= 10,
        s"warm q144 ran ${warm.jobs} jobs: ${warm.stageRows.map(_.name)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("token-budget selection equals the naive per-source prefix rule " +
      "(q147 histogram-threshold ≡ window cumsum)") {
    import graft.ops.PipelineOps
    val docs = graft.schema.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = PipelineOps.tokenBudgetSelect(docs, budgetShare = 0.3)
      .select("source", "n_kept", "kept_tokens")
      .as[(String, Long, Long)].collect()
        .map { case (s, a, b) => (s, (a, b)) }.toMap
    // naive reference: one window cumsum over (logit desc, doc_id) per
    // source — the formulation that cannot scale but defines the rule
    val scored = PipelineOps.qualityLogitRaw(docs)
      .select(col("doc_id"), col("source"), col("n_tok"),
        (floor(col("logit") * 10000) / 10000).as("logit"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("logit").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val budgets = scored.groupBy(col("source"))
      .agg(ceil(sum(col("n_tok")) * lit(0.3)).cast("long").as("budget"))
    val ref = scored.withColumn("cum", sum(col("n_tok")).over(w))
      .join(budgets, Seq("source"))
      .filter(col("cum") <= col("budget"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("kept_tokens"))
      .as[(String, Long, Long)].collect()
        .map { case (s, a, b) => (s, (a, b)) }.toMap
    assert(got === ref)
    assert(got.nonEmpty)
    // degenerate budget: share 1.0 keeps every doc in every source
    val all = PipelineOps.tokenBudgetSelect(docs, budgetShare = 1.0)
      .filter(col("n_kept") =!= col("n_total_docs")).count()
    assert(all === 0L)
  }

  test("length-bucket report: buckets partition the corpus and waste " +
      "accounting is internally consistent (q150)") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q150_length_buckets")(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    val nDocs = graft.schema.Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum === nDocs, "buckets must partition the corpus")
    rows.foreach { case (bl, n, real, padded, waste, naive) =>
      assert(padded === n * bl)
      assert(real <= padded, s"bucket $bl: real $real > padded $padded")
      assert(waste >= 0 && waste < 1)
      // bucketing can never waste more than padding everything to max
      assert(waste <= naive + 1e-9, s"bucket $bl: $waste > naive $naive")
    }
  }

  test("leakage-safe split never separates a near-dup pair (q86 invariant)") {
    val d = "/root/testdata/sf0.001"
    val pairs = SparkEntry.queries("q35_ngram_jaccard")(spark, d)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "corpus has no near-dup pairs to test")
    // recompute each doc's split with q86's label rule
    val labels = PipelineOps.connectedComponents(
        pairs.toSeq.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def split(doc: Long): String = {
      val label = labels.getOrElse(doc, doc)
      val b = label % 1000000007L * 2654435761L % 1000000007L % 100
      if (b < 80) "train" else if (b < 90) "valid" else "test"
    }
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b), s"pair ($a,$b) split across sets")
    }
  }

  test("stratified split is deterministic and moves no doc across runs") {
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q46_train_test_split")
    val a = q(spark, d).collect().map(_.toSeq).toSeq
    val b = q(spark, d).collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("exact-quota stratified sample keeps exactly quota docs per lang — " +
      "the lowest-ranked (hash, id) prefix (q184)") {
    val d = "/root/testdata/sf0.001"
    val docs = schema.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect()
    def hk(id: Long) = id % 1000000007L * 2654435761L % 1000000007L
    val expected = docs.groupBy(_._2).map { case (lang, ds) =>
      val quota = ds.length * 3 / 10
      val kept = ds.map(_._1).sortBy(id => (hk(id), id)).take(quota)
      lang -> (ds.length.toLong, quota.toLong, kept.length.toLong, kept.sum)
    }
    val got = SparkEntry.queries("q184_stratified_quota_sample")(spark, d)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === expected, "per-lang (n_in, quota, n_kept, id_sum)")
    got.foreach { case (lang, (_, quota, kept, _)) =>
      assert(kept === quota, s"$lang kept $kept != quota $quota")
    }
  }

  test("source-overlap matrix ties out to the exact pair set joined to " +
      "sources (q185)") {
    val d = "/root/testdata/sf0.001"
    val src = schema.Tables.documents(spark, d)
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .collect().toMap
    // independent reference: the EXACT formulation's pairs (q35), not the
    // shared LSH artifact q185 consumes
    val pairs = SparkEntry.queries("q35_ngram_jaccard")(spark, d)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    val expected = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (src(a), src(b))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.map { case (k, ps) =>
      k -> (ps.length.toLong, ps.map(p => math.round(p._3 * 10000)).sum)
    }
    val got = SparkEntry.queries("q185_source_overlap")(spark, d)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
  }

  test("quality filter emits both keeps and drops on the corpus") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q47_quality_filter")(spark, d)
      .groupBy(col("keep")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(out.getOrElse(true, 0L) > 0, "filter keeps some docs")
    assert(out.getOrElse(false, 0L) > 0, "filter drops some docs")
  }

  test("mixture resampling upsamples the rare lang to the keep-all cap " +
      "and selects exactly the recomputed doc set") {
    // 11 en docs vs 1 xx doc: the α=0.5-smoothed reallocation pushes xx
    // past rate 1.0 (capped — keep all), en lands at ~0.42. The expected
    // en set is recomputed here with the SAME integer hash and the SAME
    // IEEE double expression order the query (and its oracle) use, so
    // the assertion is exact, not statistical.
    val docs = ((0L to 10L).map(i => (i, s"doc $i text", "en", "s", 0L)) :+
      ((99L, "rare doc", "xx", "s", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_mix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def bucket(id: Long) = id % 1000000007L * 2654435761L % 1000000007L % 10000
    val wEn = math.sqrt(11.0 / 12); val wXx = math.sqrt(1.0 / 12)
    val z = wEn + wXx
    val cutEn = math.floor(math.min(1.0, 0.5 * 12 * (wEn / z) / 11) * 10000)
    val keptEn = (0L to 10L).filter(bucket(_) < cutEn)

    val out = SparkEntry.queries("q91_mixture_resample")(spark, dir)
      .select("lang", "rate", "n_kept", "id_sum")
      .as[(String, Double, Long, Long)].collect()
      .map { case (l, r, k, s) => l -> ((r, k, s)) }.toMap
    assert(out("xx") === ((1.0, 1L, 99L)), out)  // capped: keeps its only doc
    assert(out("en") === ((cutEn / 10000.0, keptEn.size.toLong, keptEn.sum)),
      (out, keptEn))
  }

  test("source health report: dup rate counts within-source text repeats") {
    import spark.implicits._
    // source A: 3 docs, two verbatim-identical -> dup rate 2/3, langs
    // {en, de}; source B: 1 unique doc -> rate 0.
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "A", 0L),
      (2L, "alpha beta gamma", "en", "A", 0L),
      (3L, "one two three four", "de", "A", 0L),
      (4L, "solo document here", "en", "B", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_health").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q100_source_health")(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().toList
    assert(out === List(
      ("A", 3L, 2L, 3.3333, 0.6667), ("B", 1L, 1L, 3.0, 0.0)), out)
  }

  test("curriculum deciles: strict-< histogram rank, ties share a bucket") {
    import spark.implicits._
    // type-token ratios: 0.25 (rank 0), 0.5 ×2 (rank 1), 1.0 ×2 (rank 3);
    // N=5 → deciles (0*10 div 5)+1=1, (1*10 div 5)+1=3, (3*10 div 5)+1=7.
    val docs = Seq(
      (1L, "a a a a", "en", "A", 7L),
      (2L, "a b a b", "en", "A", 7L),
      (3L, "a b c d", "en", "A", 7L),
      (4L, "x y x y", "en", "A", 7L),
      (5L, "p q r s", "en", "A", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_curr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q101_curriculum")(spark, dir)
      .as[(Long, Double, Int)].collect().toList
    assert(out === List((1L, 0.25, 1), (2L, 0.5, 3), (3L, 1.0, 7),
      (4L, 0.5, 3), (5L, 1.0, 7)), out)
  }

  test("vocab coverage: top-10 cut is deterministic, per-lang OOV exact") {
    import spark.implicits._
    // 12 distinct tokens: "hot" (freq 5) + w01..w11 (freq 1 each); the
    // top-10 vocab = hot + w01..w09 (alphabetical tie-break). en doc is
    // fully covered; de doc has w03..w11 -> 7 of 9 covered.
    val docs = Seq(
      (1L, "hot hot hot hot hot w01 w02", "en", "A", 0L),
      (2L, "w03 w04 w05 w06 w07 w08 w09 w10 w11", "de", "A", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("q106spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q106_vocab_coverage")(spark, dir)
      .as[(String, Long, Long, Double)].collect().toList
    assert(out === List(("de", 9L, 7L, 0.7778), ("en", 7L, 7L, 1.0)), out)
  }

  test("logistic quality score: hand-computed features and logit") {
    // doc 1 "the cat sat": n_tok 3, f_len 3/500, mwl 9/3 = 3.0, stopword
    // ratio 1/3, no symbols. doc 2 "$$$ !!!": zero tokens, 6 symbol chars
    // of 7 → the -8 symbol weight dominates, keep = false.
    val docs = Seq(
      (1L, "the cat sat", "en", "A", 0L),
      (2L, "$$$ !!!", "en", "A", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("q111spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q111_quality_logistic")(spark, dir)
      .as[(Long, Long, Double, Double, Boolean)].collect().toList
    def q4(x: Double) = math.floor(x * 10000) / 10000
    val logit1 = -2.0 + 2.5 * (3 / 500.0) + 0.3 * 3.0 + 4.0 * (1.0 / 3) - 8.0 * 0.0
    val logit2 = -2.0 + 2.5 * 0.0 + 0.3 * 0.0 + 4.0 * 0.0 - 8.0 * (6.0 / 7)
    def prob(l: Double) = math.floor(10000.0 / (1.0 + math.exp(-l))) / 10000
    assert(out === List(
      (1L, 3L, q4(logit1), prob(logit1), true),
      (2L, 0L, q4(logit2), prob(logit2), false)), out)
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("written gram index: identical contamination output; only the " +
      "eval side exchanges on gram (train side reads bucket-local)") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q78_contamination")(spark, sf)
      .as[(Long, Long, Boolean)].collect().toSet
    val indexed = SparkEntry.queries("q117_contamination_indexed")(spark, sf)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(indexed === batch)
    assert(indexed.nonEmpty)
    // At fixture scale Spark just BROADCASTS the tiny gram table (no
    // exchange at all — also correct). The bucket layout's claim is for
    // the scale where the index CANNOT broadcast: force SMJ and assert
    // exactly ONE gram exchange (the eval side moving to the bucket
    // layout) — a second one would mean the written index re-shuffled
    // and writing it bought nothing.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SparkEntry.queries("q117_contamination_indexed")(spark, sf)
        .queryExecution.executedPlan.toString
      val gramExchanges = "Exchange hashpartitioning\\(gram".r
        .findAllIn(plan).size
      assert(gramExchanges === 1, s"gram exchanges=$gramExchanges\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("BPE encode is batch-size invariant under a frozen merge table " +
      "(why q114 may encode per micro-batch)") {
    val docs = graft.schema.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = PipelineOps.trainMerges(
      docs.filter(col("doc_id") % 5 =!= 0), topN = 20)
    val whole = PipelineOps.encodeWithMerges(docs, merges)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val halves = PipelineOps.encodeWithMerges(
        docs.filter(col("doc_id") % 2 === 0), merges)
      .as[(Long, Long, Long, Long, Double)].collect().toSet ++
      PipelineOps.encodeWithMerges(
        docs.filter(col("doc_id") % 2 === 1), merges)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(whole === halves)
    assert(whole.nonEmpty)
  }

  test("PSI drift report: hand-built baseline/current split, both features") {
    // cut = floor(10 * 0.8) = 8 → baseline docs 0-7, current docs 8-9.
    // lang: baseline en/de 50/50; current en/fr 50/50 → de vanishes, fr
    // appears (both epsilon-floored) → massive PSI, drifted. tok_bin:
    // baseline all bin 0; current splits bins 0/1 → drifted.
    val w40 = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = ((0L to 3L).map(i => (i, "a b c", "en", "A", 0L)) ++
      (4L to 7L).map(i => (i, "a b c", "de", "A", 0L)) ++
      Seq((8L, w40, "en", "A", 0L), (9L, "a b c d e", "fr", "A", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("q115spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q115_drift_psi")(spark, dir)
      .as[(String, Long, Double, Boolean)].collect().toList
    def term(p: Double, q: Double) = {
      val (pf, qf) = (math.max(p, 1e-6), math.max(q, 1e-6))
      (qf - pf) * math.log(qf / pf)
    }
    def q4(x: Double) = math.floor(x * 10000) / 10000
    val psiLang = q4(term(0.5, 0.5) + term(0.5, 0.0) + term(0.0, 0.5))
    val psiTok = q4(term(1.0, 0.5) + term(0.0, 0.5))
    assert(out === List(
      ("lang", 3L, psiLang, true),
      ("tok_bin", 2L, psiTok, true)), out)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("BPE encode: greedy run-parity merges, hand-tokenized fixture") {
    // Corpus pair freqs: "a b" ×3, "b a" ×2, "c c" ×1, "a z" ×1 →
    // top-2 merge table = {"a b", "b a"}, symbol vocab {a, b}.
    //  doc 1 [a b a b a b]: all 5 pair positions matched → one run of 5 →
    //    greedy takes positions 0, 2, 4 = ceil(5/2) = 3 merges (exactly
    //    the sequential left-to-right result), encoded length 3, oov 0.
    //  doc 2 [c c]: pair unmatched → 0 merges; both tokens outside the
    //    vocab → oov_rate 1.0.
    //  doc 3 [a z]: unmatched; z is oov → 0.5.
    val docs = Seq(
      (1L, "a b a b a b", "en", "A", 0L),
      (2L, "c c", "en", "A", 0L),
      (3L, "a z", "en", "A", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = PipelineOps.bpeEncodeStats(docs, topN = 2)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, Double)].collect().toList
    assert(out === List(
      (1L, 6L, 3L, 3L, 0.0),
      (2L, 2L, 0L, 2L, 1.0),
      (3L, 2L, 0L, 2L, 0.5)), out)
  }

  test("weighted sample (q132): the single-pass TopK aggregate selects " +
      "exactly the A-ES keys a reference implementation computes") {
    // replicate the formula off-Spark: md5-hex[0,8) → uniform → ln(u)/w,
    // rounded 9 dp, top-5 by (key desc, id asc)
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1L) / 4294967297.0
      BigDecimal(math.log(u) / math.max(w, 1L))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val docs = (1L to 200L).map(i => (i, if (i % 10 == 0) 5000L else 50L))
    val expected = docs.map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(5)
    val got = docs.toDF("doc_id", "n_chars")
      .select(col("doc_id"), col("n_chars"),
        round(log((conv(substring(md5(col("doc_id").cast("string")), 1, 8),
            16, 10).cast("long") + lit(1L)) / 4294967297.0)
          / greatest(col("n_chars"), lit(1L)), 9).as("key"))
      .agg(graft.expr.TopKAgg.topK(5)(col("key"), col("doc_id")).as("sel"))
      .select(explode(col("sel")).as("s"))
      .select(col("s.id"), col("s.score"))
      .as[(Long, Double)].collect().toSeq
    assert(got === expected)
    // weight skew shows: heavy docs (10% of corpus) dominate the sample
    assert(got.count(_._1 % 10 == 0) >= 3,
      s"heavy docs underrepresented: $got")
  }

  test("dataset card: per-cell counts/chars/tokens, dup rate under the " +
      "q31 normalization, and char shares that sum to ~1") {
    // cell (en, a): 3 docs, one exact dup pair under normalization
    // (whitespace differences collapse); cell (de, b): 1 doc
    val docs = Seq(
      (1L, "alpha beta", "en", "a", 0L),
      (2L, "  alpha   beta ", "en", "a", 0L), // dup of 1 after normText
      (3L, "gamma", "en", "a", 0L),
      (4L, "delta epsilon zeta", "de", "b", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_card").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q155_dataset_card")(spark, dir)
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect().toList
    val chEnA = "alpha beta".length + "  alpha   beta ".length +
      "gamma".length
    val chDeB = "delta epsilon zeta".length
    assert(out === List(
      ("de", "b", 1L, chDeB.toLong, 3L, 0.0,
        math.floor(chDeB.toDouble / (chEnA + chDeB) * 10000) / 10000),
      ("en", "a", 3L, chEnA.toLong, 5L,
        math.floor((1.0 - 2.0 / 3.0) * 10000) / 10000,
        math.floor(chEnA.toDouble / (chEnA + chDeB) * 10000) / 10000)),
      out)
    // shares are a partition of the corpus (floor-quantization loses at
    // most 1e-4 per cell)
    val shareSum = out.map(_._7).sum
    assert(shareSum > 0.999 && shareSum <= 1.0, shareSum)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("entity resolution: the planted deletion-variant links to its " +
      "source through blocking + scoring + CC; neighbors stay apart") {
    // custkeys 1..9 in one nation: only custkey 5 gets a planted variant
    // (id 10000005, one char deleted). Substitution-neighbors (…001 vs
    // …002) must NOT link — same length, excluded by the match rule.
    val rows = (1 to 9).map(i =>
      (i.toLong, f"Customer#$i%09d", 7, 0.0, "SEG"))
    val dir = java.nio.file.Files.createTempDirectory("graft_er").toString
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q159_entity_resolution")(spark, dir)
      .as[(Long, Long)].collect().toList
    // exactly one cluster: {5, 10000005}, labeled by its min id
    assert(out === List((5L, 2L)), out)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("curation pipeline: each stage removes exactly its planted " +
      "casualty and the funnel counts tie out") {
    val good = ("the cat " * 30).trim               // quality-pass, unique
    val dupOfGood = "  " + ("the cat " * 30) + "  " // normalizes to good
    val junk = "@@@@ #### $$$$"                     // symbol-heavy → drop
    val contaminated =                              // shares a bench 5-gram
      "alpha beta gamma delta epsilon " + ("the " * 10).trim
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 0L), // bench
      (10L, good, "en", "s", 0L),
      (11L, dupOfGood, "en", "s", 0L),
      (12L, junk, "en", "s", 0L),
      (13L, contaminated, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_cur").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q181_curation_pipeline")(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toList
    // raw 4 → dedup drops 11 → quality drops 12 → decontam drops 13;
    // survivor 10 carries its 60 tokens
    assert(out === List(("en", "s", 4L, 3L, 2L, 1L, 60L)), out)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("SCD2 history carries one validity interval per version and the " +
      "PIT join picks the version valid at order time, never current") {
    val customer = Seq((3L, "c3", 1, 0.0, "SEG"), (4L, "c4", 1, 0.0, "SEG"),
      (8L, "c8", 1, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    def o(k: Long, id: Long, date: String) =
      (id, k, "O", 1.0, java.sql.Timestamp.valueOf(s"$date 00:00:00"),
        "1-URGENT")
    val orders = Seq(
      o(4L, 1L, "1996-06-01"),  // before 1997 → base SEG
      o(4L, 2L, "1998-06-01"),  // after re-segment → SEG_V2
      o(8L, 3L, "1998-06-01"),  // between v2 and v3 → SEG_V2
      o(8L, 4L, "2000-06-01"),  // after v3 → SEG_V3
      o(3L, 5L, "2000-06-01"))  // never re-segmented → SEG
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2").toString
    customer.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val hist = SparkEntry.queries("q168_scd2_history")(spark, dir)
      .as[(Long, String, String, String, Boolean)].collect().toList
    assert(hist === List(
      (3L, "SEG", "1990-01-01", null, true),
      (4L, "SEG", "1990-01-01", "1997-01-01", false),
      (4L, "SEG_V2", "1997-01-01", null, true),
      (8L, "SEG", "1990-01-01", "1997-01-01", false),
      (8L, "SEG_V2", "1997-01-01", "1999-06-01", false),
      (8L, "SEG_V3", "1999-06-01", null, true)), hist)

    val pit = SparkEntry.queries("q169_pit_join")(spark, dir)
      .as[(String, Long)].collect().toList
    assert(pit === List(("SEG", 2L), ("SEG_V2", 2L), ("SEG_V3", 1L)), pit)
    // every fact matched exactly one version
    assert(pit.map(_._2).sum === 5L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("incremental dataset card equals the from-scratch card on the " +
      "real tables (hash-index anti-join maintains the distinct count)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect().toSet
    val incr = rows("q165_dataset_card_incremental")
    assert(incr === rows("q155_dataset_card"))
    assert(incr.nonEmpty)
  }

  test("incremental entity resolution equals the from-scratch run on the " +
      "real tables (probe the written block index, merge through labels)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .as[(Long, Long)].collect().toSet
    val incr = rows("q160_entity_resolution_incremental")
    assert(incr === rows("q159_entity_resolution"))
    assert(incr.nonEmpty)
  }

  test("DSIR importance weights rank target-like raw docs above " +
      "target-unlike ones, and the benchmark docs never select " +
      "themselves (q195)") {
    // target (doc_id % 50 == 0) speaks {alpha, beta}; raw docs split
    // into target-like ({alpha, beta}) and target-unlike ({zeta, omega})
    val docs = Seq(
      (0L, "alpha beta alpha beta", "en", "s", 0L), // target
      (50L, "beta alpha beta alpha", "en", "s", 0L), // target
      (1L, "alpha beta alpha beta", "en", "s", 0L), // raw, target-like
      (2L, "alpha beta zeta omega", "en", "s", 0L), // raw, mixed
      (3L, "zeta omega zeta omega", "en", "s", 0L)) // raw, target-unlike
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q195_dsir_resample")(spark, dir)
      .select("doc_id", "log_w_micro").as[(Long, Long)].collect().toList
    assert(out.map(_._1) === List(1L, 2L, 3L),
      s"expected target-like > mixed > unlike ordering, got $out")
    val scores = out.toMap
    assert(scores(1L) > scores(2L) && scores(2L) > scores(3L), scores)
    // the unlike doc's weight must be NEGATIVE (its buckets are raw-only)
    assert(scores(3L) < 0L, scores)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("Cuts memo self-invalidates on an in-place table rewrite (round " +
      "17, VERDICT r16 #5): the file-signature key re-derives instead " +
      "of serving a stale cut") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cut_rewrite").toString
    spark.range(0, 100L).selectExpr("id AS l_orderkey", "id AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val first = graft.schema.Cuts.lineitem(spark, dir)
    assert(first == math.floor(100 * 0.8).toLong, first) // (99 + 1) * 0.8
    // serve again from the memo — same signature, same literal
    assert(graft.schema.Cuts.lineitem(spark, dir) == first)
    // REWRITE IN PLACE under the same sfDir with a different max id:
    // the signature (count/mtime/bytes) changes, so the memo must
    // re-derive — this is exactly the case the (sfDir, method)-only key
    // served stale
    spark.range(0, 1000L).selectExpr("id AS l_orderkey", "id AS l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val second = graft.schema.Cuts.lineitem(spark, dir)
    assert(second == math.floor(1000 * 0.8).toLong,
      s"stale cut served after in-place rewrite: $second (want 800)")
    // the explicit hook also works (deterministic eviction twin)
    graft.schema.Cuts.invalidate(dir)
    assert(graft.schema.Cuts.lineitem(spark, dir) == second)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
