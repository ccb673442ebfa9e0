package graft

import graft.ops.VectorOps
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine match hand-computed values") {
    val df = Seq((Array(1f, 0f, 0f), Array(0.6f, 0.8f, 0f)))
      .toDF("a", "b")
    val row = df.select(
      VectorOps.dot(col("a"), col("b")).as("d"),
      VectorOps.cosine(col("a"), col("b")).as("c")).head()
    assert(math.abs(row.getDouble(0) - 0.6) < 1e-6)
    assert(math.abs(row.getDouble(1) - 0.6) < 1e-6)
  }

  test("brute-force top-k returns the true nearest neighbors") {
    // 1 query at the origin direction; corpus at known angles
    val corpus = Seq(
      (10L, Array(1f, 0f)),            // cos 1.0
      (11L, Array(0.9f, 0.4358899f)),  // cos 0.9
      (12L, Array(0f, 1f)),            // cos 0.0
      (13L, Array(-1f, 0f)))           // cos -1.0
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val top2 = VectorOps.cosineTopK(queries, corpus, 2)
      .select("rank", "vec_id").as[(Int, Long)].collect().toSeq
    assert(top2 == Seq((1, 10L), (2, 11L)))
  }

  test("ANN recall >= 0.9 on clustered data (tight clusters, k=3)") {
    // 20 clusters x 10 members: center c has angle theta_c; members jitter
    // by <= 1 degree, so intra-cluster cos > 0.999 and inter-cluster
    // cos < 0.95 — LSH must route members to the same buckets.
    val rng = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      m <- 0 until 10
    } yield {
      val theta = c * (2 * math.Pi / 20) + (rng.nextDouble() - 0.5) * 0.035
      val base = Array.tabulate(8)(i =>
        (math.cos(theta * (i + 1)) / math.sqrt(4.0)).toFloat)
      ((c * 10 + m).toLong, base)
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 10 === 0) // one per cluster
    val corpus = df.filter(col("vec_id") % 10 =!= 0)
    val k = 3
    val exact = VectorOps.cosineTopK(queries, corpus, k)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ann = VectorOps.annTopK(queries, corpus, dim = 8, k = k,
      nBits = 16, bands = 8)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall exact=${exact.size} ann=${ann.size}")
  }

  test("IVF recall >= 0.9 on clustered data (20 cells, probe 4)") {
    val rng = new scala.util.Random(7)
    val rows = for { c <- 0 until 20; m <- 0 until 10 } yield {
      val theta = c * (2 * math.Pi / 20) + (rng.nextDouble() - 0.5) * 0.035
      ((c * 10 + m).toLong,
        Array.tabulate(8)(i => (math.cos(theta * (i + 1)) / 2.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 10 === 0)
    val corpus = df.filter(col("vec_id") % 10 =!= 0)
    val exact = VectorOps.cosineTopK(queries, corpus, 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = VectorOps.ivfTopK(queries, corpus, dim = 8, k = 3,
      nCells = 20, nProbe = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("written IVF index: identical probe output, partition-pruned scan " +
      "(dynamic partition pruning on cell)") {
    // q44b's exact production shape: parquet-backed query/corpus sides.
    // (DPP declines to insert its pruning subquery for an in-memory
    // LocalRelation probe side — which a real serving run never is.)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 10)
    val corpus = e.filter(col("vec_id") >= 10)
    val built = VectorOps.ivfBuild(corpus, dim = 64, nCells = 16)
    val inPlan = VectorOps.ivfProbe(built, queries, k = 3, nProbe = 4)
      .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val onDisk = VectorOps.ivfWriteIndex(spark, built, table = "b_ivf_test")
    val probe = VectorOps.ivfProbe(onDisk, queries, k = 3, nProbe = 4)
    // the whole point of partitioning the written index by cell: the probe
    // scan must carry a dynamic-pruning partition filter, so a serving run
    // reads only its probed cells off disk
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"probe scan is not partition-pruned:\n$plan")
    val indexed = probe
      .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(indexed == inPlan,
      s"missing=${(inPlan -- indexed).take(5)} extra=${(indexed -- inPlan).take(5)}")
  }

  test("incremental IVF append equals one full assignment under frozen " +
      "centroids (q44c's order-free update contract)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") >= 10)
    val snap = e.filter(col("vec_id") < 15)
    val inc = e.filter(col("vec_id") >= 15)
    val table = "b_ivf_incr_test"
    val base = VectorOps.ivfWriteIndex(spark,
      VectorOps.ivfBuild(snap, dim = 64, nCells = 8), table)
    val updated = VectorOps.ivfAppendIncrement(spark, base, inc, table)
    val incremental = updated.index.select("vec_id", "cell")
      .as[(Long, Int)].collect().toSet
    // full re-assignment of snapshot ∪ increment under the SAME centroids
    val full = VectorOps.IvfIndex(
      e.select(col("vec_id"), col("embedding"))
        .withColumn("cell",
          element_at(VectorOps.topCells(base.centroids, 1), 1)),
      base.centroids).index
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    assert(incremental == full,
      s"missing=${(full -- incremental).take(5)} " +
        s"extra=${(incremental -- full).take(5)}")
    // every vector indexed exactly once (append never duplicated the
    // snapshot rows)
    assert(incremental.size == e.count())
  }

  test("PQ (shortlist + rerank) recall >= 0.9 on clustered data") {
    val rng = new scala.util.Random(7)
    val rows = for { c <- 0 until 20; m <- 0 until 10 } yield {
      val theta = c * (2 * math.Pi / 20) + (rng.nextDouble() - 0.5) * 0.035
      ((c * 10 + m).toLong,
        Array.tabulate(8)(i => (math.cos(theta * (i + 1)) / 2.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 10 === 0)
    val corpus = df.filter(col("vec_id") % 10 =!= 0)
    val exact = VectorOps.cosineTopK(queries, corpus, 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val idx = VectorOps.pqTrain(corpus, dim = 8, m = 4, k = 16)
    val pq = VectorOps.pqTopKReranked(idx, queries, corpus, k = 3,
      shortlist = 15)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("SQ8 (shortlist + rerank) recall >= 0.9 on clustered data") {
    val rng = new scala.util.Random(7)
    val rows = for { c <- 0 until 20; m <- 0 until 10 } yield {
      val theta = c * (2 * math.Pi / 20) + (rng.nextDouble() - 0.5) * 0.035
      ((c * 10 + m).toLong,
        Array.tabulate(8)(i => (math.cos(theta * (i + 1)) / 2.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 10 === 0)
    val corpus = df.filter(col("vec_id") % 10 =!= 0)
    val exact = VectorOps.cosineTopK(queries, corpus, 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val sq = VectorOps.sq8TopKReranked(queries, corpus, k = 3,
      shortlist = 15)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & sq).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("SQ8 codes honor the int8 range and the <= scale/2 " +
    "reconstruction error bound") {
    val rng = new scala.util.Random(11)
    val df = (0 until 50).map(i =>
        (i.toLong, Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    // recompute the unit-normalized source the same way sq8Encode does,
    // then check |code*scale - x| <= scale/2 per component and code range
    val enc = VectorOps.sq8Encode(df)
    val normed = df
      .withColumn("_n", sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, x) => a + x)))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("_n"))
          .as("x"))
    val checked = enc.join(normed, "vec_id")
      .select(col("vec_id"), col("scale"),
        array_max(transform(col("codes"), c => abs(c))).as("max_code"),
        array_max(transform(arrays_zip(col("codes"), col("x")), p =>
          abs(p.getField("codes").cast("double") * col("scale") -
            p.getField("x")))).as("max_err"))
      .as[(Long, Double, Int, Double)].collect()
    checked.foreach { case (id, scale, maxCode, maxErr) =>
      assert(maxCode <= 127, s"vec $id code out of int8 range: $maxCode")
      assert(maxErr <= scale / 2 + 1e-12,
        s"vec $id reconstruction err $maxErr > scale/2 ${scale / 2}")
    }
  }

  test("IVF-PQ recall >= 0.9 on clustered data; candidates = probed-cell occupancy") {
    val rng = new scala.util.Random(7)
    val rows = for { c <- 0 until 20; m <- 0 until 10 } yield {
      val theta = c * (2 * math.Pi / 20) + (rng.nextDouble() - 0.5) * 0.035
      ((c * 10 + m).toLong,
        Array.tabulate(8)(i => (math.cos(theta * (i + 1)) / 2.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 10 === 0)
    val corpus = df.filter(col("vec_id") % 10 =!= 0)
    val exact = VectorOps.cosineTopK(queries, corpus, 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val idx = VectorOps.ivfPqBuild(corpus, dim = 8, nCells = 20, m = 4, k = 16)
    val ivfpq = VectorOps.ivfPqTopK(idx, queries, corpus, k = 3,
      nProbe = 4, shortlist = 15)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
    // the ADC scan touches exactly the probed cells: per-query candidate
    // count equals the summed occupancy of its probed cells (queries are
    // not in the corpus, so the self-id filter removes nothing)
    val occupancy = idx.index.groupBy(col("cell"))
      .agg(count(lit(1)).as("occ"))
    val expected = VectorOps.ivfPqProbedCells(idx, queries, nProbe = 4)
      .join(occupancy, Seq("cell"))
      .groupBy(col("q_id")).agg(sum(col("occ")).as("n"))
      .as[(Long, Long)].collect().toMap
    val actual = VectorOps.ivfPqCandidates(idx, queries, nProbe = 4)
      .groupBy(col("q_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(actual == expected, s"actual=$actual expected=$expected")
  }

  test("LSH near-dup equals the exact all-pairs scan on a dup-seeded corpus") {
    // 60 random-ish vectors + a scaled copy of each: true pairs = the 60
    // (i, i+1000) duplicates (organic cross-pairs sit far below 0.99)
    val rng = new scala.util.Random(11)
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)((rng.nextDouble() - 0.5).toFloat)))
    val rows = base ++ base.map { case (id, v) =>
      (id + 1000L, v.map(x => x * 2.0f)) }
    val df = rows.toDF("vec_id", "embedding")
    val lsh = VectorOps.embedNearDupLsh(df, dim = 8, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact all-pairs reference (q42's formulation)
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(VectorOps.cosine(col("ea"), col("eb")) >= 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact)
    assert(lsh.size === 60)
  }

  test("PQ codes compress to M small ints and training is deterministic") {
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i % 4) + j * 0.1).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val idx1 = VectorOps.pqTrain(df, dim = 8, m = 4, k = 8)
    val idx2 = VectorOps.pqTrain(df, dim = 8, m = 4, k = 8)
    val codes = idx1.index.select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.size == 4 && c.forall(x => x >= 0 && x < 8)))
    assert(idx1.codebooks == idx2.codebooks)
  }

  test("hyperplane buckets are deterministic") {
    val df = Seq((1L, Array.tabulate(8)(i => (i + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val b1 = VectorOps.hyperplaneBuckets(df, 8, 16, 4)
      .select("band", "bucket").as[(Int, Long)].collect().toSeq
    val b2 = VectorOps.hyperplaneBuckets(df, 8, 16, 4)
      .select("band", "bucket").as[(Int, Long)].collect().toSeq
    assert(b1 == b2 && b1.size == 4)
  }

  test("semantic dedup groups scaled copies, spares unrelated vectors") {
    // two planted semantic groups (pure positive scalings — cosine
    // exactly 1.0, and dot-based cell assignment is scale-invariant, so
    // membership cannot be lost to a cell boundary) plus vectors whose
    // pairwise cosine stays far below the 0.99 threshold
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1.5f, 0f, 0f, 0f)),
      (3L, Array(2f, 0f, 0f, 0f)),                       // group {1,2,3}
      (10L, Array(0f, 3f, 0f, 0f)), (11L, Array(0f, 1f, 0f, 0f)), // {10,11}
      (20L, Array(0f, 0f, 1f, 0f)),                      // singleton
      (21L, Array(0.7f, 0.7f, 0f, 0f)))                  // cos ≈ .71 to both
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val labels = VectorOps.semanticDedup(rows, dim = 4, threshold = 0.99,
        nCells = 2)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L), labels)
    // singletons and sub-threshold vectors never enter any group
    assert(!labels.contains(20L) && !labels.contains(21L))
  }

  test("incremental semantic dedup equals the from-scratch batch groups " +
      "(q149 ≡ q87) on the real tables") {
    val d = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, d)
      .select("cluster_id", "n_members", "n_removed")
      .as[(Long, Long, Long)].collect().toSet
    val inc = rows("q149_semantic_dedup_incremental")
    assert(inc === rows("q87_semantic_dedup"))
    assert(inc.nonEmpty)
  }

  test("soft assignment rescues a near-dup pair straddling a cell boundary") {
    // Hand-picked centroids (axis-aligned) make the straddle exact: the
    // pair sits at 44° and 46° — cosine cos(2°) ≈ 0.9994 ≥ 0.99, but each
    // member ranks a DIFFERENT centroid first, so hard assignment never
    // compares them. Trained centroids can't stage this deterministically
    // (sample order is hash-driven), hence the injected-centroid helper.
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r), math.sin(r), 0.0, 0.0)
    }
    val rows = Seq(
      (1L, at(44)), (2L, at(46)),          // straddling near-dup pair
      (20L, Array(0.0, 0.0, 1.0, 0.0)))    // unrelated
      .toDF("vec_id", "embedding")

    val hard = VectorOps.semanticDedupProbed(rows, cents,
      threshold = 0.99, nProbe = 1).as[(Long, Long)].collect().toMap
    assert(hard === Map.empty[Long, Long], hard)  // lost to the boundary

    val soft = VectorOps.semanticDedupProbed(rows, cents,
      threshold = 0.99, nProbe = 2).as[(Long, Long)].collect().toMap
    assert(soft === Map(1L -> 1L, 2L -> 1L), soft)
    assert(!soft.contains(20L))
  }

  test("semi-hard mining excludes negatives harder than the hardest positive") {
    // Anchor on the x axis; all vectors unit-norm so cosines are exact by
    // construction. p* = 0.9 (the one positive); the 0.95 negative is
    // HARDER than the hardest positive and must be rejected by the
    // semi-hard condition, the rest rank by cosine.
    val rows = Seq(
      (0L, 0, Array(1f, 0f)),             // anchor
      (1L, 0, Array(0.9f, 0.4358899f)),   // positive -> p* = 0.9
      (10L, 1, Array(0.95f, 0.3122499f)), // cos 0.95 > p* -> excluded
      (11L, 1, Array(0.8f, 0.6f)),        // cos 0.8  -> rank 1
      (12L, 2, Array(0.1f, 0.9949874f)))  // cos 0.1  -> rank 2
      .toDF("vec_id", "label", "embedding")
    val out = VectorOps.semiHardNegatives(
      rows.filter(col("vec_id") === 0), rows, k = 5)
      .select("a_id", "rank", "neg_id").as[(Long, Int, Long)]
      .collect().toSeq.sorted
    assert(out == Seq((0L, 1, 11L), (0L, 2, 12L)), out)
  }

  test("gated verification emits MEASURED recall that a broken probe " +
      "moves (VERDICT r10 #3: the oracle value is data, not a constant)") {
    // Clustered corpus (the regime where recall is meaningful). A healthy
    // probe (nProbe=4) must report avg_recall near 1.0; a deliberately
    // crippled probe (nProbe=1 over 20 spread clusters) must report a
    // STRICTLY lower measured value — i.e. a probe bug changes the number
    // the driver hashes, instead of hiding behind a boolean floor.
    val rng = new scala.util.Random(11)
    val rows = for { c <- 0 until 20; m <- 0 until 10 } yield {
      val theta = c * (2 * math.Pi / 20) + (rng.nextDouble() - 0.5) * 0.035
      ((c * 10 + m).toLong,
        Array.tabulate(8)(i => (math.cos(theta * (i + 1)) / 2.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 10 === 0)
    val corpus = df.filter(col("vec_id") % 10 =!= 0)
    def measured(nProbe: Int): Double = VectorOps.gatedAnnVerification(
      VectorOps.ivfTopK(queries, corpus, dim = 8, k = 3,
        nCells = 20, nProbe = nProbe),
      corpus, VectorOps.cosineTopK(queries, corpus, 3),
      k = 3, recallFloor = 0.3)
      .select("avg_recall").as[Double].head()
    val healthy = measured(4)
    val broken = measured(1)
    assert(healthy >= 0.9, s"healthy avg_recall=$healthy")
    assert(broken < healthy,
      s"broken probe must move the measured value: $broken vs $healthy")
  }

  test("embedding health: norms, zero vectors, dim consistency per label") {
    // label 1: a 3-4-5 vector (norm 5.0) and a zero vector; label 2: a
    // unit vector plus a RAGGED 3-dim vector (dim_min 2 != dim_max 3).
    val rows = Seq(
      (1L, 1, Array(3f, 4f)),
      (2L, 1, Array(0f, 0f)),
      (3L, 2, Array(1f, 0f)),
      (4L, 2, Array(0f, 3f, 4f)))
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("q105spec").toString
    rows.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q105_embedding_health")(spark, dir)
      .as[(Int, Long, Int, Int, Long, Double)].collect().toList
    assert(out === List((1, 2L, 2, 2, 1L, 2.5), (2, 2L, 2, 3, 0L, 3.0)),
      out)
  }

  test("semantic decontam flags a scaled-copy paraphrase, spares the " +
      "orthogonal doc, and counts multi-benchmark hits") {
    // bench: two orthogonal axes; train: a scaled copy of bench axis 0
    // (cos = 1 — the paraphrase no n-gram rule can see), a 45° vector
    // between both axes (cos ≈ 0.707 to each), and an orthogonal vector.
    val rows = Seq(
      (0L, 0, Array.tabulate(64)(j => if (j == 0) 1f else 0f)),
      (1L, 0, Array.tabulate(64)(j => if (j == 1) 1f else 0f)),
      (10L, 0, Array.tabulate(64)(j => if (j == 0) 3f else 0f)),
      (11L, 0, Array.tabulate(64)(j =>
        if (j == 0 || j == 1) 1f else 0f)),
      (12L, 0, Array.tabulate(64)(j => if (j == 5) 2f else 0f)))
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("q141spec").toString
    rows.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q141_semantic_decontam")(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect().toList
    assert(out === List(
      (10L, 1L, 1.0, true), // scaled copy: caught
      (11L, 2L, 0.707107, true), // near both benchmarks: 2 hits
      (12L, 0L, 0.0, false)), out) // orthogonal: clean
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("embed classifier: one-hot vectors read the weight pattern back, " +
      "keep is the logit sign, scoring plan shuffles only for the sort") {
    // w_i = (((i*37) % 19) - 9) / 10 → w_0 = -0.9, w_1 = 0.9, w_2 = 0.8;
    // a one-hot at i scores exactly w_i, a 2× one-hot exactly 2·w_i.
    def oneHot(i: Int, scale: Float = 1f) =
      Array.tabulate(64)(j => if (j == i) scale else 0f)
    val rows = Seq(
      (1L, 0, oneHot(1)), // logit  0.9 → keep
      (2L, 0, oneHot(0)), // logit -0.9 → drop
      (3L, 1, oneHot(2, 2f))) // logit 1.6 → keep
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("q138spec").toString
    rows.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = SparkEntry.queries("q138_embed_classifier")(spark, dir)
    val out = df.as[(Long, Int, Double, Double, Boolean)].collect().toList
    def probQ(logit: Double) =
      math.floor(10000.0 / (1.0 + math.exp(-logit))) / 10000
    assert(out === List(
      (1L, 0, 0.9, probQ(0.9), true),
      (2L, 0, -0.9, probQ(-0.9), false),
      (3L, 1, 1.6, probQ(1.6), true)), out)
    // the map-side claim, measured: the only shuffle in the executed plan
    // is the final orderBy's range partitioning — scoring itself adds none
    // (AQE plan strings carry Initial AND Final plans; inspect Final only)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1, plan)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("JL projection: sign matrix is deterministic, norm distortion is " +
      "bounded, and top-1 neighbors survive projection on clustered data") {
    // determinism + shape of the portable sign matrix
    val s1 = VectorOps.jlSigns(16, 64)
    assert(s1 == VectorOps.jlSigns(16, 64))
    assert(s1.size == 16 && s1.forall(_.size == 64))
    assert(s1.flatten.forall(v => v == 1.0 || v == -1.0))
    // signs are ~balanced (md5 nibble parity): a degenerate all-+1 matrix
    // would still "pass" norm checks on axis-aligned data, so pin balance
    val plus = s1.flatten.count(_ == 1.0)
    assert(plus > 400 && plus < 624, plus) // 1024 total, expect ~512

    // clustered corpus: 20 random near-orthogonal unit centers (pairwise
    // |cos| ~ 1/8 in 64-d) with tight jitter — the separation regime a 4x
    // JL compression provably preserves (the cos-pattern ANN corpus has
    // 0.95-similar neighbors, inside JL's distortion radius by design)
    val rng = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(64)(rng.nextGaussian()))
    val rows = for { c <- 0 until 20; m <- 0 until 10 } yield {
      val v = centers(c).map(_ + rng.nextGaussian() * 0.02)
      val n = math.sqrt(v.map(x => x * x).sum)
      ((c * 10 + m).toLong, v.map(x => (x / n).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val proj = VectorOps.jlProject(df, kOut = 16, dim = 64)
      .withColumn("fn", graft.expr.VectorExprs.l2Norm(col("embedding")))
      .withColumn("pn", sqrt(VectorOps.dot(col("proj"), col("proj"))))
      .withColumn("ratio", col("pn") / (lit(4.0) * col("fn")))
    // JL norm-distortion at k=16: ratio² ~ χ²₁₆/16, whose 0.1%-tails sit
    // near 0.45/1.7 — the HARD bound here is the coarse sanity rail; the
    // statistically meaningful checks are the mean below and the
    // neighborhood preservation after it
    val ratios = proj.select("ratio").as[Double].collect()
    assert(ratios.forall(r => r > 0.4 && r < 1.75), ratios.min -> ratios.max)
    // E[ratio] ~ 1
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.15, mean)

    // neighborhood preservation: project, then for one query per cluster
    // the top-1 neighbor under projected cosine stays in the same cluster
    // for >= 80% of queries (exact would be 100%; JL at 4x compression on
    // 1-degree-tight clusters loses at most a straggler or two)
    val projF = proj.select(col("vec_id"),
      col("proj").cast("array<float>").as("embedding"))
    val queries = projF.filter(col("vec_id") % 10 === 0)
    val corpus = projF.filter(col("vec_id") % 10 =!= 0)
    val top1 = VectorOps.cosineTopK(queries, corpus, 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
    val same = top1.count { case (q, n) => q / 10 == n / 10 }
    assert(same >= 16, s"$same/20 top-1 neighbors in-cluster")
  }

  test("every ANN query's MEASURED recall clears its pinned floor at every " +
      "testdata SF (VERDICT r11 #5)") {
    // hold the verify gate open so the exact comparison runs at sf0.1
    // (2000 vectors — above Gates.MaxRows, where the benched plan
    // honestly skips it); floors and the measurements they derive from
    // are documented at VectorOps.RecallFloors
    sys.props("graft.forceVerify") = "1"
    try {
      val minRecall = scala.collection.mutable.Map.empty[String, Double]
      for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
             "/root/testdata/sf0.1");
           name <- graft.tools.RecallProbe.AnnQueries) {
        spark.catalog.clearCache()
        val row = SparkEntry.queries(name)(spark, sf).head()
        // (n_queries, all_returned_k, avg_recall, avg_recall_ok, verified)
        assert(row.getBoolean(4), s"$name at $sf: gate held open => verified")
        assert(row.getBoolean(1), s"$name at $sf: every query returned k")
        val recall = row.getDouble(2)
        val floor = VectorOps.RecallFloors(name)
        assert(recall >= floor,
          s"$name at $sf: measured recall $recall under floor $floor")
        minRecall(name) =
          math.min(minRecall.getOrElse(name, Double.MaxValue), recall)
      }
      // the RATCHET (VERDICT r13 #5): a floor is pinned one rounding notch
      // under the SMALLEST cross-SF measurement, so it must TRACK
      // improvements — a floor more than 0.15 below the measured minimum
      // is fossilized (it would no longer catch a real recall regression)
      // and this assertion forces a re-pin instead of leaving the ratchet
      // a manual chore
      for (name <- graft.tools.RecallProbe.AnnQueries) {
        val floor = VectorOps.RecallFloors(name)
        val measured = minRecall(name)
        assert(measured - floor <= 0.15,
          s"$name: floor $floor is slack vs min measured $measured — " +
            "re-pin RecallFloors (and the oracle SQL constants) upward")
      }
    } finally sys.props -= "graft.forceVerify"
  }
}
