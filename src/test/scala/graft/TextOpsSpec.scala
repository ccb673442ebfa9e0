package graft

import graft.ops.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("crawl-delta classes tie out to the q121 and q34c probes and " +
      "partition the increment (q148)") {
    val row = SparkEntry.queries("q148_crawl_delta")(spark, sf)
      .collect().head
    val nInc = row.getAs[Long]("n_inc")
    val nEx = row.getAs[Long]("n_exact_dup")
    val nNear = row.getAs[Long]("n_near_dup")
    val nNovel = row.getAs[Long]("n_novel")
    assert(nEx + nNear + nNovel === nInc)
    assert(nEx > 0 && nNovel > 0, "re-crawl and novel classes must exist")
    // exact class = q121's probe (identical increment construction)
    val exactIds = SparkEntry.queries("q121_exact_dedup_indexed")(spark, sf)
      .select(col("inc_id")).distinct().count()
    assert(nEx === exactIds)
    // near class = q34c's cross pairs (same split, no re-crawl docs)
    // minus anything already exact
    val exSet = SparkEntry.queries("q121_exact_dedup_indexed")(spark, sf)
      .select(col("inc_id").as("doc_id")).distinct()
    val nearOnly = SparkEntry.queries("q34c_minhash_incremental")(spark, sf)
      .select(col("id_b").as("doc_id")).distinct()
      .join(exSet, Seq("doc_id"), "left_anti").count()
    assert(nNear === nearOnly)
  }

  private def texts(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def shingled(rows: Seq[(Long, String)]) =
    TextOps.fingerprints(texts(rows))

  test("exact jaccard: identical docs = 1.0, disjoint docs absent") {
    val docs = shingled(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now friends")))
    val pairs = TextOps.exactJaccardPairs(docs, docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH finds exactly the high-jaccard pairs on testdata") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .limit(200)
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val sh = shingled(rows)
    val exact = TextOps.exactJaccardPairs(sh, sh, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = TextOps.minHashLshPairs(texts(rows), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // at j >= 0.5 the 8x4 banding catches a pair w.p. >= 0.40 per band
    // structure; the planted pairs here are j > 0.9 (p ~ 0.996) — require
    // full agreement on this data
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
  }

  test("stop-shingle df-cap: identical pairs, cap actually exercised") {
    // every doc gets the same boilerplate tail → its shingles have
    // df = 300 and MUST be dropped by the cap; true near-dup pairs share
    // plenty of low-df shingles, and unrelated docs sharing ONLY the
    // boilerplate stay far below the 0.5 threshold in full-set
    // verification — so the pair set is provably unchanged while the cap
    // does real work (non-vacuous, unlike the raw sf0.001 corpus whose
    // max shingle df is below the cap)
    val boiler = " this document is provided as is without any warranty"
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(300)
      .select(col("doc_id"), concat(col("text"), lit(boiler)).as("text"))
    val rows = docs.as[(Long, String)].collect().toSeq
    val sh = shingled(rows)
    val uncapped = TextOps.exactJaccardPairs(sh, sh, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.nonEmpty)
    val capped = TextOps.exactJaccardPairsCapped(sh, 0.5, dfCap = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped, s"capped=$capped uncapped=$uncapped")
    val cappedLsh = TextOps.minHashLshPairs(texts(rows), 0.5, dfCap = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedLsh == uncapped, s"cappedLsh=$cappedLsh uncapped=$uncapped")
    // the cap is non-vacuous here: boilerplate shingles exceed it
    val maxDf = sh.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).as[Long].head()
    assert(maxDf > 16, s"expected hot shingles, max df = $maxDf")
  }

  test("prefix filter: (pair, score) equality with uncapped exact pairs " +
      "under corpus-hot boilerplate plus an 18-way duplicate class (q186)") {
    // Both adversarial fixtures the df-cap needs rescue machinery for,
    // in ONE corpus: universal boilerplate (corpus-hot shingles) and an
    // identical-duplicate class whose every shingle is hot. The prefix
    // filter needs no cap and no rescue — losslessness is a theorem —
    // asserted here as full (id_a, id_b, jaccard) set equality.
    val boiler = " this document is provided as is without any warranty"
    val dupText = "zorple quandric flumina vexatron brillig slithy toves " +
      "gyre gimble wabe mimsy borogoves outgrabe raths"
    val background = spark.read.parquet(s"$sf/documents.parquet").limit(200)
      .select(col("doc_id"), concat(col("text"), lit(boiler)).as("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => (id + 10000L, t) }.toSeq
    val rows = (1L to 18L).map(i => (i, dupText)) ++ background
    val sh = shingled(rows)
    val uncapped = TextOps.exactJaccardPairs(sh, sh, 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.nonEmpty)
    val prefix = TextOps.prefixFilterJaccardPairs(sh, 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(prefix == uncapped,
      s"missing=${(uncapped -- prefix).take(5)} " +
        s"extra=${(prefix -- uncapped).take(5)}")
    // non-vacuous: at τ = 0.5 each doc indexes about half its shingles,
    // so the prefix posting stream must be a strict minority of the full
    // stream — the filter is doing real work in this corpus
    val fullPosts = sh.select(explode(col("sh"))).count()
    val dfRel = sh.select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
    val prefixPosts = dfRel
      .join(dfRel.groupBy(col("s")).agg(count(lit(1)).as("df")), Seq("s"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * 0.5) + 1)
      .count()
    assert(prefixPosts * 3 < fullPosts * 2,
      s"prefix stream $prefixPosts of $fullPosts is not a strict cut")
  }

  test("HLL maintenance: merged estimate equals the full rebuild, stays " +
      "in the 5% band, and unions associatively over 3-way splits (q191)") {
    val out = SparkEntry.queries("q191_hll_incremental")(spark, sf)
      .as[(String, Long, Boolean, Boolean)].collect()
    assert(out.length === 5)
    out.foreach { case (lang, n, meq, w5) =>
      assert(n > 1000, s"$lang shingle cardinality $n")
      assert(meq, s"$lang merged sketch != full rebuild")
      assert(w5, s"$lang estimate outside the 5% band of $n")
    }
    // register-max semantics: sketches over ANY disjoint 3-way split of
    // the posting stream union to the same estimate as one direct pass —
    // the q191 invariant generalized past the 80/20 cut it runs with
    val posts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        explode(graft.ops.TextOps.toks(col("text"))).as("t"))
    val direct = posts.agg(
        hll_sketch_estimate(hll_sketch_agg(col("t"), 12)))
      .as[Long].head()
    val threeWay = posts
      .groupBy((col("doc_id") % 3).as("part"))
      .agg(hll_sketch_agg(col("t"), 12).as("sk"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), allowDifferentLgConfigK = false)))
      .as[Long].head()
    assert(direct === threeWay)
  }

  test("containment catches a near-subset pair that Jaccard misses, and " +
      "equals the brute-force formula (q190)") {
    // doc 1 = a short article; doc 2 = an "aggregator page" embedding it
    // verbatim inside much more text: containment(1→2) = 1.0, Jaccard
    // far below 0.5 because the union is page-sized
    val article = "quick brown foxes jump over lazy dogs in autumn fields"
    val filler = (1 to 120).map(i => s"filler$i word$i item$i").mkString(" ")
    val background = spark.read.parquet(s"$sf/documents.parquet").limit(150)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => (id + 10000L, t) }.toSeq
    val rows = Seq((1L, article), (2L, s"$filler $article")) ++ background
    val sh = shingled(rows)
    val out = TextOps.containmentPairs(sh, 0.8)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 4).as("c"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out.contains((1L, 2L, 1.0)),
      s"subset pair missing from $out")
    // the same pair is invisible to the symmetric family at 0.5
    val jac = TextOps.exactJaccardPairs(sh, sh, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), "jaccard should miss the subset pair")
    // full brute-force equality: every pair with ni/min(sz) >= 0.8
    val brute = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))) /
          least(size(col("a.sh")), size(col("b.sh")))).as("c"))
      .filter(col("c") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("c"), 4).as("c"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out === brute,
      s"missing=${(brute -- out).take(5)} extra=${(out -- brute).take(5)}")
  }

  test("df-floor rescue: an 18-way identical duplicate class survives the cap") {
    // The one family that violates the prefix-filtering safety condition:
    // every shared shingle of a (dfCap+1)-plus-way duplicate class is hot
    // by definition (df = 18 > dfCap = 16 here), so WITHOUT the DfFloor
    // rescue all 18 docs lose every posting and the class silently vanishes
    // from both candidate generators. Nonsense tokens keep the class's
    // shingles out of the background corpus, so df is exactly 18.
    val dupText = "zorple quandric flumina vexatron brillig slithy toves " +
      "gyre gimble wabe mimsy borogoves outgrabe raths"
    val background = spark.read.parquet(s"$sf/documents.parquet").limit(100)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => (id + 10000L, t) }.toSeq
    val rows = (1L to 18L).map(i => (i, dupText)) ++ background
    val sh = shingled(rows)
    val classPairs =
      (for { a <- 1L to 18L; b <- (a + 1) to 18L } yield (a, b)).toSet
    val uncapped = TextOps.exactJaccardPairs(sh, sh, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(classPairs.subsetOf(uncapped))
    // capped index: the class's kept stream is empty, so only the rescued
    // postings can produce these candidates — pair-set equality proves the
    // rescue fires AND that no member ended with zero postings
    val capped = TextOps.exactJaccardPairsCapped(sh, 0.5, dfCap = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped,
      s"missing=${(uncapped -- capped).take(5)} extra=${(capped -- uncapped).take(5)}")
    val cappedLsh = TextOps.minHashLshPairs(texts(rows), 0.5, dfCap = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedLsh == uncapped,
      s"missing=${(uncapped -- cappedLsh).take(5)} extra=${(cappedLsh -- uncapped).take(5)}")
  }

  test("df-floor rescue: partial top-up when docs keep SOME cold postings " +
      "but fewer than the floor") {
    // The 18-way-identical test above exercises the all-hot case (kept
    // stream empty, rescue supplies the full floor). This covers the
    // OTHER rescue path: docs with a few cold postings — here 9 pairs
    // sharing a 4-word unique tail on top of an 18-way-hot boilerplate —
    // keep their cold tail shingles (df = 2) but fewer than DfFloor of
    // them, so _need lands strictly between 1 and the floor and the
    // rescue tops up with the rarest hot shingles only. Cross-pair
    // candidates (j = 0.6, sharing ONLY hot shingles) exist in the
    // uncapped pair set purely via rescued postings, so equality proves
    // the top-up fires and is deterministic across the class.
    val boiler = "zorple quandric flumina vexatron brillig slithy toves " +
      "gyre gimble wabe mimsy borogoves outgrabe raths"
    val rows = (1L to 18L).map { i =>
      val p = (i + 1) / 2
      (i, s"$boiler uniq${p}a uniq${p}b uniq${p}c uniq${p}d")
    }
    val sh = shingled(rows)
    val uncapped = TextOps.exactJaccardPairs(sh, sh, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val all = (for { a <- 1L to 18L; b <- (a + 1) to 18L } yield (a, b)).toSet
    assert(uncapped == all, "construction: every doc pair clears j >= 0.5")
    val capped = TextOps.exactJaccardPairsCapped(sh, 0.5, dfCap = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped,
      s"missing=${(uncapped -- capped).take(5)} extra=${(capped -- uncapped).take(5)}")
    // LSH: identical-signature pairs (the 9 tail-sharing pairs, j = 1.0
    // after rescue determinism) must collide; j = 0.6 cross pairs are
    // banding-probabilistic (~0.67) so only soundness is asserted there.
    val classPairs = (1L to 9L).map(p => (2 * p - 1, 2 * p)).toSet
    val lsh = TextOps.minHashLshPairs(texts(rows), 0.5, dfCap = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(classPairs.subsetOf(lsh), s"missing=${(classPairs -- lsh).take(5)}")
    assert(lsh.subsetOf(uncapped), s"extra=${(lsh -- uncapped).take(5)}")
  }

  test("bucketed written LSH index: identical pair output, shuffle-free " +
      "candidate aggregation on the read side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val text = texts(docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq)
    val inPlan = TextOps.minHashLshPairs(text, 0.5, dfCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val indexed = TextOps.minHashLshPairsBucketedIndex(
        spark, text, jaccardThreshold = 0.5, dfCap = 16, table = "b_lsh_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == inPlan,
      s"missing=${(inPlan -- indexed).take(5)} extra=${(indexed -- inPlan).take(5)}")
    // the written table's bucket layout must satisfy the candidate
    // groupBy's distribution outright — a repeated dedup run over the
    // index pays ZERO corpus-sized shuffle (the whole point of writing it)
    val agg = spark.table("b_lsh_test")
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("incremental dedup against the written snapshot index equals the " +
      "exact cross pairs, and emits ONLY cross pairs") {
    // ids 0..99 → in-plan cut = 80. Seeded: (10, 90) identical and
    // (70, 85) near-identical straddle the cut; (20, 30) identical sits
    // INSIDE the snapshot and must not be emitted (it deduped yesterday).
    val base = spark.read.parquet(s"$sf/documents.parquet").limit(100)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }.toSeq
    val txt = base.toMap
    val rows = base.map {
      case (90L, _) => (90L, txt(10L))
      case (85L, _) => (85L, txt(70L) + " extra tail words")
      case (30L, _) => (30L, txt(20L))
      case r => r
    }
    val sh = shingled(rows)
    val all = TextOps.exactJaccardPairs(sh, sh, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(all.contains((20L, 30L)), "construction: within-snapshot dup")
    val expected = all.filter { case (a, b) => a < 80 && b >= 80 }
    assert(expected.contains((10L, 90L)) && expected.contains((70L, 85L)))
    val got = TextOps.minHashLshIncremental(spark, texts(rows),
        jaccardThreshold = 0.5, dfCap = 16, table = "b_lsh_inc_test")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("simhash: near-identical docs collide, unrelated docs do not") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("tk"))
    val pairs = TextOps.simHashPairs(docs, maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("langid picks the right language on real sentences") {
    val q = SparkEntry.queries("q33_langid")
    // write real sentences to a temp parquet shaped like documents
    val docs = Seq(
      (0L, "the cat sat on the mat and the dog is happy", "?", "s", 0L),
      (1L, "el gato y la casa de que hablamos es bonita y grande", "?", "s", 0L),
      (2L, "der hund und die katze das ist sehr gut und schoen", "?", "s", 0L),
      (3L, "le chat et les maisons des villes et le chien", "?", "s", 0L),
      (4L, "xyzzy plugh qwerty", "?", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_langid").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q(spark, dir).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(out == Map(0L -> "en", 1L -> "es", 2L -> "de", 3L -> "fr",
      4L -> "und"))
  }

  test("ngram decontamination scores overlap against the benchmark set") {
    val q = SparkEntry.queries("q90_ngram_decontam")
    // doc 0 is the benchmark (doc_id % 50 == 0). doc 7 shares 2 of its 3
    // shingles (overlap .6667), doc 8 shares none, doc 9 shares 1 of 8
    // (.125, under the .5 threshold) — only 0 (self, 1.0) and 7 survive.
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5", "en", "s", 0L),
      (7L, "w1 w2 w3 w4 x", "en", "s", 0L),
      (8L, "p q r s t", "en", "s", 0L),
      (9L, "w1 w2 w3 p q r s t u v", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q(spark, dir)
      .select("doc_id", "n_sh", "n_shared", "overlap")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out === List((0L, 3L, 3L, 1.0), (7L, 3L, 2L, 0.6667)), out)
  }

  test("substring-run detection finds the verbatim span, not the bag") {
    val q = SparkEntry.queries("q92_substring_runs")
    // docs 1/2 embed the SAME 25-token span in different contexts →
    // max_run exactly 25. Docs 3/4 are token-bag-identical but SHUFFLED
    // (Jaccard 1.0, no shared 5-gram run) → absent: exactly the
    // order-aware distinction the Jaccard family cannot make.
    val span = (1 to 25).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta", "en", "s", 0L),
      (2L, s"omega $span psi chi phi", "en", "s", 0L),
      (3L, "one two three four five six seven eight", "en", "s", 0L),
      (4L, "eight one seven two six three five four", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_runs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q(spark, dir).select("id_a", "id_b", "max_run")
      .as[(Long, Long, Long)].collect().toList
    assert(out === List((1L, 2L, 25L)), out)
  }

  test("fuzzy decontam flags the paraphrased bench near-dup, nothing else") {
    // doc 0/50 are the benchmark side (doc_id % 50 = 0). doc 1 is doc 0
    // with one word changed (high jaccard); doc 2 is unrelated; bench
    // docs themselves must never appear in the drop list (sides are
    // disjoint by construction, not by luck).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = texts(Seq(
      (0L, base),
      (1L, base.replace("theta", "thorn")),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (50L, "completely separate benchmark content with its own words")))
    val out = TextOps.fuzzyDecontam(docs, col("doc_id") % 50 === 0,
      threshold = 0.5, dfCap = 16)
      .select("doc_id", "n_bench_hits").as[(Long, Long)].collect().toList
    assert(out === List((1L, 1L)), out)
  }

  test("dup-ngram fraction: looping text scores 0.5, distinct text 0") {
    // doc 1: "a b c d e f" twice -> 8 gram positions, the two grams
    // "a b c d e" and "b c d e f" occur twice each -> 4/8 duplicated.
    // doc 2: all-distinct tokens -> every gram unique -> 0.
    // doc 3: shorter than 5 tokens -> no gram positions, absent.
    val q = graft.SparkEntry.queries("q96_dup_ngram_fraction")
    val dir = java.nio.file.Files.createTempDirectory("q96spec").toString
    Seq((1L, "a b c d e f a b c d e f", "en", "web", 0L),
      (2L, "one two three four five six seven eight", "en", "web", 0L),
      (3L, "too short here", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q(spark, dir).select("doc_id", "n_pos", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out === List((1L, 8L, 4L, 0.5), (2L, 4L, 0L, 0.0)), out)
  }

  test("chunk-dedup cleaning keeps first occurrence, rebuilds clean text") {
    // docs 1 and 2 share an identical first 10-token chunk; the copy in
    // doc 2 (later (doc_id, idx)) is dropped, doc 1's original survives.
    // doc 3 is one unique partial chunk — untouched.
    val shared = "a b c d e f g h i j"
    val q = graft.SparkEntry.queries("q102_chunk_dedup_clean")
    val dir = java.nio.file.Files.createTempDirectory("q102spec").toString
    Seq((1L, s"$shared k l m n o p q r s t", "en", "web", 0L),
      (2L, s"$shared u v w x y z a1 b1 c1 d1", "en", "web", 0L),
      (3L, "zz yy xx", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q(spark, dir)
      .as[(Long, Long, Long, String)].collect().toList
    assert(out === List(
      (1L, 2L, 2L, s"$shared k l m n o p q r s t"),
      (2L, 2L, 1L, "u v w x y z a1 b1 c1 d1"),
      (3L, 1L, 1L, "zz yy xx")), out)
  }

  test("rag chunking: stride-24/window-32, tail window reaches last token") {
    // doc 1: 40 tokens -> starts 0 and 24; chunk 0 = t1..t32 (32 tokens),
    // chunk 1 = t25..t40 (16 tokens, 8-token overlap with chunk 0).
    // doc 2: 3 tokens -> a single whole-doc chunk.
    val ts = (1 to 40).map(i => s"t$i")
    val q = graft.SparkEntry.queries("q104_rag_chunks")
    val dir = java.nio.file.Files.createTempDirectory("q104spec").toString
    Seq((1L, ts.mkString(" "), "en", "web", 0L),
      (2L, "x y z", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q(spark, dir).as[(Long, Int, Int, String)].collect().toList
    assert(out === List(
      (1L, 0, 32, ts.take(32).mkString(" ")),
      (1L, 1, 16, ts.drop(24).mkString(" ")),
      (2L, 0, 3, "x y z")), out)
  }

  test("secret scan: mixed high-entropy key flagged and redacted; " +
      "repeated-char and short tokens pass through (q123)") {
    val dir = java.nio.file.Files.createTempDirectory("q123spec").toString
    // doc 1: a real-looking key (flagged) + a 22-char all-'a' token
    // (candidate charset but no digits, ratio 1/22 — NOT flagged) + short
    // tokens. doc 13: gets the deterministic planted secret appended.
    Seq((1L, "call Abcdef123456789012345 with aaaaaaaaaaaaaaaaaaaaaa now"),
        (13L, "plain words only"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q123_secret_scan")(spark, dir)
      .as[(Long, Int, Int, String)].collect().toList
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val planted = "sk" + md5hex("13")
    assert(out.map(r => (r._1, r._2, r._3)) ==
      List((1L, 2, 1), (13L, 1, 1)), out)
    assert(out(0)._4 ==
      md5hex("call [SECRET] with aaaaaaaaaaaaaaaaaaaaaa now"))
    // the planted 34-char hex key must itself be caught and redacted
    assert(planted.length == 34)
    assert(out(1)._4 == md5hex("plain words only [SECRET]"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("written exact-dedup hash index: probe finds exactly the " +
      "text-equal cross pairs, bucket layout is shuffle-free (q121)") {
    val d = sf
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val cut = math.floor(
      (docs.agg(max(col("doc_id"))).as[Long].head() + 1) * 0.8).toLong
    def norm(c: org.apache.spark.sql.Column) =
      regexp_replace(lower(trim(c)), "\\s+", " ")
    // expected = direct normalized-text equi-join, a different formulation
    // from the hash-index probe under test
    val snap = docs.filter(col("doc_id") < cut)
    val inc = docs.filter(col("doc_id") >= cut)
      .unionByName(snap.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val expected = snap.select(col("doc_id").as("snap_id"), norm(col("text")).as("t"))
      .join(inc.select(col("doc_id").as("inc_id"), norm(col("text")).as("t")), "t")
      .select("snap_id", "inc_id").as[(Long, Long)].collect().toSet
    // every 7th snapshot doc was re-crawled — its planted pair must exist
    val planted = snap.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id")).as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(planted.nonEmpty && planted.subsetOf(expected))
    val got = TextOps.exactDedupIncremental(spark, d)
      .as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // the index table's hash-bucket layout satisfies a probe-side
    // aggregation outright — repeated gate runs pay zero index-side shuffle
    val agg = spark.table("graft_exact_hash_index")
      .groupBy(col("text_hash")).agg(count(lit(1)))
    assert(!agg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
  }

  test("TextNormalize: NFC composes, controls strip (tab/newline survive), " +
      "space runs collapse, trim is space-only, plan stays codegen") {
    // chars built with toChar, not escapes, so the intent is unambiguous
    val acute = 0x0301.toChar   // combining acute: "e"+acute NFC→ é
    val eAcute = 0x00e9.toChar  // composed é
    val bel = 7.toChar; val del = 0x7f.toChar; val cr = 13.toChar
    val nl = 10.toChar; val tab = 9.toChar
    val rows = Seq(
      (1L, s"caf e$acute"),                         // NFC composition
      (2L, s"  ab $tab  c$bel$del$cr${nl}d  "),     // strip + collapse + trim
      (3L, s"${nl}x$tab${tab}y$nl"),                // \n survives untrimmed
      (4L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val out = rows
      .select(col("id"),
        graft.expr.TextNormalize.textNormalize(col("s")).as("n"))
      .orderBy("id").as[(Long, String)].collect().toList
    assert(out == List(
      (1L, s"caf $eAcute"),
      (2L, s"ab c${nl}d"),
      (3L, s"${nl}x y$nl"),
      (4L, null)),
      out.map { case (i, v) => (i, Option(v).map(_.map(_.toInt))) })
    // native expression, not a UDF: no ScalaUDF node, projection stays
    // inside whole-stage codegen (repartition first — a bare select over a
    // LocalRelation is eagerly folded by ConvertToLocalRelation and would
    // assert nothing)
    val ndf = rows.repartition(2)
      .select(graft.expr.TextNormalize.textNormalize(col("s")))
    ndf.collect() // materialize so AQE finalizes and codegen spans render
    val qe = ndf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!qe.contains("ScalaUDF"), qe)
    // the tree string renders whole-stage-codegen spans as "*(n) "
    assert("""\*\(\d+\) Project""".r.findFirstIn(qe).isDefined, qe)
  }

  test("CMS maintenance: merge+retraction equal the live rebuild, " +
      "estimates one-sided and banded, and the sketch is LINEAR over " +
      "any split (q196)") {
    val out = SparkEntry.queries("q196_cms_frequency")(spark, sf)
      .as[(String, Long, Boolean, Boolean, Boolean)].collect()
    assert(out.length === 20)
    out.foreach { case (t, n, meq, over, band) =>
      assert(n > 0, s"$t exact df $n")
      assert(meq, s"$t: merged sketch != live rebuild")
      assert(over, s"$t: CMS underestimated — linearity broken")
      assert(band, s"$t: estimate outside the 4N/w band")
    }
    // linearity generalized past the 80/20+retraction split the query
    // runs with: sketches over ANY disjoint 3-way doc split SUM to the
    // direct one-pass sketch, bucket-for-bucket
    val sh = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr("""array_distinct(transform(
          sequence(1, greatest(size(filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')) - 2, 0)),
          i -> concat_ws(' ',
            element_at(filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''), i),
            element_at(filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''), i + 1),
            element_at(filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''), i + 2))))""")
          .as("sh"))
      .persist()
    val direct = TextOps.cmsOf(TextOps.shingleDfCounts(sh))
    val summed = TextOps.cmsSummed(
      (0 to 2).map(p => TextOps.cmsOf(TextOps.shingleDfCounts(
        sh.filter(col("doc_id") % 3 === p)))).reduce(_ unionByName _))
    val mism = direct.select(col("r"), col("b"), col("cnt").as("cd"))
      .join(summed.select(col("r"), col("b"), col("cnt").as("cs")),
        Seq("r", "b"), "full_outer")
      .filter(coalesce(col("cd"), lit(0L)) =!= coalesce(col("cs"), lit(0L)))
      .count()
    assert(mism === 0L, s"$mism buckets differ between direct and summed")
    // retraction round-trip: (A ⊕ B) ⊖ B == A exactly
    val a = TextOps.cmsOf(TextOps.shingleDfCounts(
      sh.filter(col("doc_id") % 3 === 0)))
    val b = TextOps.cmsOf(TextOps.shingleDfCounts(
      sh.filter(col("doc_id") % 3 =!= 0)))
    val roundTrip = TextOps.cmsSummed(direct.unionByName(
      b.select(col("r"), col("b"), (-col("cnt")).as("cnt"))))
      .filter(col("cnt") =!= 0L)
    val back = roundTrip.select(col("r"), col("b"), col("cnt").as("cr"))
      .join(a.select(col("r"), col("b"), col("cnt").as("ca")),
        Seq("r", "b"), "full_outer")
      .filter(coalesce(col("cr"), lit(0L)) =!= coalesce(col("ca"), lit(0L)))
      .count()
    sh.unpersist()
    assert(back === 0L, s"$back buckets differ after retraction round-trip")
  }

  test("KMV overlap: every pair estimate in band, merge identity holds, " +
      "and per-source state is bounded by k (q198)") {
    val out = SparkEntry.queries("q198_kmv_overlap")(spark, sf)
      .as[(String, String, Double, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b, j, band, meq) =>
      assert(j > 0.0 && j <= 1.0, s"($a,$b) j_exact $j")
      assert(band, s"($a,$b): KMV estimate outside ±0.12 of $j")
      assert(meq, s"($a,$b): signature-union bottom-k != full rebuild")
    }
    // state bound: no source's signature exceeds k rows
    val posts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        explode(TextOps.toks(col("text"))).as("t")).distinct()
      .select(col("source"), TextOps.kmvHash(col("t")).as("h"))
    val maxSig = TextOps.kmvSignatures(posts)
      .groupBy(col("source")).count().agg(max(col("count")))
      .as[Long].head()
    assert(maxSig <= TextOps.KmvK, s"signature size $maxSig > k")
  }

  test("Pareto frontier: golden points (same-a and equal-b dominance), " +
      "and grid prune + window test equal the brute NOT-EXISTS on " +
      "random data (q201)") {
    // (3,3) is dominated by (4,3) (greater a, equal b); (5,1) occurs
    // twice (multiplicity 2, undominated); the rest form the frontier
    val pts = Seq((5L, 1L), (4L, 3L), (3L, 3L), (2L, 8L), (1L, 9L),
      (5L, 1L)).toDF("a", "b")
    val out = TextOps.paretoFrontier2D(pts)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((5L, 1L, 2L), (4L, 3L, 1L), (2L, 8L, 1L),
      (1L, 9L, 1L)), out)
    // random cloud: the relational path must equal the O(n^2) dominance
    // definition computed directly
    val rng = new scala.util.Random(7)
    val rand = Seq.fill(3000)(
      (rng.nextInt(500).toLong, rng.nextInt(500).toLong))
    val fast = TextOpsSpecHelper.frontierOf(rand, spark)
    val dist = rand.groupBy(identity).map { case (k, v) =>
      (k._1, k._2, v.size.toLong) }.toSet
    val brute = dist.filter { case (a, b, _) =>
      !dist.exists { case (a2, b2, _) =>
        a2 >= a && b2 >= b && (a2 > a || b2 > b) } }
    assert(fast === brute)
  }

  test("frontier merge theorem with multiplicities: " +
      "frontier(frontier(A) ∪ B) == frontier(A ∪ B) over random 3-way " +
      "splits (q203/q204)") {
    val rng = new scala.util.Random(13)
    val all = Seq.fill(2000)(
      (rng.nextInt(200).toLong, rng.nextInt(200).toLong, rng.nextInt(3)))
    def counts(part: Int => Boolean) =
      all.filter(t => part(t._3)).map(t => (t._1, t._2)).toDF("a", "b")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_docs"))
    val direct = TextOps.frontierOfCounts(counts(_ => true))
      .as[(Long, Long, Long)].collect().toSet
    // fold the splits in one at a time through the stored-frontier form;
    // the three nested calls compose ONE plan, so they share one run scope
    val merged = graft.ops.RunScope.keyed("TextOpsSpec.frontierMerge") {
      TextOps.frontierOfCounts(
        TextOps.frontierOfCounts(
          TextOps.frontierOfCounts(counts(_ == 0)).unionByName(counts(_ == 1)))
          .unionByName(counts(_ == 2)))
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(merged === direct,
      s"missing=${(direct -- merged).take(3)} extra=${(merged -- direct).take(3)}")
  }
}

private object TextOpsSpecHelper {
  def frontierOf(rand: Seq[(Long, Long)],
      spark: org.apache.spark.sql.SparkSession): Set[(Long, Long, Long)] = {
    import spark.implicits._
    graft.ops.TextOps.paretoFrontier2D(rand.toDF("a", "b"))
      .as[(Long, Long, Long)].collect().toSet
  }
}
