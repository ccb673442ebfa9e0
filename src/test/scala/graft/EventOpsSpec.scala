package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** Golden-input tests for the event operators: sessionization gap edges and
  * as-of join boundary behavior, on hand-built event tables where the
  * right answer is computable by eye.
  */
class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def eventsDir(rows: Seq[(Long, Timestamp, Long, String, Double, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("sessionize: gap exactly 30min starts a new session; <=30min does not") {
    val d = eventsDir(Seq(
      (0L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-01 10:29:59"), 1L, "view", 1.0, "{}"), // same session
      (2L, ts("2024-01-01 11:00:00"), 1L, "view", 1.0, "{}"), // 30:01 gap → new
      (3L, ts("2024-01-01 11:30:00"), 1L, "view", 1.0, "{}"), // exactly 1800 → NOT new (> test)
      (4L, ts("2024-01-01 23:00:00"), 2L, "view", 1.0, "{}")))
    val out = SparkEntry.queries("q53_sessionize")(spark, d)
      .select("user_id", "n_sessions", "n_events")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // user 1: sessions {0,1}, {2,3}; user 2: {4}
    assert(out(1L) == ((2L, 4L)))
    assert(out(2L) == ((1L, 1L)))
  }

  test("as-of join: purchase with no prior click gets null; ties at equal ts match") {
    val d = eventsDir(Seq(
      (0L, ts("2024-01-01 09:00:00"), 1L, "purchase", 5.0, "{}"), // no prior click
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-01 10:00:00"), 1L, "purchase", 7.0, "{}"), // same-ts click counts
      (3L, ts("2024-01-01 12:00:00"), 1L, "purchase", 9.0, "{}"), // latest click = 10:00
      (4L, ts("2024-01-01 08:00:00"), 2L, "click", 0.0, "{}"),
      (5L, ts("2024-01-01 09:30:00"), 2L, "purchase", 3.0, "{}")))
    val out = SparkEntry.queries("q54_asof_join")(spark, d)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val clickAt10 = ts("2024-01-01 10:00:00").getTime / 1000
    val clickAt8 = ts("2024-01-01 08:00:00").getTime / 1000
    assert(out(0L) == -1L)          // nothing before 09:00
    assert(out(2L) == clickAt10)    // click at the same instant
    assert(out(3L) == clickAt10)    // most recent, not any earlier one
    assert(out(5L) == clickAt8)
  }

  test("session_window and manual sessionization agree on the testdata") {
    val d = "/root/testdata/sf0.001"
    val manual = SparkEntry.queries("q53_sessionize")(spark, d)
      .select("user_id", "n_sessions").as[(Long, Long)].collect().toMap
    val builtin = SparkEntry.queries("q55_session_window")(spark, d)
      .select("user_id", "n_sessions").as[(Long, Long)].collect().toMap
    // q53 uses gap > 1800s, q55 uses >= 1800s (half-open session_window
    // semantics); on continuous-ts data exact-1800 gaps are absent, so the
    // two must agree everywhere
    assert(manual == builtin)
  }

  test("banded range join equals the naive range join, incl. boundaries") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(11)
    val base = 1700000000L
    // deliberately include exact-boundary gaps (0s, 1800s) and jittered ones
    val left = (0 until 200).map(i =>
      (i.toLong % 7, base + rng.nextInt(36000).toLong))
      .toDF("user_id", "e").select(col("user_id"),
        timestamp_seconds(col("e")).as("v_ts"))
    val right = (0 until 300).map { i =>
      val off = Seq(0L, 900L, 1800L, 1801L, 5000L)(rng.nextInt(5))
      (i.toLong % 7, base + rng.nextInt(36000).toLong + off)
    }.toDF("user_id", "e").select(col("user_id"),
      timestamp_seconds(col("e")).as("c_ts"))
    val banded = graft.ops.EventOps.bandedRangeJoin(left, right,
        "v_ts", "c_ts", 0L, 1800L, Seq("user_id"))
      .select("user_id", "v_ts", "c_ts").collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    val naive = left.join(right, Seq("user_id"))
      .filter(col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1800 SECOND"))
      .select("user_id", "v_ts", "c_ts").collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    assert(banded.nonEmpty && banded == naive)
  }

  test("funnel counts only stages reached in timestamp order") {
    // u1 completes the funnel in order; u2's only click precedes their
    // first view (ordered-funnel must NOT count the later purchase);
    // u3 clicks after viewing but purchases BEFORE that click.
    val d = eventsDir(Seq(
      (0L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:02:00"), 1L, "purchase", 9.0, "{}"),
      (3L, ts("2024-01-01 09:00:00"), 2L, "click", 1.0, "{}"),
      (4L, ts("2024-01-01 09:30:00"), 2L, "view", 1.0, "{}"),
      (5L, ts("2024-01-01 09:45:00"), 2L, "purchase", 9.0, "{}"),
      (6L, ts("2024-01-01 08:00:00"), 3L, "view", 1.0, "{}"),
      (7L, ts("2024-01-01 08:30:00"), 3L, "purchase", 9.0, "{}"),
      (8L, ts("2024-01-01 09:00:00"), 3L, "click", 1.0, "{}")))
    val out = SparkEntry.queries("q97_funnel")(spark, d)
      .as[(Long, Long, Long)].collect().toList
    assert(out === List((3L, 2L, 1L)), out)
  }

  test("retention cohorts bucket users by first-active week") {
    // Weeks of 2024-01: Mon 2024-01-01, 2024-01-08, 2024-01-15.
    // u1 first active week 0, returns week 1 and 2; u2 first active
    // week 0 only; u3 first active week 1, returns week 2.
    val d = eventsDir(Seq(
      (0L, ts("2024-01-02 10:00:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-09 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-16 10:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-03 10:00:00"), 2L, "view", 1.0, "{}"),
      (4L, ts("2024-01-10 10:00:00"), 3L, "view", 1.0, "{}"),
      (5L, ts("2024-01-17 10:00:00"), 3L, "view", 1.0, "{}")))
    val out = SparkEntry.queries("q98_retention_cohorts")(spark, d)
      .as[(String, Int, Long)].collect().toList
    assert(out === List(
      ("2024-01-01", 0, 2L), ("2024-01-01", 1, 1L), ("2024-01-01", 2, 1L),
      ("2024-01-08", 0, 1L), ("2024-01-08", 1, 1L)), out)
  }

  test("event transitions count ordered next-event pairs per user") {
    // u1: view -> click -> view; u2: view -> click. Transitions:
    // view->click x2, click->view x1. From 'view' p(click)=1.0; from
    // 'click' p(view)=1.0.
    val d = eventsDir(Seq(
      (0L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:02:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 11:00:00"), 2L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 11:01:00"), 2L, "click", 1.0, "{}")))
    val out = SparkEntry.queries("q99_event_transitions")(spark, d)
      .as[(String, String, Long, Double)].collect().toList
    assert(out === List(
      ("click", "view", 1L, 1.0), ("view", "click", 2L, 1.0)), out)
  }

  test("bucketed as-of store: same rows, one less exchange than the scan") {
    val sf = "/root/testdata/sf0.001"
    def run(name: String) = SparkEntry.queries(name)(spark, sf)
    val direct = run("q54_asof_join")
    val bucketed = run("q54b_asof_join_bucketed")
    assert(bucketed.collect().toSeq == direct.collect().toSeq)
    // the precise claim: the bucket layout satisfies the window's
    // user_id distribution, so the per-user hash exchange is GONE from
    // the bucketed plan while the direct scan needs it (the direct path
    // also carries the fan-out guard's repartition; only the bucketed
    // path can drop the user_id shuffle entirely)
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    assert(!plan(bucketed).contains("hashpartitioning(user_id"),
      "bucketed plan still shuffles on user_id")
    assert(plan(direct).contains("hashpartitioning(user_id"),
      "direct plan unexpectedly lost its user_id exchange")
  }

  test("winsorize: outliers clamp to the histogram band, interior values " +
      "pass through, report matches a direct replication of the rule") {
    // type "t": 100 uniform values 1..100 plus one 1000.0 spike; the p95
    // boundary bin sits far below the spike, so it must clamp
    val vals = (1 to 100).map(_.toDouble) :+ 1000.0
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts("2024-01-01 10:00:00"), 1L, "t", v, "{}")
    }
    val d = eventsDir(rows)

    // direct replication of the mechanism (same IEEE expression order)
    val mn = vals.min; val mx = vals.max; val n = vals.size
    def bin(v: Double) =
      math.min(math.floor((v - mn) / (mx - mn) * 128), 127.0).toInt
    val hist = vals.groupBy(bin).view.mapValues(_.size).toMap
    val cums = (0 to 127).scanLeft(0) { (acc, b) =>
      acc + hist.getOrElse(b, 0) }.tail
    def boundary(q: Double) =
      (0 to 127).find(b => cums(b) >= n * q).get
    val step = (mx - mn) / 128
    val lo = mn + boundary(0.05) * step
    val hi = mn + (boundary(0.95) + 1) * step
    val clamped = vals.map(v => math.min(math.max(v, lo), hi))
    val expMean = clamped.map(c => math.floor(c * 10000).toLong)
      .sum.toDouble / clamped.size
    val exp = ("t", n.toLong,
      BigDecimal(lo).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(hi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      vals.count(_ < lo).toLong, vals.count(_ > hi).toLong,
      BigDecimal(expMean / 10000)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

    val out = SparkEntry.queries("q156_winsorize")(spark, d)
      .as[(String, Long, Double, Double, Long, Long, Double)]
      .collect().toList
    assert(out === List(exp), out)
    // the spike was actually tamed: clamp_hi far below 1000
    assert(out.head._4 < 500.0, out.head)
    assert(out.head._6 >= 1L, "the 1000.0 spike must count as clamped")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("winsorize maintenance: merged histogram bounds equal binning ALL " +
      "rows under the frozen grid; out-of-grid increment rows are counted") {
    // snapshot ids 0..79 (values 1..80), increment ids 80..99 with two
    // out-of-grid values (0.5 below mn=1, 500 above mx=80)
    val rows = (0 until 80).map(i =>
      (i.toLong, ts("2024-01-01 10:00:00"), 1L, "t", (i + 1).toDouble,
        "{}")) ++
      (80 until 98).map(i =>
        (i.toLong, ts("2024-01-01 10:00:00"), 1L, "t", 40.0, "{}")) ++
      Seq((98L, ts("2024-01-01 10:00:00"), 1L, "t", 0.5, "{}"),
        (99L, ts("2024-01-01 10:00:00"), 1L, "t", 500.0, "{}"))
    val d = eventsDir(rows)
    val out = SparkEntry.queries("q158_winsorize_maintain")(spark, d)
      .as[(String, Long, Double, Double, Long)].collect().toList
    assert(out.size == 1 && out.head._1 == "t", out)
    assert(out.head._2 === 100L)          // merged total counts all rows
    assert(out.head._5 === 2L, out.head)  // both out-of-grid rows counted
    // the maintained bounds must equal a from-scratch pass over ALL rows
    // binned under the SNAPSHOT grid (the maintenance invariant)
    import graft.ops.EventOps
    val ev = graft.schema.Tables.events(spark, d)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
    val snapGrid = ev.filter(col("event_id") < 80)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val ref = EventOps.winsorBoundsFromHist(
        EventOps.winsorHistUnderGrid(
          ev.select(col("event_type"), col("value")), snapGrid))
      .select(col("event_type"), round(col("lo"), 6).as("lo"),
        round(col("hi"), 6).as("hi"))
      .as[(String, Double, Double)].collect().toList
    assert(ref === List(("t", out.head._3, out.head._4)), (ref, out))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("moment maintenance: merged snapshot+increment moments equal the " +
      "from-scratch q172 statistics exactly") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{col => c}
    val maintained = SparkEntry.queries("q178_zscore_maintain")(spark, sf)
      .as[(String, Long, Double, Double)].collect().toSet
    val scratch = SparkEntry.queries("q172_zscore_outliers")(spark, sf)
      .select(c("event_type"), c("n_events"), c("mean_value"),
        c("std_value"))
      .as[(String, Long, Double, Double)].collect().toSet
    assert(maintained === scratch)
    assert(maintained.nonEmpty)
  }

  test("last-touch attribution: latest in-window touch gets the credit, " +
      "stale touches and touchless purchases fall to direct") {
    val d = eventsDir(Seq(
      // user 1: view then click then purchase → click credited
      (0L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (1L, ts("2024-01-02 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-03 10:00:00"), 1L, "purchase", 10.0, "{}"),
      // user 1 second purchase 10 days after the click → direct (stale)
      (3L, ts("2024-01-12 11:00:00"), 1L, "purchase", 20.0, "{}"),
      // user 2: purchase with no touch at all → direct
      (4L, ts("2024-01-03 10:00:00"), 2L, "purchase", 5.0, "{}"),
      // user 3: view then in-window purchase → view credited
      (5L, ts("2024-01-01 10:00:00"), 3L, "view", 0.0, "{}"),
      (6L, ts("2024-01-05 10:00:00"), 3L, "purchase", 7.5, "{}")))
    val out = SparkEntry.queries("q175_attribution")(spark, d)
      .as[(String, Long, Long)].collect().toList
    assert(out === List(
      ("click", 1L, 1000L),
      ("direct", 2L, 2500L),
      ("view", 1L, 750L)), out)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("z-score outliers: exact integer moments, the planted spike flags, " +
      "tight values do not") {
    // 100 values at 10.00 ± 0.02 and one 50.00 spike: std is small, the
    // spike sits far beyond 3 sigma, nothing else does
    val rows = (0 until 100).map(i =>
      (i.toLong, ts("2024-01-01 10:00:00"), 1L, "t",
        10.0 + (i % 5 - 2) * 0.01, "{}")) :+
      (100L, ts("2024-01-01 10:00:00"), 1L, "t", 50.0, "{}")
    val d = eventsDir(rows)
    val out = SparkEntry.queries("q172_zscore_outliers")(spark, d)
      .as[(String, Long, Long, Double, Double)].collect().toList
    assert(out.size == 1 && out.head._1 == "t")
    assert(out.head._2 === 101L)
    assert(out.head._3 === 1L, out.head) // exactly the spike
    assert(math.abs(out.head._4 - 10.4) < 0.2, out.head) // mean pulled up
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("median imputation: planted nulls fill with the histogram p50 " +
      "edge; report matches a direct replication of the rule") {
    // ids 0..100, values 1..101; ids 0,13,26,...,91 null out (8 fills)
    val vals = (0 until 101).map(i => (i.toLong, (i + 1).toDouble))
    val rows = vals.map { case (id, v) =>
      (id, ts("2024-01-01 10:00:00"), 1L, "t", v, "{}") }
    val d = eventsDir(rows)
    // replicate: histogram median over NON-null values (same IEEE order)
    val present = vals.filterNot(_._1 % 13 == 0).map(_._2)
    val mn = present.min; val mx = present.max
    def bin(v: Double) = math.max(
      math.min(math.floor((v - mn) / (mx - mn) * 128), 127.0), 0.0).toInt
    val hist = present.groupBy(bin).view.mapValues(_.size).toMap
    val cums = (0 to 127).scanLeft(0) { (a, b) =>
      a + hist.getOrElse(b, 0) }.tail
    val medBin = (0 to 127).find(b => cums(b) >= present.size * 0.5).get
    val med = mn + medBin * ((mx - mn) / 128)
    val filled = vals.map { case (id, v) => if (id % 13 == 0) med else v }
    val expMean = BigDecimal(filled.map(v =>
        math.floor(v * 10000).toLong).sum.toDouble / filled.size / 10000)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = SparkEntry.queries("q166_impute_median")(spark, d)
      .as[(String, Long, Long, Double, Double)].collect().toList
    assert(out === List(("t", 101L, 8L,
      BigDecimal(med).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, expMean)), (out, med))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("event debounce: rapid repeats in a (user, type) lane drop; " +
      "lane boundaries and slow events keep") {
    val d = eventsDir(Seq(
      // user 1, type a: burst of 3 within the hour → keep first only
      (0L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0, "{}"),
      (1L, ts("2024-01-01 10:10:00"), 1L, "a", 1.0, "{}"),
      (2L, ts("2024-01-01 10:59:59"), 1L, "a", 1.0, "{}"),
      // then a >1h gap → keep
      (3L, ts("2024-01-01 12:00:00"), 1L, "a", 1.0, "{}"),
      // user 2 same type, same instant as user 1's burst → own lane, keep
      (4L, ts("2024-01-01 10:10:00"), 2L, "a", 1.0, "{}"),
      // user 1 type b inside the burst window → own lane, keep
      (5L, ts("2024-01-01 10:10:00"), 1L, "b", 1.0, "{}")))
    val out = SparkEntry.queries("q162_event_debounce")(spark, d)
      .as[(String, Long, Long, Long, Double)].collect().toList
    assert(out === List(
      ("a", 5L, 3L, 2L, math.floor(2.0 / 5 * 10000) / 10000),
      ("b", 1L, 1L, 0L, 0.0)), out)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("bottom-k sketch: merge of any split equals the full build, " +
      "re-ingest is a no-op, and the estimate is the sample-rank element") {
    import graft.ops.EventOps
    // 500 rows, one group — big enough that bottom-128 is a real subset
    val rows = (0L until 500L).map(i =>
      (i, ts("2024-01-01 10:00:00"), 1L, "a", i.toDouble, "{}"))
    val d = eventsDir(rows)
    val ev = EventOps.hashedValues(spark, d)
    val full = EventOps.bottomKOf(ev)
    val fullIds = full.select("event_id").as[Long].collect().toSet
    assert(fullIds.size === 128)
    // merge theorem at three arbitrary split points (incl. lopsided)
    for (cut <- Seq(1L, 137L, 499L)) {
      val a = EventOps.bottomKOf(ev.filter(col("event_id") < cut))
      val b = EventOps.bottomKOf(ev.filter(col("event_id") >= cut))
      val merged = EventOps.bottomKOf(
        a.unionByName(b).dropDuplicates("event_type", "event_id"))
      assert(merged.select("event_id").as[Long].collect().toSet ===
        fullIds, s"cut=$cut")
    }
    // per-item idempotence: re-ingesting the whole corpus into an
    // existing sketch moves nothing once set-union dedups the keys
    val reIngested = EventOps.bottomKOf(
      full.unionByName(EventOps.bottomKOf(ev))
        .dropDuplicates("event_type", "event_id"))
    assert(reIngested.select("event_id").as[Long].collect().toSet ===
      fullIds)
    // the estimate is the value at rank ceil(q·sn) of the value-sorted
    // sample — recomputed by hand from the sketch rows
    val sampleVals = full.select("value").as[Double].collect().sorted
    val est = EventOps.bottomKVerifiedQuantiles(spark, ev, full)
      .select("est_p50", "est_p90").as[(Double, Double)].head()
    assert(est._1 === sampleVals((128 + 1) / 2 - 1))
    assert(est._2 === sampleVals((128 * 9 + 9) / 10 - 1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("bottom-k verified quantiles: the corpus-sized verification legs " +
      "run only under the linear gate; above it the serve is sketch-sized " +
      "with the verified=false sentinel (VERDICT r14 #1)") {
    import graft.ops.{EventOps, Gates}
    def evOf(n: Long) = EventOps.hashValues(
      spark.range(0L, n).selectExpr("id AS event_id",
        "'a' AS event_type", "CAST(id % 97 AS DOUBLE) AS value"))
    // below the gate: measured invariants, verified = true
    val small = evOf(500L)
    val vSmall = EventOps.bottomKVerifiedQuantiles(spark, small,
      EventOps.bottomKOf(small))
      .select("sn", "merge_equals_full", "p50_ok", "p90_ok", "verified")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].head()
    assert(vSmall === ((128L, true, true, true, true)))
    // above the gate: same schema, verified = false, and the plan holds
    // NO second scan of the corpus — the only corpus-sized leg is the
    // gate probe (a bounded collect) and the merged sketch the caller built
    val big = evOf(Gates.MaxRowsLinear + 1)
    val dfBig = EventOps.bottomKVerifiedQuantiles(spark, big,
      EventOps.bottomKOf(big))
    val vBig = dfBig
      .select("sn", "merge_equals_full", "p50_ok", "p90_ok", "verified")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].head()
    assert(vBig === ((128L, true, true, true, false)))
    // estimates stay real data elements in both branches
    assert(dfBig.select("est_p50", "est_p90")
      .as[(Double, Double)].head()._1 >= 0.0)
  }

  test("CUSUM surfaces a type born after the baseline cut as a " +
      "zero-baseline row instead of dropping it (VERDICT r14 #6)") {
    // type "a": 10 days of history (cut lands at day 8 = d0+7);
    // type "z": first event ON the cut day — no baseline (n, B)
    val base = (0 until 10).map { i =>
      (i.toLong, ts(f"2024-01-${i + 1}%02d 10:00:00"), 1L, "a", 1.0, "{}")
    }
    val born = Seq(
      (100L, ts("2024-01-09 10:00:00"), 2L, "z", 1.0, "{}"),
      (101L, ts("2024-01-10 10:00:00"), 2L, "z", 1.0, "{}"))
    val d = eventsDir(base ++ born)
    val out = SparkEntry.queries("q199_cusum_changepoint")(spark, d)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.isNullAt(2), r.isNullAt(3)))).toMap
    // "a" scores normally: span 01-01..01-10 puts the cut at day
    // d0 + floor(9*0.8) = 01-08, so baseline days 01-01..01-07 => n=7
    assert(out("a")._1 === 7L)
    assert(!out("a")._2)
    // "z" SURFACES: zero baseline days, null score, null alarm — the
    // "new type, no history" signal the inner join used to swallow
    assert(out("z") === ((0L, true, true)))
  }

  test("CUSUM: the prefix-min reflection equals the sequential " +
      "max(0, .) fold exactly, and alarms fire only after the planted " +
      "surge (q199)") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q199_cusum_changepoint")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSeq
    assert(out.length === 5)
    // recompute per type with the literal sequential recursion the
    // relational plan re-expresses — S_i = max(0, S_{i-1} + y_i) —
    // and compare max_s and the first alarm index exactly
    val daily = graft.schema.Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c0"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2)))
    val d0 = daily.map(_._2).min
    val d1 = daily.map(_._2).max
    val cutIdx = math.floor(
      java.time.temporal.ChronoUnit.DAYS.between(d0, d1) * 0.8).toInt
    out.foreach { case (t, nOut, maxsOut, alarmOut) =>
      val series = daily.filter(_._1 == t).sortBy(_._2).map { case (_, dy, c) =>
        val idx = java.time.temporal.ChronoUnit.DAYS.between(d0, dy).toInt
        (idx, if (idx >= cutIdx) c * 3 else c, c)
      }
      val base = series.filter(_._1 < cutIdx)
      val n = base.length.toLong
      val bsum = base.map(_._3).sum
      var s = 0L; var maxS = 0L; var alarm: Option[Int] = None
      series.foreach { case (idx, x, _) =>
        s = math.max(0L, s + 4L * n * x - 5L * bsum)
        maxS = math.max(maxS, s)
        if (alarm.isEmpty && s >= 12L * bsum) alarm = Some(idx)
      }
      assert(nOut === n, s"$t baseline days")
      assert(maxsOut === maxS, s"$t: reflection != sequential fold")
      assert(alarmOut === alarm, s"$t alarm index")
      assert(alarm.nonEmpty, s"$t never alarmed despite the 3x surge")
      alarm.foreach(a => assert(a >= cutIdx,
        s"$t false alarm at $a before the surge at $cutIdx"))
    }
  }
}
