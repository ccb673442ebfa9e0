package graft.ops

import graft.Q
import graft.schema.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance: a written aggregate table
  * kept current by merging PARTIAL AGGREGATE STATES from new data only —
  * history is never rescanned.
  *
  * The algebra: every column in the view is either algebraic (count/sum —
  * merged by summing states), derived (avg = sum/count — recomputed from
  * merged states at read), or a MERGEABLE SKETCH (distinct counts via
  * DataSketches HLL: `hll_sketch_agg` states union with `hll_union_agg`
  * and estimate at read). Nothing in the view requires the raw rows again,
  * which is the property that makes maintenance cost ∝ increment.
  *
  * Exactness discipline: money sums are carried as integer CENTS
  * (`round(price·100)` → BIGINT), so split-then-merge equals
  * aggregate-once bit-for-bit in any split/order — the float-associativity
  * hazard of maintaining a double sum across increments never arises.
  * Derived doubles (revenue, avg) are computed once at read from exact
  * integers, identically in both engines.
  *
  * Scale (100 TB): the view is group-count-sized; maintenance reads the
  * increment (one partition/day) plus the view — never the fact history.
  * With the view stored partitioned by group key prefix, the merge
  * touches only groups present in the increment (dynamic partition
  * overwrite, the q21 posture). The HLL state is ~1.5 KB/group at
  * lgK=12 regardless of fact cardinality.
  */
object MaterializedViewOps {

  private val cents =
    expr("CAST(round(o_totalprice * 100) AS BIGINT)")

  /** Partial-aggregate state of the orders revenue view for any slice of
    * the fact table: one row per (month, status) with algebraic counters
    * and the HLL customer sketch. */
  def revenueState(orders: DataFrame): DataFrame =
    orders.groupBy(
        // string month key: a DATE column round-trips through the
        // driver's pandas compare as datetime.date on the Spark side but
        // datetime64 on the DuckDB side — strings compare byte-exact
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(cents).as("cents"),
        hll_sketch_agg(col("o_custkey"), lit(12)).as("cust_hll"))

  /** Merge any number of state slices into one consistent state: sum the
    * algebraic counters, union the sketches. Associative + commutative,
    * so increments can land in any order or grouping. */
  def mergeStates(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("month"), col("status"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"),
        hll_union_agg(col("cust_hll"), lit(true)).as("cust_hll"))

  /** Serve the view: derived columns from exact integer states, distinct
    * customers from the sketch estimate. */
  def serveView(state: DataFrame): DataFrame =
    state.select(col("month"), col("status"), col("n"),
      round(col("cents") / 100.0, 2).as("revenue"),
      round(col("cents") / (col("n") * 100.0), 2).as("avg_price"),
      hll_sketch_estimate(col("cust_hll")).as("cust_ndv_est"))

  /** Histogram bin width in cents ($100): the quantile view's resolution
    * knob. Integer-division binning (`div`) keeps the whole structure in
    * exact BIGINT arithmetic — no float boundary can disagree between
    * engines or between increments. */
  private val BinW = 10000L

  /** Mergeable quantile state: per-(month, status) FIXED-BIN integer
    * histogram, stored relationally as (month, status, bin, cnt) rows.
    * This is the missing member of the mergeable-stat family (count/sum
    * merge by addition, NDV by HLL union — quantiles by ADDING BIN
    * COUNTS): constant-space per group (≤ domain/BinW bins), and
    * split-then-merge equals aggregate-once EXACTLY, not approximately,
    * because the bins are fixed a priori — unlike a t-digest, whose
    * merge drifts with input order. Estimation error is bounded by one
    * bin width by construction. */
  def priceHistogramState(orders: DataFrame): DataFrame =
    orders.groupBy(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus").as("status"),
        expr(s"CAST(round(o_totalprice * 100) AS BIGINT) div $BinW")
          .as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge histogram-state slices: bins add. Associative + commutative. */
  def mergeHistogramStates(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("month"), col("status"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Serve p50/p95/p99 from the merged histogram: the type-1 estimate is
    * the lower edge of the bin where the cumulative count first reaches
    * ceil(q·n) — every step integer arithmetic (`div` for the ceiling),
    * so both engines and any increment split derive the identical bin.
    * The window is per-group over OCCUPIED BINS (≤ domain/BinW rows), not
    * over raw data — serving cost is view-sized at any fact scale. */
  def serveQuantiles(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n as a SECOND WINDOW over the same partition keys instead of a
    // separate aggregate joined back (round 19, profile-driven): the
    // old tot-aggregate + join added an exchange, a join and their AQE
    // stage-jobs to a view-sized serve whose whole input is occupied-bin
    // rows; both windows ride ONE exchange (same partitioning; the
    // unordered frame is the group total). PlanAuditSpec's no-partition-
    // less-window rule is satisfied — both windows key on the group.
    val grp = Window.partitionBy(col("month"), col("status"))
    val cum = state
      .withColumn("cum", sum(col("cnt")).over(grp.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(grp))
    def estBin(pct: Int) =
      min(when(col("cum") >= expr(s"(n * $pct + 99) div 100"), col("bin")))
        .as(s"b$pct")
    cum.groupBy(col("month"), col("status"), col("n"))
      .agg(estBin(50), estBin(95), estBin(99))
  }

  /** Serve the quantile view with its in-plan error-bound proof: the
    * exact type-1 percentile (verification-only linear pass over the
    * fact table, q128's exact-NDV discipline) must land in the estimated
    * bin — `pXX_ok` states it as integer bin equality. Shared by batch
    * (q139) and streaming (q140) maintenance, so the proof runs on both
    * engine paths. */
  def serveQuantilesVerified(state: DataFrame, orders: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val est = serveQuantiles(state)
    val ranked = orders.select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus").as("status"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("month"), col("status"))
          .orderBy(col("cents"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("month"), col("status"))))
    def exactAt(pct: Int) =
      min(when(col("rn") === expr(s"(n * $pct + 99) div 100"),
        col("cents"))).as(s"c$pct")
    val exact = ranked.groupBy(col("month"), col("status"))
      .agg(exactAt(50), exactAt(95), exactAt(99))
    est.join(exact, Seq("month", "status"))
      .select(
        col("month") +: col("status") +: col("n") +:
          Seq(50, 95, 99).flatMap(p => Seq(
            (col(s"b$p") * (BinW / 100.0)).as(s"p${p}_est"),
            round(col(s"c$p") / 100.0, 2).as(s"p${p}_exact"),
            (expr(s"c$p div $BinW") === col(s"b$p")).as(s"p${p}_ok"))): _*)
      .orderBy(col("month"), col("status"))
  }

  /** q139/q140's shared aggregate-once oracle. */
  val quantileMvOracle: String =
    """WITH b AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
                o_orderstatus AS status,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
              h AS (SELECT month, status, cents // 10000 AS bin,
                count(*) AS cnt FROM b GROUP BY 1, 2, 3),
              tot AS (SELECT month, status, CAST(sum(cnt) AS BIGINT) AS n
                FROM h GROUP BY 1, 2),
              cum AS (SELECT h.month, h.status, h.bin, tot.n,
                sum(cnt) OVER (PARTITION BY h.month, h.status
                  ORDER BY h.bin) AS cum
                FROM h JOIN tot USING (month, status)),
              est AS (SELECT month, status, any_value(n) AS n,
                min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END)
                  AS b50,
                min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END)
                  AS b95,
                min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END)
                  AS b99
                FROM cum GROUP BY 1, 2),
              r AS (SELECT month, status, cents,
                row_number() OVER (PARTITION BY month, status
                  ORDER BY cents) AS rn,
                count(*) OVER (PARTITION BY month, status) AS n
                FROM b),
              ex AS (SELECT month, status,
                min(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END)
                  AS c50,
                min(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END)
                  AS c95,
                min(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END)
                  AS c99
                FROM r GROUP BY 1, 2)
              SELECT month, status, n,
                b50 * 100.0 AS p50_est, round(c50 / 100.0, 2) AS p50_exact,
                c50 // 10000 = b50 AS p50_ok,
                b95 * 100.0 AS p95_est, round(c95 / 100.0, 2) AS p95_exact,
                c95 // 10000 = b95 AS p95_ok,
                b99 * 100.0 AS p99_est, round(c99 / 100.0, 2) AS p99_exact,
                c99 // 10000 = b99 AS p99_ok
              FROM est JOIN ex USING (month, status)
              ORDER BY month, status"""

  /** The served view of a revenue `state` with its NDV estimate checked
    * against the exact per-group NDV of `orders` (within max(1, 5%)):
    * q128's serve, shared with q131. The exact NDV is a verification-only
    * column (linear, one extra agg over the fact table at oracle/bench
    * SF; production serves the estimate alone — the sketch exists so the
    * exact pass is never needed). */
  private[graft] def serveViewVerified(state: DataFrame,
      orders: DataFrame): DataFrame = {
    val exact = orders.groupBy(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus").as("status"))
      .agg(countDistinct(col("o_custkey")).as("cust_ndv"))
    serveView(state).join(exact, Seq("month", "status"))
      .select(col("month"), col("status"), col("n"), col("revenue"),
        col("avg_price"), col("cust_ndv"),
        (abs(col("cust_ndv_est") - col("cust_ndv")) <=
          greatest(lit(1.0), col("cust_ndv") * 0.05))
          .as("ndv_est_ok"))
      .orderBy(col("month"), col("status"))
  }

  /** q128's aggregate-once revenue view; also q131's. */
  private[graft] val RevenueMvSql =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
              o_orderstatus AS status, count(*) AS n,
              round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0,
                2) AS revenue,
              round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                / (count(*) * 100.0), 2) AS avg_price,
              count(DISTINCT o_custkey) AS cust_ndv,
              true AS ndv_est_ok
              FROM orders
              GROUP BY 1, 2
              ORDER BY month, status"""

  val catalog: Seq[Q] = Seq(

    // ---- incremental MV maintenance (q128): the orders revenue view is
    // BUILT from 90% of the fact table and written; the remaining 10%
    // arrives as an increment and is merged state-to-state — the
    // maintenance plan's inputs are the group-sized view plus the
    // increment only (asserted in MaterializedViewSpec; by construction
    // here, since history is simply not passed to the merge). The emitted
    // view must equal the aggregate-once view EXACTLY on every algebraic
    // column — that equality IS the maintenance correctness claim, and
    // the oracle states it by aggregating once over the full table in
    // DuckDB. The sketch column is verified the measured-recall way
    // (VERDICT r10 #3): the estimate's relative error vs the exact NDV
    // (known to the oracle) is computed IN-PLAN and emitted as data with
    // a ±5% bound — a broken union would blow the bound and flip hashes.
    Q("q128_incremental_mv",
      (s, d) => {
        val store = RunScope.scratch("graft_mv_")
        val orders = Tables.orders(s, d)
        val base = orders.filter(col("o_orderkey") % 10 =!= 0)
        val increment = orders.filter(col("o_orderkey") % 10 === 0)
        revenueState(base).write.mode("overwrite").parquet(store)
        serveViewVerified(
          mergeStates(s.read.parquet(store), revenueState(increment)),
          orders)
      },
      Some(RevenueMvSql)),

    // ---- incremental QUANTILE view maintenance (q139): p50/p95/p99 of
    // order value per (month, status), maintained without rescanning
    // history — the mergeable-stat family's missing member (q128 merges
    // counts/sums/HLL; medians don't sum). State = fixed-$100-bin integer
    // histogram rows; built from 90% of the fact table, the remaining 10%
    // merges in as pure bin-count addition, and the served estimate is
    // IDENTICAL to the build-once histogram — exact merge of an
    // approximate summary (the t-digest trade, without its order-drift).
    // Every arithmetic step is BIGINT (`div` binning, `div` ceiling
    // targets), so Spark, DuckDB, and any increment split agree bit-for-
    // bit. The estimate's one-bin error bound is PROVEN in-plan: the
    // exact type-1 percentile (row_number over the full group — the
    // verification-only linear pass, q128's exact-NDV discipline) must
    // land in the estimated bin; `pXX_ok` states it as integer bin
    // equality, data the oracle re-derives. Scale: state is
    // (groups × occupied bins) rows; serving windows over bins, never
    // rows; maintenance reads increment + view only.
    Q("q139_quantile_mv",
      (s, d) => {
        val store = RunScope.scratch("graft_qmv_")
        val orders = Tables.orders(s, d)
        val base = orders.filter(col("o_orderkey") % 10 =!= 0)
        val increment = orders.filter(col("o_orderkey") % 10 === 0)
        priceHistogramState(base).write.mode("overwrite").parquet(store)
        val maintained = mergeHistogramStates(
          s.read.parquet(store), priceHistogramState(increment))
        serveQuantilesVerified(maintained, orders)
      },
      Some(quantileMvOracle))
  )
}
