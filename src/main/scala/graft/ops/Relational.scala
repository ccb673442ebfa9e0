package graft.ops

import graft.Q
import graft.schema.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.2, §2.5-2.7): filters,
  * projections, aggregations, the join family, windows, sorts/top-k, set
  * ops, rollup/cube, and the scalar-function library — all Catalyst
  * built-ins, exercised over the TPC-H-ish testdata.
  *
  * Scale posture: filters/projections push to the parquet scan; small dims
  * (region/nation/supplier, and customer vs lineitem) are broadcast
  * explicitly; large-large joins (lineitem ⋈ orders) shuffle on the join key
  * once and aggregate partially map-side. Every query orders by exact-typed
  * (int/string) keys only, so oracle comparison never depends on float
  * ordering ties.
  */
object Relational {

  /** q130's keys above 5% of the events; also q134's. */
  private[graft] val HeavyHittersSql =
    """WITH k AS (SELECT CASE WHEN event_id % 5 = 0 THEN -42
                WHEN event_id % 7 = 0 THEN -77
                WHEN event_id % 11 = 0 THEN -99
                ELSE user_id END AS key FROM events),
              n AS (SELECT count(*) AS n_total FROM k)
              SELECT key, count(*) AS cnt, n.n_total
              FROM k, n GROUP BY key, n.n_total
              HAVING count(*) * 100 >= n.n_total * 5
              ORDER BY key"""

  /** q130's keys: hot keys planted arithmetically on event_id (negative
    * ids — disjoint from real user_ids), user_id otherwise. Shared with
    * its streaming twin q134. */
  private[graft] def heavyHitterKeys(events: DataFrame): DataFrame =
    events.select(
      when(col("event_id") % 5 === 0, -42L)
        .when(col("event_id") % 7 === 0, -77L)
        .when(col("event_id") % 11 === 0, -99L)
        .otherwise(col("user_id")).as("key"))

  /** q130's serve, shared with q134: the candidate keys recounted exactly
    * over `keyed` and kept at ≥ 5% of its rows. */
  private[graft] def recountHeavyHitters(keyed: DataFrame,
      candidates: DataFrame): DataFrame = {
    val total = keyed.agg(count(lit(1)).as("n_total"))
    keyed.join(broadcast(candidates), Seq("key"), "left_semi")
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * 100L >= col("n_total") * 5L)
      .select(col("key"), col("cnt"), col("n_total"))
      .orderBy(col("key"))
  }

  val catalog: Seq[Q] = Seq(

    // ---- aggregation (TPC-H Q1 flavor): scan → filter → partial+final agg
    // Money/measure sums accumulate as PER-ROW-QUANTIZED BIGINTs (cents;
    // 1e-4 units for the discounted product), not as float sums: a float
    // sum's last digit depends on partition/merge order, and the round-13
    // sf0.1 audit caught Spark and DuckDB disagreeing by one cent on
    // sum_disc_price over 600k rows. The per-row quantize (round on an
    // identically-computed double) and the integer sum are both engine-
    // exact; the displayed values derive from the integer totals.
    Q("q01_agg",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qc"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("bc"),
          sum(expr(
            "CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)"))
            .as("dc"),
          sum(expr("CAST(round(l_discount * 10000) AS BIGINT)")).as("d4"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("qc") / 100.0, 2).as("sum_qty"),
          round(col("bc") / 100.0, 2).as("sum_base_price"),
          round(col("dc") / 10000.0, 2).as("sum_disc_price"),
          round(col("qc") / (col("count_order") * 100.0), 4).as("avg_qty"),
          round(col("d4") / (col("count_order") * 10000.0), 4)
            .as("avg_disc"),
          col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
              round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2)
                AS sum_qty,
              round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                / 100.0, 2) AS sum_base_price,
              round(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                * 10000) AS BIGINT)) / 10000.0, 2) AS sum_disc_price,
              round(sum(CAST(round(l_quantity * 100) AS BIGINT))
                / (100.0 * count(*)), 4) AS avg_qty,
              round(sum(CAST(round(l_discount * 10000) AS BIGINT))
                / (10000.0 * count(*)), 4) AS avg_disc,
              count(*) AS count_order
              FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    // ---- filter + projection: both must reach the parquet scan
    // (PushedFilters + 4-column ReadSchema in .explain)
    Q("q02_filter_project",
      // raw loader: the only exchange this query needs is its orderBy's
      // range partition — see Tables.lineitemRaw (round 18)
      (s, d) => Tables.lineitemRaw(s, d)
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
              ORDER BY l_orderkey, l_linenumber""")),

    // ---- broadcast join: dim tables ship to every executor, no shuffle of
    // the fact side beyond the final agg
    Q("q03_join_broadcast",
      (s, d) => Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name")),
      Some("""SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
              count(*) AS n_orders
              FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN nation ON c_nationkey = n_nationkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY n_name ORDER BY n_name""")),

    // ---- large-large join: lineitem ⋈ orders shuffles once on orderkey
    // (sort-merge / shuffled-hash under AQE), partial agg map-side
    Q("q04_join_large",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
              count(*) AS n_items
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- semi join (EXISTS)
    Q("q05_semi_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              ORDER BY c_custkey""")),

    // ---- anti join (NOT EXISTS): parts never shipped in quantity > 45
    // (non-empty at sf0.01 — customers-without-orders is 0 rows, and a 0-row
    // match would be a vacuous correctness check)
    Q("q06_anti_join",
      (s, d) => Tables.part(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name FROM part
              WHERE NOT EXISTS (SELECT 1 FROM lineitem
                WHERE l_partkey = p_partkey AND l_quantity > 45)
              ORDER BY p_partkey""")),

    // ---- left outer join: count(col) skips nulls on both engines
    Q("q07_outer_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total_spent"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
              round(sum(coalesce(o_totalprice, 0.0)), 2) AS total_spent
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey ORDER BY c_custkey""")),

    // ---- window top-k per group (row_number; deterministic tie-break)
    Q("q08_window_topk",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // ---- top-k per group as a BOUNDED AGGREGATE (custom Aggregator,
    // expr/TopKAgg): map tasks reduce to ≤ k rows per key before the
    // shuffle. Spark 4's InferWindowGroupLimit gives q08's rank-filter
    // shape the same partial pruning (TopKSpec measures shuffle parity,
    // and a 50×+ gap when that rule can't fire); what the aggregate adds
    // is COMPOSABILITY — top-k computed alongside other aggregates in one
    // groupBy pass, grouped array output with no re-explode — and
    // independence from the recognizable filter pattern.
    Q("q28_topk_agg",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(graft.expr.TopKAgg.topK(3)(col("o_totalprice"), col("o_orderkey"))
          .as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("o_custkey"), (col("i") + 1).cast("int").as("rank"),
          col("t.id").as("o_orderkey"), col("t.score").as("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank")),
      Some("""SELECT o_custkey, CAST(rn AS INTEGER) AS rank, o_orderkey,
                o_totalprice FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rank""")),

    // ---- window frames: running sum + lag per partition
    Q("q09_window_running",
      (s, d) => {
        // TOTAL window order (round-13 sf0.1 audit): the synthetic
        // lineitem is NOT TPC-H-key-unique — (l_orderkey, l_linenumber)
        // repeats ~118k times at sf0.1 — so the previous 3-column order
        // left ties and lag()/running-sum values were engine-order-
        // dependent. Full rows ARE unique, so ordering by every non-
        // partition column is a total order (float/string comparison is
        // exact cross-engine; only float ACCUMULATION is not).
        val tieCols = Seq("l_shipdate", "l_orderkey", "l_linenumber",
          "l_partkey", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax", "l_returnflag", "l_linestatus").map(col)
        val w = Window.partitionBy(col("l_suppkey")).orderBy(tieCols: _*)
        // raw loader: the window exchanges by l_suppkey anyway (round 18)
        Tables.lineitemRaw(s, d)
          .withColumn("running_qty",
            round(sum(col("l_quantity"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
          .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("running_qty"), col("prev_qty"))
          .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
              round(sum(l_quantity) OVER w, 2) AS running_qty,
              lag(l_quantity, 1) OVER w AS prev_qty
              FROM lineitem
              WINDOW w AS (PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
                  l_quantity, l_extendedprice, l_discount, l_tax,
                  l_returnflag, l_linestatus
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""")),

    // ---- RANGE frame (vs q09's ROWS frame): per-customer trailing-30-day
    // order total — the frame is bounded by the ORDER-BY VALUE, so all
    // orders on the same day share one frame regardless of tie order
    // (which also makes the double-sum deterministic across engines).
    Q("q09b_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("days"))
          .rangeBetween(-30, 0)
        // raw loader: the window exchanges by o_custkey anyway (round 18)
        Tables.ordersRaw(s, d)
          .withColumn("days",
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
              .cast("long"))
          .select(col("o_orderkey"), col("o_custkey"), col("days"),
            round(sum(col("o_totalprice")).over(w), 2).as("sum_30d"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
              CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
                AS days,
              round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                ORDER BY date_diff('day', DATE '1995-01-01', o_orderdate)
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS sum_30d
              FROM orders ORDER BY o_orderkey""")),

    // ---- global top-k: Spark plans TakeOrderedAndProject (no full sort)
    Q("q10_sort_limit",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""")),

    // ---- distinct aggregation (exact)
    Q("q11_distinct_agg",
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(countDistinct(col("c_mktsegment")).as("n_segments"),
          count(lit(1)).as("n_customers"))
        .orderBy(col("n_name")),
      Some("""SELECT n_name, count(DISTINCT c_mktsegment) AS n_segments,
              count(*) AS n_customers
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              GROUP BY n_name ORDER BY n_name""")),

    // ---- approximate distinct (HyperLogLog++): at 100 TB this replaces
    // exact countDistinct wherever a ±2% answer is acceptable (no shuffle
    // of the distinct values, constant-size sketch per group). The HLL
    // estimate is Spark-specific, so the oracle checks the ERROR BOUND
    // in-plan (same trick as q19's approx_close): exact count alongside,
    // |approx-exact|/exact ≤ 5% emitted as a boolean the oracle states.
    Q("q11b_approx_distinct",
      // exact-NDV leg SEPARATED from the plain aggregates (round 18, the
      // q124 lesson applied here): countDistinct mixed into the same agg
      // plans the Expand-based multi-distinct shape — every lineitem row
      // doubles and the plain count/HLL recompute over the expanded
      // stream (measured 21.7 MB shuffle / 10.8 task-s; split, the HLL
      // leg partial-aggregates map-side to 3 rows and the distinct leg
      // shuffles only map-side-deduped (flag, partkey) pairs)
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val base = li.groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
            count(lit(1)).as("n_rows"))
        val exact = li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("n_parts"))
        base.join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("n_parts"), col("n_rows"),
            (abs(col("approx") - col("n_parts")) / col("n_parts").cast("double")
              <= 0.05).as("approx_ok"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
              count(*) AS n_rows, true AS approx_ok
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- set ops: union / intersect / except on exact-typed keys
    Q("q12_union",
      (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey")),
      Some("""SELECT c_nationkey AS nationkey FROM customer
              UNION SELECT s_nationkey AS nationkey FROM supplier
              ORDER BY nationkey""")),

    Q("q13_intersect",
      (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
      Some("""SELECT c_nationkey AS nationkey FROM customer
              INTERSECT SELECT s_nationkey AS nationkey FROM supplier
              ORDER BY nationkey""")),

    // (non-empty: part keys minus keys of high-quantity lineitems)
    Q("q14_except",
      (s, d) => Tables.part(s, d).select(col("p_partkey").as("partkey"))
        .except(Tables.lineitem(s, d).filter(col("l_quantity") > 45)
          .select(col("l_partkey").as("partkey")))
        .orderBy(col("partkey")),
      Some("""SELECT p_partkey AS partkey FROM part
              EXCEPT SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity > 45
              ORDER BY partkey""")),

    // ---- rollup: subtotal hierarchy (NULL group labels made explicit so
    // both engines agree on the text form)
    Q("q15_rollup",
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
        .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n_customers"), col("sum_acctbal"))
        .orderBy(col("nation"), col("segment")),
      Some("""SELECT coalesce(n_name, 'ALL') AS nation,
              coalesce(c_mktsegment, 'ALL') AS segment,
              count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              GROUP BY ROLLUP (n_name, c_mktsegment)
              ORDER BY nation, segment""")),

    // ---- explicit GROUPING SETS (finer control than rollup/cube): totals
    // per nation, per segment, and grand total — via SQL over a temp view
    Q("q15b_grouping_sets",
      (s, d) => {
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .createOrReplaceTempView("gs_cust")
        s.sql("""SELECT coalesce(n_name, 'ALL') AS nation,
                 coalesce(c_mktsegment, 'ALL') AS segment,
                 count(*) AS n_customers,
                 round(sum(c_acctbal), 2) AS sum_acctbal
                 FROM gs_cust
                 GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
                 ORDER BY nation, segment""")
      },
      Some("""SELECT coalesce(n_name, 'ALL') AS nation,
              coalesce(c_mktsegment, 'ALL') AS segment,
              count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
              ORDER BY nation, segment""")),

    // ---- cube: all grouping combinations
    Q("q16_cube",
      (s, d) => Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("returnflag"), col("linestatus")),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              coalesce(l_linestatus, 'ALL') AS linestatus,
              round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
              FROM lineitem
              GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY returnflag, linestatus""")),

    // ---- k-anonymity risk report (q113): the governance check behind the
    // reference's PII posture (crypto_utils' blind-index design exists so
    // quasi-identifiers can be queried WITHOUT exposing identities — this
    // measures whether the released quasi-identifier columns themselves
    // re-identify). One CUBE pass over (c_nationkey, c_mktsegment)
    // computes every generalization level of the lattice at once —
    // grouping_id 0 = both columns released, 1 = nation only, 2 = segment
    // only, 3 = fully generalized — and the per-level rollup reports the
    // k-anonymity (min equivalence-class size), rows in classes below
    // k = 5, and the risk rate. Two partial+final aggregates; the shuffle
    // carries equivalence classes, not rows. At 100 TB the report shape
    // is unchanged — the cube's expand factor is the (small) lattice
    // size, and class counts combine map-side.
    Q("q113_k_anonymity",
      (s, d) => {
        val k = 5
        val cls = Tables.customer(s, d)
          .cube(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("class_size"),
            grouping_id().as("gid"))
        cls.groupBy(col("gid"))
          .agg(count(lit(1)).as("n_classes"),
            min(col("class_size")).as("k_anonymity"),
            sum(when(col("class_size") < k, col("class_size"))
              .otherwise(lit(0L))).as("rows_at_risk"),
            // floor-quantized, not round(): exact-rational ratio, the
            // q111 midpoint class (see graft-round rounding rule)
            (floor(sum(when(col("class_size") < k, col("class_size"))
              .otherwise(lit(0L))) /
              sum(col("class_size")).cast("double") * 10000) / 10000)
              .as("risk_rate"))
          .orderBy(col("gid"))
      },
      Some("""WITH cls AS (
                SELECT GROUPING(c_nationkey, c_mktsegment) AS gid,
                  count(*) AS class_size
                FROM customer GROUP BY CUBE (c_nationkey, c_mktsegment))
              SELECT gid, count(*) AS n_classes,
                CAST(min(class_size) AS BIGINT) AS k_anonymity,
                CAST(sum(CASE WHEN class_size < 5 THEN class_size
                         ELSE 0 END) AS BIGINT) AS rows_at_risk,
                floor(sum(CASE WHEN class_size < 5 THEN class_size
                          ELSE 0 END) * 1.0 / sum(class_size) * 10000)
                  / 10000 AS risk_rate
              FROM cls GROUP BY gid ORDER BY gid""")),

    // ---- DP-SHAPED count release demo (q154): the governance family's
    // RELEASE mechanism in SHAPE only — q113 measures re-identification
    // risk, q123 finds leaked credentials, and per-group counts +
    // Laplace(1/ε) noise is the standard ε-DP mechanism for count queries
    // (sensitivity 1). This query demonstrates the mechanism's exact
    // arithmetic; it is explicitly NOT a privacy guarantee as implemented
    // (ADVICE r11): the noise is a deterministic function of the PUBLIC
    // group name and an in-source seed ('dp1_' + group), so anyone can
    // recompute and subtract it to recover the exact counts, and the
    // constant per-group offset leaks exact deltas across releases of
    // changed data. The determinism is what lets the DuckDB oracle replay
    // the draw bit-for-bit; a real deployment MUST replace the md5 uniform
    // with a draw from a secret, non-reproducible entropy source — the
    // inverse-CDF transform below is then unchanged, and re-release
    // accounting (each fresh draw spends privacy budget) applies. The
    // demo draw is the inverse-CDF transform of ONE uniform u ∈ (0,1]
    // from the q132 portable-md5 discipline;
    // the ln is rounded at 9 dp before use (libm last-ulp drift, the q132
    // rule) and the released value floor-quantized at 4 dp. Post-processed
    // clamp at 0 (DP is closed under post-processing). The TRUE count
    // never leaves the plan. Group-count-sized output; the only shuffle is
    // the count partials — the mechanism itself is per-group scalar math.
    Q("q154_dp_counts",
      (s, d) => {
        val eps = 0.5
        val seeded = Tables.customer(s, d)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("true_n"))
          .withColumn("u",
            (conv(substring(md5(concat(lit("dp1_"), col("c_mktsegment"))),
              1, 8), 16, 10).cast("long") + 1L) / 4294967297.0)
        seeded.select(col("c_mktsegment"),
            lit(eps).as("epsilon"),
            greatest(lit(0.0),
              floor((col("true_n") +
                round(lit(-1.0 / eps) * signum(col("u") - 0.5) *
                  log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 9))
                * 10000) / 10000).as("noisy_count"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH t AS (SELECT c_mktsegment, count(*) AS true_n
                FROM customer GROUP BY 1),
              u AS (SELECT c_mktsegment, true_n,
                (CAST('0x' || substr(md5('dp1_' || c_mktsegment), 1, 8)
                   AS BIGINT) + 1) / 4294967297.0 AS u
                FROM t)
              SELECT c_mktsegment, CAST(0.5 AS DOUBLE) AS epsilon,
                greatest(0.0, floor((true_n +
                  round(-2.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 9))
                  * 10000) / 10000) AS noisy_count
              FROM u ORDER BY c_mktsegment""")),

    // ---- scalar-function library: string / date / math / conditional
    Q("q17_scalar_fns",
      // KEEPS the fanned loader (round 18): the raw-loader variant was
      // measured 0.45 → 0.60 s — nine string/date projections over 150k
      // rows are real per-row CPU, exactly what the under-split guard
      // exists to spread
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_upper"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_pri"),
          substring(col("o_orderpriority"), 1, 1).as("pri_code"),
          length(col("o_orderpriority")).cast("int").as("pri_len"),
          year(col("o_orderdate")).cast("int").as("o_year"),
          month(col("o_orderdate")).cast("int").as("o_month"),
          dayofmonth(col("o_orderdate")).cast("int").as("o_day"),
          round(col("o_totalprice") / 100.0, 1).as("price_h"),
          (col("o_orderkey") % 7).as("key_mod"),
          when(col("o_totalprice") > 200000.0, lit("big"))
            .when(col("o_totalprice") > 100000.0, lit("mid"))
            .otherwise(lit("small")).as("bucket"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
              upper(o_orderstatus) AS status_upper,
              o_orderstatus || '-' || o_orderpriority AS status_pri,
              substring(o_orderpriority, 1, 1) AS pri_code,
              CAST(length(o_orderpriority) AS INTEGER) AS pri_len,
              CAST(year(o_orderdate) AS INTEGER) AS o_year,
              CAST(month(o_orderdate) AS INTEGER) AS o_month,
              CAST(day(o_orderdate) AS INTEGER) AS o_day,
              round(o_totalprice / 100.0, 1) AS price_h,
              o_orderkey % 7 AS key_mod,
              CASE WHEN o_totalprice > 200000.0 THEN 'big'
                   WHEN o_totalprice > 100000.0 THEN 'mid'
                   ELSE 'small' END AS bucket
              FROM orders ORDER BY o_orderkey""")),

    // ---- 6-table join (TPC-H Q5 shape): region→nation broadcast down the
    // dim chain; customer/orders/lineitem/supplier co-shuffle on their keys
    Q("q26_six_table_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name")),
      Some("""SELECT n_name,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
              count(*) AS n_items
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
                AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
              GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // ---- pivot (long→wide): status columns per priority. Pivot VALUES are
    // pinned explicitly — inferring them is an extra distinct scan and
    // nondeterministic column order at scale.
    Q("q27_pivot",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
              round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
              round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
              round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- unpivot/melt (wide→long): the inverse — melting the pivoted
    // result recovers the plain group-by, which is what the oracle states.
    Q("q27b_unpivot",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")),
          "o_orderstatus", "total")
        .orderBy(col("o_orderpriority"), col("o_orderstatus")),
      Some("""SELECT o_orderpriority, o_orderstatus,
              round(sum(o_totalprice), 2) AS total
              FROM orders GROUP BY 1, 2
              ORDER BY o_orderpriority, o_orderstatus""")),

    // ---- salted JOIN: the manual skew-join pattern (AQE's automatic
    // split is proven in ScaleBehaviorSpec; this is the fallback when a
    // hot key must be spread deliberately). The fact side gets a
    // deterministic salt, the dim side is replicated across all salts, and
    // the join key becomes (key, salt) — a hot key's rows land on SaltN
    // reducers instead of one. Every fact row matches exactly once, so the
    // result provably equals the plain join, which the oracle states.
    Q("q29_salted_join",
      (s, d) => {
        val SaltN = 8
        val fact = Tables.lineitem(s, d)
          .withColumn("_fsalt",
            pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(SaltN)))
        val dimRep = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
            explode(sequence(lit(0), lit(SaltN - 1))).as("_dsalt"))
        fact.join(dimRep,
            col("l_orderkey") === col("o_orderkey") &&
              col("_fsalt") === col("_dsalt"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_items,
              round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1 ORDER BY o_orderstatus""")),

    // ---- null-safe join (<=> / IS NOT DISTINCT FROM): NULL keys match
    // each other — the semantics dirty real-world keys need (a plain
    // equi-join silently drops every NULL row).
    Q("q29b_nullsafe_join",
      (s, d) => {
        val a = Tables.orders(s, d)
          .groupBy(expr("nullif(o_orderstatus, 'P')").as("k"))
          .agg(count(lit(1)).as("n_a"))
        val b = Tables.orders(s, d)
          .groupBy(expr("nullif(o_orderstatus, 'F')").as("k2"))
          .agg(count(lit(1)).as("n_b"))
        a.join(b, col("k") <=> col("k2"))
          .select(coalesce(col("k"), lit("(null)")).as("k_str"),
            col("n_a"), col("n_b"))
          .orderBy(col("k_str"))
      },
      Some("""WITH a AS (SELECT nullif(o_orderstatus, 'P') AS k,
                count(*) AS n_a FROM orders GROUP BY 1),
              b AS (SELECT nullif(o_orderstatus, 'F') AS k2,
                count(*) AS n_b FROM orders GROUP BY 1)
              SELECT coalesce(k, '(null)') AS k_str, n_a, n_b
              FROM a JOIN b ON k IS NOT DISTINCT FROM k2
              ORDER BY k_str""")),

    // ---- explicit bloom-filter semi-join (q75): build a bounded-size
    // bloom over the selective side's keys (aggregate — partial per
    // partition, merged once, NO row shuffle), broadcast the one blob,
    // pre-filter the big side with a codegen'd hash+test, THEN exact
    // semi-join the survivors. False positives only add candidates, so the
    // result provably equals the plain semi-join — which is what the
    // oracle states. At 100 TB this is the difference between shuffling
    // the full fact table into the join and shuffling ~selectivity of it;
    // Spark's InjectRuntimeFilter plans the same shape per-query behind
    // heuristics, this operator makes it an explicit reusable artifact
    // (expr/BloomExprs; pruning factor asserted in BloomSpec).
    Q("q75_bloom_join",
      (s, d) => {
        val sel = Tables.orders(s, d)
          .filter(col("o_totalprice") > 450000)
        // the bloom blob enters the probe as a SCALAR SUBQUERY (computed
        // once, broadcast as a literal into codegen — BloomFilterMightContain
        // requires a constant-foldable filter side)
        val bf = sel.agg(
          graft.expr.BloomExprs.bloomAgg(col("o_orderkey"), 20000L).as("bf"))
          .scalar()
        val pre = Tables.lineitem(s, d)
          .filter(graft.expr.BloomExprs.mightContain(bf, col("l_orderkey")))
        pre.join(sel.select(col("o_orderkey")),
            pre("l_orderkey") === col("o_orderkey"), "left_semi")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")), 2).as("total_price"))
      },
      Some("""SELECT count(*) AS n_items,
              round(sum(l_extendedprice), 2) AS total_price
              FROM lineitem WHERE l_orderkey IN
                (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)""")),

    // ---- salted aggregation: the 100 TB skew pattern. Stage 1 aggregates
    // on (key, salt) — a hot key's rows spread over 16 reducers — stage 2
    // merges the partials. Result provably equals the direct groupBy, which
    // is exactly what the oracle states.
    Q("q18_salted_agg",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("_salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(16)))
        .groupBy(col("l_returnflag"), col("_salt"))
        .agg(sum(col("l_quantity")).as("part_qty"),
          count(lit(1)).as("part_n"))
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("part_qty")), 2).as("sum_qty"),
          sum(col("part_n")).as("n_rows"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
              count(*) AS n_rows
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- percentiles: exact (sort-based) + approx sketch side by side.
    // Exact matches DuckDB quantile_cont; the approx column is an
    // invariant check (within the sketch's relative-error bound of exact,
    // stated as a boolean so the oracle can assert it).
    Q("q19_percentiles",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"),
          (abs(expr("percentile_approx(o_totalprice, 0.5, 10000)") -
            expr("percentile(o_totalprice, 0.5)")) <
            expr("percentile(o_totalprice, 0.5)") * 0.02).as("approx_close"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
              round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
              round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
              true AS approx_close
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- fixed-width histogram (distribution profiling): closed-form
    // bucket arithmetic — floor((x - lo)/width) — so both engines bin
    // identically; one partial+final count agg, no sort.
    Q("q19b_histogram",
      (s, d) => Tables.orders(s, d)
        .select(floor((col("o_totalprice") - 800d) / 50000d).cast("int")
          .as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("bucket")),
      Some("""SELECT CAST(floor((o_totalprice - 800) / 50000) AS INTEGER)
                AS bucket,
              count(*) AS n_orders
              FROM orders GROUP BY 1 ORDER BY bucket""")),

    // ---- statistical aggregates: stddev / variance / correlation /
    // covariance (data profiling pass over a training corpus). Rounded to
    // 4 decimals — both engines use numerically-stable single-pass
    // formulations whose results agree well past that precision.
    Q("q19c_stats_agg",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4)
            .as("cov_qty_disc"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
              round(stddev_samp(l_quantity), 4) AS sd_qty,
              round(var_samp(l_quantity), 4) AS var_qty,
              round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
              round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- date/time arithmetic library
    Q("q17b_date_fns",
      // keeps the fanned loader — same measured rationale as q17 (round 18)
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
            .as("days_to_eoy"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          quarter(col("o_orderdate")).cast("int").as("q"),
          dayofweek(col("o_orderdate")).cast("int").as("dow"),
          weekofyear(col("o_orderdate")).cast("int").as("woy"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
            .as("month_start"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS d_str,
              CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
                AS INTEGER) AS days_to_eoy,
              strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
              CAST(quarter(o_orderdate) AS INTEGER) AS q,
              CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
              CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
              strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                AS month_start,
              floor(epoch(o_orderdate))::BIGINT AS epoch_s
              FROM orders ORDER BY o_orderkey""")),

    // ---- array/map functions over derived collections
    Q("q17c_collection_fns",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"),
          collect_set(col("l_returnflag")).as("flags"))
        .select(
          col("l_orderkey"),
          size(col("lines")).as("n_lines"),
          element_at(col("lines"), 1).as("first_line"),
          element_at(col("lines"), -1).as("last_line"),
          array_contains(col("lines"), 1).as("has_line1"),
          size(col("flags")).as("n_flags"),
          aggregate(col("lines"), lit(0),
            (acc, x) => acc + x).as("line_sum"))
        .orderBy(col("l_orderkey")),
      Some("""WITH g AS (
                SELECT l_orderkey,
                  list_sort(list(l_linenumber)) AS lines,
                  list_distinct(list(l_returnflag)) AS flags
                FROM lineitem GROUP BY l_orderkey)
              SELECT l_orderkey,
              CAST(len(lines) AS INTEGER) AS n_lines,
              lines[1] AS first_line,
              lines[-1] AS last_line,
              list_contains(lines, 1) AS has_line1,
              CAST(len(flags) AS INTEGER) AS n_flags,
              CAST(list_sum(lines) AS INTEGER) AS line_sum
              FROM g ORDER BY l_orderkey"""))
  ,

    // ---- ANALYZE-style stats collection (q124): per-column table
    // statistics — row count, null count, exact NDV, min/max — the input a
    // cost-based optimizer (join reorder, broadcast thresholds) and a
    // data-quality dashboard both run on. Shape: melt the profiled columns
    // map-side into (column_name, value) rows (numeric and string melts
    // kept separate so no value ever round-trips through a lossy string
    // cast), then ONE two-phase distinct aggregate per melt — partial
    // (column, value) dedup before the shuffle, so the exchange carries
    // the distinct pairs, not the table. The HLL estimate rides alongside
    // and is checked IN-PLAN against the exact NDV (±5%), reported as data
    // (`ndv_approx_ok`) the way the ANN oracles report measured recall —
    // the sketch value itself is engine-specific and cannot hash-compare.
    // At 100 TB production ANALYZE drops the exact NDV (the sketch is the
    // point: one pass, constant space); here exact-vs-sketch is what makes
    // the entry self-verifying.
    Q("q124_stats_collect",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        // INT column tags through the aggregation legs (round 18, guide
        // §2.3 "narrower types"): the exact-NDV leg shuffles one row per
        // map-side-distinct (tag, value) pair — l_extendedprice is
        // near-unique, so a 15-char string tag repeated ~600k times was
        // most of the leg's 22 MB exchange and its hash-map cost; the
        // tag is decoded back to the column name on the 5-row result
        val num = li.select(expr(
          """stack(3, 0, l_quantity, 1, l_discount,
             2, l_extendedprice) as (cid, v)"""))
        val str = li.select(expr(
          """stack(2, 3, l_returnflag, 4, l_linestatus) as (cid, v)"""))
        val cidName = typedLit(Seq("l_quantity", "l_discount",
          "l_extendedprice", "l_returnflag", "l_linestatus"))
        // the exact NDV runs as its OWN aggregation leg, joined back on
        // the 5-row result: countDistinct mixed into the same agg as
        // min/max/HLL makes Catalyst plan the Expand-based multi-distinct
        // shape, recomputing every plain aggregate over the expanded rows
        // (measured 10.8 s vs 1-2 s per separated leg at sf0.1 — the
        // combined form was 5× the sum of its parts)
        def stats(m: org.apache.spark.sql.DataFrame) = {
          val basic = m.groupBy(col("cid")).agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
            approx_count_distinct(col("v"), rsd = 0.01).as("_andv"),
            min(col("v")).as("_min"), max(col("v")).as("_max"))
          val ndv = m.groupBy(col("cid"))
            .agg(countDistinct(col("v")).as("ndv"))
          basic.join(ndv, "cid")
            .withColumn("column_name", element_at(cidName, col("cid") + 1))
        }
        val numStats = stats(num).select(col("column_name"), col("n_rows"),
          col("n_nulls"), col("ndv"),
          col("_min").cast("double").as("min_num"),
          col("_max").cast("double").as("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"),
          (abs(col("_andv") - col("ndv")) <=
            greatest(col("ndv") * 0.05, lit(2.0))).as("ndv_approx_ok"))
        val strStats = stats(str).select(col("column_name"), col("n_rows"),
          col("n_nulls"), col("ndv"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col("_min").cast("string").as("min_str"),
          col("_max").cast("string").as("max_str"),
          (abs(col("_andv") - col("ndv")) <=
            greatest(col("ndv") * 0.05, lit(2.0))).as("ndv_approx_ok"))
        numStats.unionByName(strStats).orderBy(col("column_name"))
      },
      Some("""SELECT * FROM (
              SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
                count(*) FILTER (WHERE l_quantity IS NULL) AS n_nulls,
                count(DISTINCT l_quantity) AS ndv,
                min(l_quantity) AS min_num, max(l_quantity) AS max_num,
                CAST(NULL AS VARCHAR) AS min_str,
                CAST(NULL AS VARCHAR) AS max_str, true AS ndv_approx_ok
              FROM lineitem
              UNION ALL
              SELECT 'l_discount', count(*),
                count(*) FILTER (WHERE l_discount IS NULL),
                count(DISTINCT l_discount), min(l_discount), max(l_discount),
                NULL, NULL, true FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', count(*),
                count(*) FILTER (WHERE l_extendedprice IS NULL),
                count(DISTINCT l_extendedprice), min(l_extendedprice),
                max(l_extendedprice), NULL, NULL, true FROM lineitem
              UNION ALL
              SELECT 'l_returnflag', count(*),
                count(*) FILTER (WHERE l_returnflag IS NULL),
                count(DISTINCT l_returnflag), CAST(NULL AS DOUBLE),
                CAST(NULL AS DOUBLE), min(l_returnflag), max(l_returnflag),
                true FROM lineitem
              UNION ALL
              SELECT 'l_linestatus', count(*),
                count(*) FILTER (WHERE l_linestatus IS NULL),
                count(DISTINCT l_linestatus), CAST(NULL AS DOUBLE),
                CAST(NULL AS DOUBLE), min(l_linestatus), max(l_linestatus),
                true FROM lineitem)
              ORDER BY column_name"""))
  ,

    // ---- sketch-based heavy hitters (q130): the skew DIAGNOSIS operator
    // — find every key above a frequency threshold without ever shuffling
    // the full key set. Two passes: (1) a Misra-Gries mergeable summary
    // (expr/HeavyHitters, k=64 counters) reduces each map partition to
    // ≤ k candidates before the exchange — the guarantee (no key above
    // n/k is ever dropped, for ANY partitioning/merge order) makes the
    // candidate set a certain superset of everything above the 5%
    // threshold since 1/64 < 0.05; (2) candidates broadcast back for an
    // exact recount (aggregation touches only candidate keys), integer
    // threshold filter. The FINAL answer is deterministic even though the
    // sketch content is not (HeavyHittersSpec proves both). Hot keys are
    // planted arithmetically on event_id (negative ids — disjoint from
    // real user_ids) so the check is non-vacuous at every SF; this is the
    // operator you run BEFORE choosing q18/q29's salting keys. At 100 TB:
    // pass 1 shuffles k·partitions counters (constant per task), pass 2
    // shuffles only candidate-key rows.
    Q("q130_heavy_hitters",
      (s, d) => {
        import graft.expr.HeavyHitters.misraGries
        val keyed = heavyHitterKeys(Tables.events(s, d))
        recountHeavyHitters(keyed, keyed
          .agg(misraGries(64)(col("key")).as("cand"))
          .select(explode(col("cand")).as("key")))
      },
      Some(HeavyHittersSql)),

    // ---- functional-dependency profiling (q161): the data-profiling
    // complement of q124's per-column stats — CROSS-column structure. For
    // each candidate FD lhs→rhs: does every lhs value map to exactly one
    // rhs value? Report n_lhs (distinct lhs), n_violating_lhs (lhs values
    // with >1 distinct rhs) and the verdict — the discovery pass schema
    // inference, key detection and normalization audits run on a new
    // feed. Each candidate is one groupBy(lhs)·countDistinct(rhs) leg:
    // partial aggregation reduces map-side, the shuffle carries (lhs,
    // rhs) distinct partials, and the legs union into a 6-row report.
    // Candidates mix true keys (must hold), real dependencies, and
    // plausible-but-false ones (must be caught violated).
    Q("q161_fd_profile",
      (s, d) => {
        def fd(df: DataFrame, tbl: String, lhs: String, rhs: String) =
          df.groupBy(col(lhs))
            .agg(countDistinct(col(rhs)).as("k"))
            .agg(count(lit(1)).as("n_lhs"),
              sum(when(col("k") > 1, 1L).otherwise(0L))
                .as("n_violating_lhs"))
            .select(lit(tbl).as("tbl"), lit(s"$lhs->$rhs").as("fd"),
              col("n_lhs"), col("n_violating_lhs"),
              (col("n_violating_lhs") === 0).as("holds"))
        val o = Tables.orders(s, d); val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        fd(o, "orders", "o_orderkey", "o_custkey")
          .unionByName(fd(o, "orders", "o_custkey", "o_orderstatus"))
          .unionByName(fd(c, "customer", "c_custkey", "c_nationkey"))
          .unionByName(fd(c, "customer", "c_mktsegment", "c_nationkey"))
          .unionByName(fd(n, "nation", "n_nationkey", "n_regionkey"))
          .unionByName(fd(n, "nation", "n_regionkey", "n_name"))
          .orderBy(col("tbl"), col("fd"))
      },
      Some("""WITH f1 AS (SELECT 'orders' AS tbl,
                'o_orderkey->o_custkey' AS fd, count(*) AS n_lhs,
                sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS v
                FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS k
                      FROM orders GROUP BY 1)),
              f2 AS (SELECT 'orders', 'o_custkey->o_orderstatus',
                count(*), sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
                FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) AS k
                      FROM orders GROUP BY 1)),
              f3 AS (SELECT 'customer', 'c_custkey->c_nationkey',
                count(*), sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
                FROM (SELECT c_custkey, count(DISTINCT c_nationkey) AS k
                      FROM customer GROUP BY 1)),
              f4 AS (SELECT 'customer', 'c_mktsegment->c_nationkey',
                count(*), sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
                FROM (SELECT c_mktsegment, count(DISTINCT c_nationkey) AS k
                      FROM customer GROUP BY 1)),
              f5 AS (SELECT 'nation', 'n_nationkey->n_regionkey',
                count(*), sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
                FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS k
                      FROM nation GROUP BY 1)),
              f6 AS (SELECT 'nation', 'n_regionkey->n_name',
                count(*), sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
                FROM (SELECT n_regionkey, count(DISTINCT n_name) AS k
                      FROM nation GROUP BY 1)),
              u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
                UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4
                UNION ALL SELECT * FROM f5 UNION ALL SELECT * FROM f6)
              SELECT tbl, fd, n_lhs,
                CAST(v AS BIGINT) AS n_violating_lhs, v = 0 AS holds
              FROM u ORDER BY tbl, fd""")),

    // ---- Benford first-digit audit (q174): the fraud/integrity screen
    // auditors run on financial columns — naturally-grown magnitudes
    // follow P(d) = log10(1 + 1/d) for the leading digit; fabricated or
    // truncated data doesn't. Report per digit: observed count, observed
    // share, the Benford expectation, and the absolute deviation; plus
    // the mean-absolute-deviation verdict column (MAD > 0.015 is the
    // conventional "nonconformity" line — this synthetic uniform-ish
    // price corpus FAILS it, which is itself the demonstration that the
    // statistic discriminates). First digit extracted from the cents
    // integer's decimal string (exact — no float log10 on the data
    // path); expectations are IEEE ln ratios, identical cross-engine.
    // One digit-keyed 9-row aggregate; the MAD join is 9 rows.
    Q("q174_benford_audit",
      (s, d) => {
        val digits = Tables.orders(s, d)
          .select(substring(expr(
            "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
            1, 1).as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val total = digits.agg(sum(col("n")).as("total"))
        val scored = digits.crossJoin(broadcast(total))
          .select(col("digit"), col("n"),
            (col("n") / col("total").cast("double")).as("share"),
            (log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
              log(lit(10.0))).as("benford"))
        val mad = scored
          .agg(avg(abs(col("share") - col("benford"))).as("m"))
        scored.crossJoin(broadcast(mad))
          .select(col("digit"), col("n"),
            (floor(col("share") * 100000) / 100000).as("share"),
            (floor(col("benford") * 100000) / 100000).as("benford"),
            (floor(abs(col("share") - col("benford")) * 100000) / 100000)
              .as("abs_dev"),
            (col("m") > 0.015).as("nonconforming"))
          .orderBy(col("digit"))
      },
      Some("""WITH dg AS (SELECT substr(CAST(CAST(round(o_totalprice
                  * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
                count(*) AS n
                FROM orders GROUP BY 1),
              t AS (SELECT sum(n) AS total FROM dg),
              s AS (SELECT digit, n,
                n * 1.0 / t.total AS share,
                ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
                  AS benford
                FROM dg, t),
              m AS (SELECT avg(abs(share - benford)) AS m FROM s)
              SELECT digit, n,
                floor(share * 100000) / 100000 AS share,
                floor(benford * 100000) / 100000 AS benford,
                floor(abs(share - benford) * 100000) / 100000 AS abs_dev,
                m.m > 0.015 AS nonconforming
              FROM s, m ORDER BY digit""")),

    // ---- RFM segmentation (q177): the CRM-analytics classic — score
    // every customer on Recency (days since last order, vs the corpus's
    // max date), Frequency (order count) and Monetary (lifetime cents),
    // each bucketed into quintiles, and report the segment-cell
    // occupancy. Quintiles WITHOUT a global sort or partition-less
    // window (banned catalog-wide): each metric histograms onto the
    // 128-bin fixed grid (exact integer metrics → IEEE-exact bins), the
    // 128-row histogram's cumulative counts come from an explicit
    // bounded 128×128 self-join (the rankBounded precedent — the cost
    // is visible at the call site, not hidden in a one-task window),
    // and the four boundary bins broadcast back as one row. Bucket 1 =
    // lowest metric value (most recent / fewest orders / least spend).
    // Per-customer metrics are one orders shuffle; everything after is
    // histogram-sized.
    Q("q177_rfm_segmentation",
      (s, d) => {
        val o = Tables.orders(s, d)
        val gmax = o.agg(max(col("o_orderdate")).as("gmax"))
        def rfm = o.groupBy(col("o_custkey").as("cust"))
          .agg(max(col("o_orderdate")).as("last_order"),
            count(lit(1)).as("f"),
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("m"))
          .crossJoin(broadcast(gmax))
          .withColumn("r", datediff(col("gmax"), col("last_order")))
        // MELTED: one (cust, metric, v) relation drives all three
        // metrics through a single histogram pipeline — per-metric
        // grids/cuts ride one groupBy(metric, ...) instead of three
        // separate scans (the first formulation re-ran the orders
        // shuffle per metric: 20.7 MB at sf0.1; this shape moves 7 MB,
        // and an explicit persist traded the bytes for 2.5× wall, so
        // the two-pass recompute is the winner — q156's documented
        // two-scan posture)
        def melted = rfm.select(col("cust"), explode(map(
          lit("r"), col("r").cast("double"),
          lit("f"), col("f").cast("double"),
          lit("m"), col("m").cast("double"))).as(Seq("metric", "v")))
        val mm = melted.groupBy(col("metric"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
            count(lit(1)).as("n"))
        def binned = melted.join(broadcast(mm), Seq("metric"))
          .withColumn("bin", when(col("mx") > col("mn"),
            least(floor((col("v") - col("mn")) /
              (col("mx") - col("mn")) * 128), lit(127.0)))
            .otherwise(lit(0.0)).cast("int"))
        val hist = binned.groupBy(col("metric"), col("bin"))
          .agg(count(lit(1)).as("cnt"), min(col("n")).as("n"))
        val cum = hist.as("a")
          .join(hist.select(col("metric"), col("bin").as("b_bin"),
            col("cnt").as("b_cnt")), Seq("metric"))
          .filter(col("b_bin") <= col("bin"))
          .groupBy(col("metric"), col("bin"))
          .agg(sum(col("b_cnt")).as("cum"), min(col("n")).as("n"))
        val cuts = cum.groupBy(col("metric"))
          .agg(
            min(when(col("cum") * 5 >= col("n"), col("bin"))).as("c1"),
            min(when(col("cum") * 5 >= col("n") * 2, col("bin"))).as("c2"),
            min(when(col("cum") * 5 >= col("n") * 3, col("bin"))).as("c3"),
            min(when(col("cum") * 5 >= col("n") * 4, col("bin"))).as("c4"))
        binned.join(broadcast(cuts), Seq("metric"))
          .select(col("cust"), col("metric"),
            (lit(1) +
              when(col("bin") > col("c1"), 1).otherwise(0) +
              when(col("bin") > col("c2"), 1).otherwise(0) +
              when(col("bin") > col("c3"), 1).otherwise(0) +
              when(col("bin") > col("c4"), 1).otherwise(0)).as("q"))
          .groupBy(col("cust"))
          .agg(max(when(col("metric") === "r", col("q"))).as("r_q"),
            max(when(col("metric") === "f", col("q"))).as("f_q"),
            max(when(col("metric") === "m", col("q"))).as("m_q"))
          .groupBy(col("r_q"), col("f_q"), col("m_q"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("r_q"), col("f_q"), col("m_q"))
      },
      Some("""WITH rfm AS (SELECT o_custkey AS cust,
                date_diff('day', max(o_orderdate),
                  (SELECT max(o_orderdate) FROM orders)) AS r,
                count(*) AS f,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m
                FROM orders GROUP BY 1),
              nn AS (SELECT count(*) AS n FROM rfm),
              rb AS (SELECT cust, CAST(CASE WHEN mx > mn THEN least(floor(
                  (CAST(r AS DOUBLE) - mn) / (mx - mn) * 128), 127)
                  ELSE 0 END AS INTEGER) AS bin
                FROM rfm, (SELECT CAST(min(r) AS DOUBLE) AS mn,
                  CAST(max(r) AS DOUBLE) AS mx FROM rfm)),
              rh AS (SELECT bin, count(*) AS cnt FROM rb GROUP BY 1),
              rc AS (SELECT a.bin, sum(b.cnt) AS cum FROM rh a
                JOIN rh b ON b.bin <= a.bin GROUP BY 1),
              rq AS (SELECT
                min(CASE WHEN cum * 5 >= n THEN bin END) AS c1,
                min(CASE WHEN cum * 5 >= n * 2 THEN bin END) AS c2,
                min(CASE WHEN cum * 5 >= n * 3 THEN bin END) AS c3,
                min(CASE WHEN cum * 5 >= n * 4 THEN bin END) AS c4
                FROM rc, nn),
              rr AS (SELECT cust, 1 +
                (CASE WHEN bin > c1 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c2 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c3 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c4 THEN 1 ELSE 0 END) AS r_q
                FROM rb, rq),
              fb AS (SELECT cust, CAST(CASE WHEN mx > mn THEN least(floor(
                  (CAST(f AS DOUBLE) - mn) / (mx - mn) * 128), 127)
                  ELSE 0 END AS INTEGER) AS bin
                FROM rfm, (SELECT CAST(min(f) AS DOUBLE) AS mn,
                  CAST(max(f) AS DOUBLE) AS mx FROM rfm)),
              fh AS (SELECT bin, count(*) AS cnt FROM fb GROUP BY 1),
              fc AS (SELECT a.bin, sum(b.cnt) AS cum FROM fh a
                JOIN fh b ON b.bin <= a.bin GROUP BY 1),
              fq AS (SELECT
                min(CASE WHEN cum * 5 >= n THEN bin END) AS c1,
                min(CASE WHEN cum * 5 >= n * 2 THEN bin END) AS c2,
                min(CASE WHEN cum * 5 >= n * 3 THEN bin END) AS c3,
                min(CASE WHEN cum * 5 >= n * 4 THEN bin END) AS c4
                FROM fc, nn),
              ff AS (SELECT cust, 1 +
                (CASE WHEN bin > c1 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c2 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c3 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c4 THEN 1 ELSE 0 END) AS f_q
                FROM fb, fq),
              mb AS (SELECT cust, CAST(CASE WHEN mx > mn THEN least(floor(
                  (CAST(m AS DOUBLE) - mn) / (mx - mn) * 128), 127)
                  ELSE 0 END AS INTEGER) AS bin
                FROM rfm, (SELECT CAST(min(m) AS DOUBLE) AS mn,
                  CAST(max(m) AS DOUBLE) AS mx FROM rfm)),
              mh AS (SELECT bin, count(*) AS cnt FROM mb GROUP BY 1),
              mc AS (SELECT a.bin, sum(b.cnt) AS cum FROM mh a
                JOIN mh b ON b.bin <= a.bin GROUP BY 1),
              mq AS (SELECT
                min(CASE WHEN cum * 5 >= n THEN bin END) AS c1,
                min(CASE WHEN cum * 5 >= n * 2 THEN bin END) AS c2,
                min(CASE WHEN cum * 5 >= n * 3 THEN bin END) AS c3,
                min(CASE WHEN cum * 5 >= n * 4 THEN bin END) AS c4
                FROM mc, nn),
              mm2 AS (SELECT cust, 1 +
                (CASE WHEN bin > c1 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c2 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c3 THEN 1 ELSE 0 END) +
                (CASE WHEN bin > c4 THEN 1 ELSE 0 END) AS m_q
                FROM mb, mq)
              SELECT r_q, f_q, m_q, count(*) AS n_customers
              FROM rr JOIN ff USING (cust) JOIN mm2 USING (cust)
              GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ---- seasonality profile (q180): the time-series decomposition
    // primitive — monthly revenue, a trailing 12-month trend, and the
    // month-of-year seasonal index (mean of monthly/trend over the
    // years where the trend is defined). The fact table reduces ONCE to
    // ~80 month rows (exact integer cents); everything after is
    // month-relation-sized: the trend is an explicit bounded self-join
    // over month indices (offsets 0..11, HAVING all 12 present — not a
    // window, the q177 discipline), and the seasonal aggregation
    // averages floor-quantized integer ratios so the cross-year mean is
    // order-exact. At 100 TB only the first reduction touches facts.
    Q("q180_seasonality",
      (s, d) => {
        val monthly = Tables.orders(s, d)
          .groupBy(((year(col("o_orderdate")) - 1990) * 12 +
            month(col("o_orderdate"))).as("mi"),
            month(col("o_orderdate")).as("moy"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        val trend = monthly.select(col("mi"), col("cents"))
          .join(monthly.select(col("mi").as("mi2"),
            col("cents").as("cents2")),
            col("mi2") >= col("mi") - 11 && col("mi2") <= col("mi"))
          .groupBy(col("mi"))
          .agg(count(lit(1)).as("k"), sum(col("cents2")).as("win"))
          .filter(col("k") === 12)
          .select(col("mi"), (col("win").cast("double") / 12).as("trend"))
        monthly.join(trend, Seq("mi"))
          .select(col("moy"),
            floor(col("cents").cast("double") / col("trend") * 1000000)
              .cast("long").as("rq"))
          .groupBy(col("moy"))
          .agg(count(lit(1)).as("n_months"),
            round(avg(col("rq")) / 1000000, 6).as("seasonal_index"))
          .orderBy(col("moy"))
      },
      Some("""WITH m AS (SELECT
                (year(o_orderdate) - 1990) * 12 + month(o_orderdate)
                  AS mi,
                month(o_orderdate) AS moy,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
                FROM orders GROUP BY 1, 2),
              tr AS (SELECT a.mi, count(*) AS k,
                CAST(sum(b.cents) AS BIGINT) AS win
                FROM m a JOIN m b
                  ON b.mi >= a.mi - 11 AND b.mi <= a.mi
                GROUP BY 1 HAVING count(*) = 12),
              r AS (SELECT moy, CAST(floor(CAST(m.cents AS DOUBLE) /
                  (CAST(win AS DOUBLE) / 12) * 1000000) AS BIGINT) AS rq
                FROM m JOIN tr USING (mi))
              SELECT moy, count(*) AS n_months,
                round(avg(rq) / 1000000, 6) AS seasonal_index
              FROM r GROUP BY 1 ORDER BY 1"""))
  )
}
