package graft.ops

import graft.Q
import graft.schema.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table (ts, user_id, event_type,
  * value, props-JSON): JSON property mining, event-time tumbling and
  * sliding windows, gap-based sessionization, and as-of join.
  *
  * Scale posture: every query shuffles at most once on its natural key
  * (event_type / user_id / window start); sessionization and as-of are
  * single window passes over a user-partitioned sort — at 100 TB the events
  * table would be written bucketed/sorted by (user_id, ts) so these run
  * shuffle-free. Timestamps to the oracle are compared at second precision
  * (the testdata carries nanosecond parquet timestamps; engines differ in
  * sub-micro handling).
  */
object EventOps {

  /** Banded range join: pairs (l, r) with the same `keys` and
    * r[rightTs] ∈ [l[leftTs] + loSec, l[leftTs] + hiSec].
    *
    * The right side is bucketed once by floor(epoch/W) (W = hiSec − loSec);
    * each left row's admissible range spans strictly less than two buckets,
    * so it explodes its two candidate bucket ids and the pair generation is
    * a plain shuffle equi-join on (keys, bucket) — candidate count follows
    * band occupancy, not the per-key cross product a naive sort-merge range
    * join evaluates. The exact range predicate filters after the join.
    * EventOpsSpec proves equality with the naive formulation.
    */
  def bandedRangeJoin(left: DataFrame, right: DataFrame, leftTs: String,
      rightTs: String, loSec: Long, hiSec: Long,
      keys: Seq[String]): DataFrame = {
    require(hiSec > loSec, "empty range band")
    val w = hiSec - loSec
    val l = left.withColumn("_lepoch", unix_timestamp(col(leftTs)))
      .withColumn("_bucket", explode(array_distinct(array(
        floor((col("_lepoch") + loSec) / w),
        floor((col("_lepoch") + hiSec) / w)))))
    val r = right.withColumn("_repoch", unix_timestamp(col(rightTs)))
      .withColumn("_bucket", floor(col("_repoch") / w))
    // candidate buckets use SECOND-truncated epochs (safe: for integer
    // lo/hi the truncated right epoch still lands in one of the two
    // candidate buckets); the exact predicate compares the original
    // full-precision timestamps
    l.join(r, keys :+ "_bucket")
      .filter(col(rightTs) >= col(leftTs) + expr(s"INTERVAL $loSec SECOND") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $hiSec SECOND"))
      .drop("_lepoch", "_repoch", "_bucket")
  }

  /** The q54 as-of window over a (click|purchase) event frame: for each
    * purchase, the latest click of the same user at or before it. Shared
    * by the direct-scan entry (q54) and the bucketed-store entry (q54b) —
    * same plan, different source layout. */
  private def asOfClicksPurchases(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("tag", when(col("event_type") === "click", 0).otherwise(1))
    val w = Window.partitionBy(col("user_id"))
      // clicks sort before purchases at equal ts ⇒ "at or before"
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_ts",
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("purchase_s"),
        unix_timestamp(col("last_click_ts")).as("last_click_s"))
      .orderBy(col("event_id"))
  }

  private val AsofSql =
    """SELECT p.event_id, p.user_id,
       floor(epoch(p.ts))::BIGINT AS purchase_s,
       floor(epoch((
         SELECT max(c.ts) FROM events c
         WHERE c.user_id = p.user_id AND c.event_type = 'click'
           AND c.ts <= p.ts)))::BIGINT AS last_click_s
       FROM events p WHERE p.event_type = 'purchase'
       ORDER BY p.event_id"""

  /** q51's day-grain window aggregate; also q61's (stream ≡ batch). */
  private[graft] val DailyWindowSql =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              event_type,
              count(*) AS n_events, round(sum(value), 2) AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY day, event_type"""

  /** q80's view→click pairs within 30 minutes; also q64's: one rule, two
    * engine paths. */
  private[graft] val ViewClickPairsSql =
    """SELECT a.user_id % 10 AS bucket, count(*) AS n_pairs
              FROM events a JOIN events b ON a.user_id = b.user_id
              WHERE a.event_type = 'view' AND b.event_type = 'click'
                AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
              GROUP BY 1 ORDER BY bucket"""

  /** q162's lag-rule debounce report; also q163's. */
  private[graft] val DebounceSql =
    """WITH x AS (SELECT event_type,
                epoch(ts) - epoch(lag(ts) OVER (
                  PARTITION BY user_id, event_type
                  ORDER BY ts, event_id)) AS gap
              FROM events),
              k AS (SELECT event_type,
                (gap IS NULL OR gap > 3600.0) AS keep FROM x)
              SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                  AS n_dropped,
                floor(sum(CASE WHEN keep THEN 0 ELSE 1 END) * 1.0
                  / count(*) * 10000) / 10000 AS drop_share
              FROM k GROUP BY 1 ORDER BY 1"""

  /** q175's last-touch attribution report; also q176's. */
  private[graft] val AttributionSql =
    """WITH x AS (SELECT user_id, event_id, ts, event_type, value,
                last_value(CASE WHEN event_type IN ('click', 'view')
                  THEN event_type END IGNORE NULLS) OVER w AS t_type,
                last_value(CASE WHEN event_type IN ('click', 'view')
                  THEN ts END IGNORE NULLS) OVER w AS t_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              p AS (SELECT
                CASE WHEN t_ts IS NOT NULL
                    AND epoch(ts) - epoch(t_ts) <= 7 * 86400.0
                  THEN t_type ELSE 'direct' END AS channel,
                CAST(round(value * 100) AS BIGINT) AS cents
                FROM x WHERE event_type = 'purchase')
              SELECT channel, count(*) AS n_purchases,
                CAST(sum(cents) AS BIGINT) AS revenue_cents
              FROM p GROUP BY 1 ORDER BY 1"""

  /** Per-type moments of integer cents `c`: (event_type, n, mean_c,
    * std_c), mean and std derived as doubles from the exact BIGINT sums.
    * q172's moments, shared with q179's frozen baseline. */
  private[graft] def centsMoments(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("sq"))
      .select(col("event_type"), col("n"),
        (col("s").cast("double") / col("n")).as("mean_c"),
        sqrt((col("sq").cast("double") / col("n")) -
          (col("s").cast("double") / col("n")) *
          (col("s").cast("double") / col("n"))).as("std_c"))

  val catalog: Seq[Q] = Seq(

    // ---- JSON property mining: get_json_object pushdown-friendly scan
    Q("q50_json_props",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(avg(col("k")), 4).as("avg_k"),
          round(sum(col("value")), 2).as("sum_value"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n_events,
              round(avg(CAST(props->>'k' AS INTEGER)), 4) AS avg_k,
              round(sum(value), 2) AS sum_value,
              CAST(min(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS min_k,
              CAST(max(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- typed JSON: from_json into MapType (vs q50's per-path
    // get_json_object) + map functions
    Q("q50b_json_map",
      (s, d) => Tables.events(s, d)
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType)))
        .select(col("event_id"),
          size(map_keys(col("m"))).as("n_keys"),
          element_at(col("m"), "k").as("k_val"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys_csv"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, CAST(1 AS INTEGER) AS n_keys,
              CAST(props->>'k' AS INTEGER) AS k_val,
              'k' AS keys_csv
              FROM events ORDER BY event_id""")),

    // ---- tumbling 1-day event-time windows
    Q("q51_tumbling_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("day"), col("event_type")),
      Some(DailyWindowSql)),

    // ---- sliding 2h-by-1h windows: each event lands in 2 windows
    Q("q52_sliding_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("win_start_s"),
          col("n_events"), col("sum_value"))
        .orderBy(col("win_start_s")),
      Some("""WITH s AS (
                SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT
                  AS win_start_s, value FROM events
                UNION ALL
                SELECT floor(epoch(date_trunc('hour', ts) - INTERVAL 1 HOUR))::BIGINT,
                  value FROM events)
              SELECT win_start_s, count(*) AS n_events,
                round(sum(value), 2) AS sum_value
              FROM s GROUP BY 1 ORDER BY win_start_s""")),

    // ---- gap-based sessionization (30-min inactivity): lag + cumulative
    // flag sum in one user-partitioned window pass
    Q("q53_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // raw loader: the session window exchanges by user_id (round 18)
        val withGap = Tables.eventsRaw(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
              1L).otherwise(0L))
          .withColumn("sess_id",
            sum(col("new_sess")).over(byUser
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        withGap.groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n")).as("n_events"),
            round(avg(col("n")), 4).as("avg_events_per_session"))
          .orderBy(col("user_id"))
      },
      Some("""WITH g AS (
                SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS prev_ts
                FROM events),
              f AS (
                SELECT user_id, ts, event_id,
                  CASE WHEN prev_ts IS NULL OR
                    floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT > 1800
                  THEN 1 ELSE 0 END AS new_sess
                FROM g),
              sess AS (
                SELECT user_id,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
                FROM f),
              per AS (
                SELECT user_id, sess_id, count(*) AS n
                FROM sess GROUP BY 1, 2)
              SELECT user_id, count(*) AS n_sessions,
                CAST(sum(n) AS BIGINT) AS n_events,
                round(avg(n), 4) AS avg_events_per_session
              FROM per GROUP BY user_id ORDER BY user_id""")),

    // ---- built-in session_window (same 30-min gap): must agree exactly
    // with q53's manual lag+cumsum formulation — the oracle IS q53's SQL.
    // Sub-second boundary nuance: session_window compares full-precision
    // timestamps while q53 compares whole seconds, so the gap predicate is
    // evaluated on second-truncated ts here too.
    // Boundary semantics (round-13 sf0.1 audit, measured): an event at
    // EXACTLY prev + gap CONTINUES the session — session_window's merge
    // treats the window end inclusively — so the oracle's new-session
    // rule is STRICT (> 1800), q53's rule. The previous >= oracle agreed
    // at sf0.01 only because exact-1800 whole-second gaps happened not to
    // exist there; at sf0.1 one exists and Spark merges it (95465 vs
    // 95466 sessions — measured both ways).
    Q("q55_session_window",
      (s, d) => Tables.events(s, d)
        .withColumn("ts_s", timestamp_seconds(unix_timestamp(col("ts"))))
        .groupBy(col("user_id"), session_window(col("ts_s"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
          round(avg(col("n")), 4).as("avg_events_per_session"))
        .orderBy(col("user_id")),
      Some("""WITH g AS (
                SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS prev_ts
                FROM events),
              f AS (
                SELECT user_id, ts, event_id,
                  CASE WHEN prev_ts IS NULL OR
                    floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT > 1800
                  THEN 1 ELSE 0 END AS new_sess
                FROM g),
              sess AS (
                SELECT user_id,
                  sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
                FROM f),
              per AS (
                SELECT user_id, sess_id, count(*) AS n
                FROM sess GROUP BY 1, 2)
              SELECT user_id, count(*) AS n_sessions,
                CAST(sum(n) AS BIGINT) AS n_events,
                round(avg(n), 4) AS avg_events_per_session
              FROM per GROUP BY user_id ORDER BY user_id""")),

    // ---- string-distance functions: levenshtein between each document's
    // head and the next document's head (both engines implement the
    // classic DP — values agree exactly). "Next" is doc_id+1 — doc_ids are
    // dense, so a key-equi self-join replaces the single-partition global
    // `Window.orderBy` (VERDICT r1 #7: a partitionBy-less window funnels
    // the whole table through ONE task; the join shuffles by key across
    // all partitions, and at scale would be a bucketed, shuffle-free
    // self-join).
    Q("q56_edit_distance",
      (s, d) => {
        val heads = Tables.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 30).as("head"))
        heads
          .join(heads.select((col("doc_id") - 1).as("doc_id"),
            col("head").as("next_head")), Seq("doc_id"))
          .select(col("doc_id"),
            levenshtein(col("head"), col("next_head")).as("lev"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (
                SELECT doc_id, substring(text, 1, 30) AS head,
                  lead(substring(text, 1, 30)) OVER (ORDER BY doc_id)
                    AS next_head
                FROM documents)
              SELECT doc_id,
                CAST(levenshtein(head, next_head) AS INTEGER) AS lev
              FROM h WHERE next_head IS NOT NULL ORDER BY doc_id""")),

    // ---- banded range join (q80): event pairs within a bounded time
    // range, WITHOUT the per-key cross product a naive range join plans
    // (sort-merge on the equi key, then every left row × every right row
    // of that key filtered — O(n·m) per key). Banding: the right side is
    // bucketed by floor(ts/W) where W = the band width; each left row can
    // only match rows in TWO adjacent buckets (its range spans < 2W), so
    // it explodes exactly those two bucket keys and the join is a plain
    // equi-join on (user, bucket) — candidates ∝ band occupancy, the exact
    // range predicate applied after. Same semantics as q64's
    // stream-stream join (deliberately: two independent engines' paths —
    // banded batch here, watermarked streaming there — against ONE oracle).
    Q("q80_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("v_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"))
        bandedRangeJoin(views, clicks, "v_ts", "c_ts",
            loSec = 0L, hiSec = 1800L, keys = Seq("user_id"))
          .groupBy((col("user_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("bucket"))
      },
      Some(ViewClickPairsSql)),

    // ---- as-of join: for each purchase, the latest click of the same user
    // at or before it — one window pass over the union (no range-join
    // explosion; at scale this is the standard sorted-merge as-of shape)
    Q("q54_asof_join",
      // raw loader: the as-of window exchanges by user_id (round 18)
      (s, d) => asOfClicksPurchases(Tables.eventsRaw(s, d)),
      Some(AsofSql)),

    // ---- q54's bucketed-store posture (q54b): the SAME as-of window
    // reading events back from a table written `bucketBy(user_id)` +
    // `sortBy(user_id, ts)` — the layout the header's scale posture
    // promises. The bucket scan already satisfies the window's
    // distribution requirement, so the per-user exchange DISAPPEARS from
    // the plan (EventOpsSpec counts exchanges: bucketed = unbucketed − 1;
    // only the final presentation sort remains). The events twin of
    // q34b/q44b: write the layout once, every recurring analytics pass
    // reads it shuffle-free.
    Q("q54b_asof_join_bucketed",
      (s, d) => {
        val table = "graft_events_by_user"
        // build-once memo (round 18): the bucketed layout IS the
        // operator's "write once, read shuffle-free forever" claim —
        // rebuilding it per rep contradicted the posture the query
        // demonstrates (the q34b/q44b policy)
        ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "events", "bucket8-user-ts")) {
          Tables.resetManagedTable(s, table)
          Tables.events(s, d).write
            .bucketBy(8, "user_id").sortBy("user_id", "ts")
            .mode("overwrite").saveAsTable(table)
        }
        asOfClicksPurchases(s.table(table))
      },
      Some(AsofSql)),

    // ---- ordered funnel analysis (q97): the product-analytics staple —
    // how many users completed view → click → purchase IN TIMESTAMP
    // ORDER (each stage strictly after the user's EARLIEST qualifying
    // prior stage; min-ts semantics, the standard funnel definition).
    // Three chained (filter → per-user min → join) stages, all keyed on
    // user_id: the per-user mins partial-aggregate map-side, every join
    // shares the user_id distribution (AQE reuses one exchange), and
    // each stage's frame shrinks monotonically. On a (user_id, ts)-
    // bucketed 100 TB event store the whole chain runs shuffle-free.
    // Output: one row of stage counts (the funnel report).
    Q("q97_funnel",
      (s, d) => {
        val e = Tables.events(s, d)
        val a = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("ta"))
        val b = e.filter(col("event_type") === "click").join(a, "user_id")
          .filter(col("ts") > col("ta"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("tb"))
        val c = e.filter(col("event_type") === "purchase").join(b, "user_id")
          .filter(col("ts") > col("tb"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
        a.agg(count(lit(1)).as("n_view"))
          .crossJoin(broadcast(b.agg(count(lit(1)).as("n_view_click"))))
          .crossJoin(broadcast(
            c.agg(count(lit(1)).as("n_view_click_purchase"))))
      },
      Some("""WITH a AS (SELECT user_id, min(ts) AS ta FROM events
                WHERE event_type = 'view' GROUP BY 1),
              b AS (SELECT e.user_id, min(e.ts) AS tb FROM events e
                JOIN a USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > a.ta GROUP BY 1),
              c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
                JOIN b USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > b.tb GROUP BY 1)
              SELECT (SELECT count(*) FROM a) AS n_view,
                (SELECT count(*) FROM b) AS n_view_click,
                (SELECT count(*) FROM c) AS n_view_click_purchase""")),

    // ---- retention cohorts (q98): the other product-analytics staple —
    // users grouped by FIRST-ACTIVE week (their cohort), counted in every
    // later week they return. (cohort, week_offset, n_users) is the
    // retention triangle dashboards plot. Shape: one distinct (user,
    // week) pass (shuffle = active pairs, not events), per-user min for
    // the cohort, then a user_id-distribution-sharing join and a
    // cohort-sized aggregate. Week arithmetic stays in exact integer
    // days/7 on week-truncated stamps — no float, cross-engine exact.
    Q("q98_retention_cohorts",
      (s, d) => {
        val wk = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
          .distinct()
        val first = wk.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
        wk.join(first, "user_id")
          .select(date_format(col("w0"), "yyyy-MM-dd").as("cohort"),
            (datediff(col("w").cast("date"), col("w0").cast("date")) / 7)
              .cast("int").as("week_offset"))
          .groupBy(col("cohort"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort"), col("week_offset"))
      },
      Some("""WITH wk AS (SELECT DISTINCT user_id,
                  date_trunc('week', ts) AS w FROM events),
              f AS (SELECT user_id, min(w) AS w0 FROM wk GROUP BY 1)
              SELECT strftime(f.w0, '%Y-%m-%d') AS cohort,
                CAST(date_diff('day', f.w0, wk.w) / 7 AS INTEGER)
                  AS week_offset,
                count(*) AS n_users
              FROM wk JOIN f USING (user_id)
              GROUP BY 1, 2 ORDER BY cohort, week_offset""")),

    // ---- event-transition matrix (q99): per-user next-event bigrams →
    // the Markov transition counts/probabilities behavioral analytics
    // builds journey maps from (and the event-stream twin of q94's token
    // bigrams). One lead() window over the user's timeline (event_id
    // tiebreak makes equal-ts order deterministic in both engines), a
    // type²-bounded aggregate, and a broadcast join for the row-
    // normalizing totals; probabilities are integer-count ratios —
    // cross-engine exact. On a (user_id, ts)-bucketed store the window
    // pass is shuffle-free.
    Q("q99_event_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // raw loader: the lead() window exchanges by user_id (round 18)
        val pairs = Tables.eventsRaw(s, d)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
        pairs.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            round(col("n") / col("tot"), 4).as("p"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH p AS (
                SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS to_type
                FROM events),
              c AS (SELECT from_type, to_type, count(*) AS n FROM p
                    WHERE to_type IS NOT NULL GROUP BY 1, 2),
              t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
              SELECT c.from_type, c.to_type, c.n,
                round(c.n * 1.0 / t.tot, 4) AS p
              FROM c JOIN t USING (from_type)
              ORDER BY from_type, to_type""")),

    // ---- built-in session windows (q135): Spark's `session_window`
    // aggregate — the idiomatic sessionization (q53's lag+cumsum islands
    // formulation re-expressed as ONE merging-window aggregation). Why
    // both exist: the window formulation needs a per-user SORT of all
    // events; session_window is an AGGREGATE — partial session fragments
    // merge map-side before the exchange, and the same expression runs
    // unchanged under Structured Streaming state (q136 proves it on the
    // stream). Session end = last event + gap (Spark's semantics, the
    // oracle restates it as floor(epoch(max ts)) + gap). 6-hour gap ≈
    // the corpus's median inter-event spacing, so the session structure
    // is non-trivial at every SF.
    Q("q135_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "6 hours").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("session_start"),
          unix_timestamp(col("w.end")).as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH x AS (SELECT user_id, event_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              g AS (SELECT *, sum(brk) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid FROM x)
              SELECT user_id,
                CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
                CAST(floor(epoch(max(ts))) AS BIGINT) + 21600
                  AS session_end,
                count(*) AS n_events, round(sum(value), 2) AS sum_value
              FROM g GROUP BY user_id, sid
              ORDER BY user_id, session_start""")),

    // ---- histogram winsorization (q156): robust numeric cleaning for a
    // telemetry column — clamp each event_type's `value` to its [p05,
    // p95) band so sensor glitches / bot spikes stop dominating means.
    // The quantile is located on a 128-bin FIXED-GRID histogram (the q147
    // boundary-bin discipline): a percentile_cont formulation would SORT
    // every group's raw values; this plan shuffles only (type × ≤128) bin
    // partials, finds each type's boundary bins on that tiny relation
    // (windows partitioned by type over ≤128 rows — PlanAuditSpec-clean),
    // and broadcast-joins the two clamp scalars back for a second map-side
    // pass. Two scans of events by design: persisting the binned rows
    // would hold row-sized state; the histogram pass reduces map-side.
    // Cross-engine exactness: bin = floor((v-mn)/(mx-mn)·128) and edge =
    // mn + bin·((mx-mn)/128) use only IEEE ops with power-of-2 scaling —
    // bit-identical in both engines, no rounding discipline needed until
    // the winsorized mean, which averages floor-quantized BIGINTs (the
    // q152 integer-avg rule).
    Q("q156_winsorize",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), col("value"))
        winsorReport(ev, winsorBounds(ev)).orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type, value FROM events
                WHERE value IS NOT NULL),
              mm AS (SELECT event_type, min(value) AS mn, max(value) AS mx
                FROM ev GROUP BY 1),
              b AS (SELECT e.event_type, value, mn, mx,
                CAST(CASE WHEN mx > mn
                  THEN least(floor((value - mn) / (mx - mn) * 128), 127)
                  ELSE 0 END AS INTEGER) AS bin
                FROM ev e JOIN mm USING (event_type)),
              h AS (SELECT event_type, bin, min(mn) AS mn, min(mx) AS mx,
                count(*) AS cnt FROM b GROUP BY 1, 2),
              c AS (SELECT *, sum(cnt) OVER
                  (PARTITION BY event_type ORDER BY bin) AS cum,
                sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
              bd AS (SELECT event_type, min(mn) AS mn, min(mx) AS mx,
                min(CASE WHEN cum * 20 >= n THEN bin END) AS lo_bin,
                min(CASE WHEN cum * 20 >= n * 19 THEN bin END) AS hi_bin
                FROM c GROUP BY 1),
              bounds AS (SELECT event_type,
                mn + lo_bin * ((mx - mn) / 128) AS lo,
                mn + (hi_bin + 1) * ((mx - mn) / 128) AS hi FROM bd),
              r AS (SELECT e.event_type, value, lo, hi,
                least(greatest(value, lo), hi) AS cl
                FROM ev e JOIN bounds USING (event_type))
              SELECT event_type, count(*) AS n,
                round(min(lo), 6) AS clamp_lo,
                round(min(hi), 6) AS clamp_hi,
                CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clamped_lo,
                CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clamped_hi,
                round(avg(CAST(floor(cl * 10000) AS BIGINT)) / 10000, 6)
                  AS mean_winsorized
              FROM r GROUP BY 1 ORDER BY 1""")),

    // ---- incremental winsorize-bounds maintenance (q158): completes the
    // q156 family's triangle (build q156 / maintain q158 / serve q157 —
    // the posture every recurring 100-TB pipeline needs, cf. q34b/c/q109
    // and q44b/c/q108). The insight making maintenance cheap: the bounds'
    // state is a HISTOGRAM, and histograms on the same grid merge by
    // adding counts — so the snapshot's (type, bin, cnt) table is written
    // once, an increment reduces map-side to its own bin partials under
    // the FROZEN grid, and the merged relation re-derives bounds without
    // ever rescanning snapshot rows. Cost ∝ increment + (types × 128).
    // The frozen grid clips out-of-range increment values to the edge
    // bins; n_grid_clipped surfaces that as the re-grid drift signal
    // (when it grows, rebuild the grid — q116's drift-gate philosophy
    // applied to the maintainer itself). Increment types with no snapshot
    // grid drop at the inner join (production: quarantine + next rebuild).
    Q("q158_winsorize_maintain",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"), col("value"))
        val cut = graft.schema.Cuts.eventsValued(s, d)
        val table = "graft_winsor_hist"
        // build-once memo (round 18): snapshot histogram state is
        // read-only — the increment merges in-plan (q149-labels policy)
        ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "events", "cutv|winsor-hist")) {
          Tables.resetManagedTable(s, table)
          winsorHist(ev.filter(col("event_id") < cut)
              .select(col("event_type"), col("value")))
            .write.mode("overwrite").saveAsTable(table)
        }
        val stored = s.table(table)
          .select(col("event_type"), col("bin"), col("mn"), col("mx"),
            col("cnt"))
        val grid = stored.groupBy(col("event_type"))
          .agg(min(col("mn")).as("mn"), min(col("mx")).as("mx"))
        val inc = ev.filter(col("event_id") >= cut)
          .select(col("event_type"), col("value"))
        val incHist = winsorHistUnderGrid(inc, grid)
          .select(col("event_type"), col("bin"), col("mn"), col("mx"),
            col("cnt"))
        val merged = stored.union(incHist)
          .groupBy(col("event_type"), col("bin"))
          .agg(min(col("mn")).as("mn"), min(col("mx")).as("mx"),
            sum(col("cnt")).as("cnt"))
        val totals = merged.groupBy(col("event_type"))
          .agg(sum(col("cnt")).as("n_total"))
        val clipped = inc.join(broadcast(grid), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(sum(when(col("value") < col("mn") ||
              col("value") > col("mx"), 1L).otherwise(0L))
            .as("n_grid_clipped"))
        winsorBoundsFromHist(merged)
          .join(totals, Seq("event_type"))
          .join(clipped, Seq("event_type"), "left")
          .select(col("event_type"), col("n_total"),
            round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
            coalesce(col("n_grid_clipped"), lit(0L)).as("n_grid_clipped"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_id, event_type, value FROM events
                WHERE value IS NOT NULL),
              cutv AS (SELECT CAST(floor((max(event_id) + 1) * 0.8)
                AS BIGINT) AS cut FROM ev),
              snap AS (SELECT event_type, value FROM ev, cutv
                WHERE event_id < cut),
              mm AS (SELECT event_type, min(value) AS mn, max(value) AS mx
                FROM snap GROUP BY 1),
              inc AS (SELECT event_type, value FROM ev, cutv
                WHERE event_id >= cut),
              sb AS (SELECT s.event_type, mn, mx,
                CAST(CASE WHEN mx > mn
                  THEN least(floor((value - mn) / (mx - mn) * 128), 127)
                  ELSE 0 END AS INTEGER) AS bin
                FROM snap s JOIN mm USING (event_type)),
              sh AS (SELECT event_type, bin, min(mn) AS mn, min(mx) AS mx,
                count(*) AS cnt FROM sb GROUP BY 1, 2),
              ib AS (SELECT i.event_type, mn, mx,
                CAST(CASE WHEN mx > mn
                  THEN greatest(least(
                    floor((value - mn) / (mx - mn) * 128), 127), 0)
                  ELSE 0 END AS INTEGER) AS bin
                FROM inc i JOIN mm USING (event_type)),
              ih AS (SELECT event_type, bin, min(mn) AS mn, min(mx) AS mx,
                count(*) AS cnt FROM ib GROUP BY 1, 2),
              merged AS (SELECT event_type, bin, min(mn) AS mn,
                min(mx) AS mx, sum(cnt) AS cnt
                FROM (SELECT * FROM sh UNION ALL SELECT * FROM ih)
                GROUP BY 1, 2),
              c AS (SELECT *, sum(cnt) OVER
                  (PARTITION BY event_type ORDER BY bin) AS cum,
                sum(cnt) OVER (PARTITION BY event_type) AS n FROM merged),
              bd AS (SELECT event_type, min(mn) AS mn, min(mx) AS mx,
                min(CASE WHEN cum * 20 >= n THEN bin END) AS lo_bin,
                min(CASE WHEN cum * 20 >= n * 19 THEN bin END) AS hi_bin
                FROM c GROUP BY 1),
              bounds AS (SELECT event_type,
                mn + lo_bin * ((mx - mn) / 128) AS lo,
                mn + (hi_bin + 1) * ((mx - mn) / 128) AS hi FROM bd),
              tot AS (SELECT event_type, sum(cnt) AS n_total FROM merged
                GROUP BY 1),
              clip AS (SELECT i.event_type,
                sum(CASE WHEN value < mn OR value > mx THEN 1 ELSE 0 END)
                  AS nc
                FROM inc i JOIN mm USING (event_type) GROUP BY 1)
              SELECT b.event_type, CAST(t.n_total AS BIGINT) AS n_total,
                round(b.lo, 6) AS lo, round(b.hi, 6) AS hi,
                CAST(coalesce(c2.nc, 0) AS BIGINT) AS n_grid_clipped
              FROM bounds b JOIN tot t USING (event_type)
              LEFT JOIN clip c2 USING (event_type)
              ORDER BY event_type""")),

    // ---- event debounce (q162): the TIME-based member of the dedup
    // family — q60/q137 key on identity (same id twice = dup); telemetry
    // also repeats legitimately-distinct events in rapid bursts (retry
    // storms, double-clicks, chatty sensors), and the standard cleaning
    // rule drops an event arriving within the debounce window of its
    // predecessor in the same (user, type) lane. Lag-based formulation
    // (gap to the PREVIOUS event, not the previous KEPT one): one window
    // pass, SQL-expressible, and the conventional choice — the
    // previous-kept variant needs a stateful scan for marginal benefit.
    // The gap compares epoch DOUBLES (timestamp→double keeps microsecond
    // fractions identically in both engines; unix_timestamp would floor
    // to seconds and disagree with DuckDB's epoch()). Windows partition
    // by (user, type) — per-lane event counts, never corpus-wide. Report
    // per type: events in, kept, dropped, drop share.
    Q("q162_event_debounce",
      (s, d) => {
        val gapSec = 3600.0
        val lane = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        // driver parquet arrives TIMESTAMP_NTZ (the r9 type lesson) which
        // cannot cast straight to double; the intermediate cast to
        // session-tz timestamp is a no-op re-interpretation under the
        // pinned UTC session, matching DuckDB's naive epoch() exactly
        // raw loader: the lane window exchanges by (user_id, event_type)
        Tables.eventsRaw(s, d)
          .withColumn("gap",
            col("ts").cast("timestamp").cast("double") -
              lag(col("ts"), 1).over(lane).cast("timestamp").cast("double"))
          .withColumn("keep", col("gap").isNull || col("gap") > gapSec)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
            (floor(sum(when(col("keep"), 0L).otherwise(1L)) /
              count(lit(1)).cast("double") * 10000) / 10000)
              .as("drop_share"))
          .orderBy(col("event_type"))
      },
      Some(DebounceSql)),

    // ---- median imputation (q166): fill missing telemetry values with
    // the per-type histogram median — the robust sibling of mean-fill
    // (one glitch spike drags a mean; the p50 boundary bin ignores it).
    // The median rides the SAME fixed-grid histogram machinery as
    // q156/q158 ([[medianFromHist]]) — bin partials shuffle, no
    // per-group sort. The corpus has no native nulls, so missingness is
    // PLANTED in-plan (event_id % 13 — the q153/q159 dirty-oracle move,
    // derived identically in both engines); the median trains on the
    // non-null rows only. Report: rows, fills, fill value, and the
    // integer-quantized post-fill mean.
    Q("q166_impute_median",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"),
          when(col("event_id") % 13 === 0, lit(null))
            .otherwise(col("value")).as("value"))
        val present = ev.filter(col("value").isNotNull)
        val med = medianFromHist(winsorHist(present))
        ev.join(broadcast(med), Seq("event_type"))
          .withColumn("filled", coalesce(col("value"), col("med")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value").isNull, 1L).otherwise(0L))
              .as("n_filled"),
            round(min(col("med")), 6).as("fill_value"),
            round(avg(floor(col("filled") * 10000).cast("long")) / 10000,
              6).as("mean_after"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type,
                CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END
                  AS value
              FROM events),
              pres AS (SELECT event_type, value FROM ev
                WHERE value IS NOT NULL),
              mm AS (SELECT event_type, min(value) AS mn, max(value) AS mx
                FROM pres GROUP BY 1),
              b AS (SELECT p.event_type, mn, mx,
                CAST(CASE WHEN mx > mn
                  THEN greatest(least(
                    floor((value - mn) / (mx - mn) * 128), 127), 0)
                  ELSE 0 END AS INTEGER) AS bin
                FROM pres p JOIN mm USING (event_type)),
              h AS (SELECT event_type, bin, min(mn) AS mn, min(mx) AS mx,
                count(*) AS cnt FROM b GROUP BY 1, 2),
              c AS (SELECT *, sum(cnt) OVER
                  (PARTITION BY event_type ORDER BY bin) AS cum,
                sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
              md AS (SELECT event_type, min(mn) AS mn, min(mx) AS mx,
                min(CASE WHEN cum >= n * 0.5 THEN bin END) AS med_bin
                FROM c GROUP BY 1),
              fv AS (SELECT event_type,
                mn + med_bin * ((mx - mn) / 128) AS med FROM md),
              r AS (SELECT e.event_type, e.value,
                coalesce(e.value, f.med) AS filled, f.med
                FROM ev e JOIN fv f USING (event_type))
              SELECT event_type, count(*) AS n,
                CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_filled,
                round(min(med), 6) AS fill_value,
                round(avg(CAST(floor(filled * 10000) AS BIGINT)) / 10000,
                  6) AS mean_after
              FROM r GROUP BY 1 ORDER BY 1""")),

    // ---- z-score outlier report (q172): the parametric member of the
    // numeric-cleaning family (q156 clamps by rank, q166 fills by rank —
    // this FLAGS by standard deviations, the monitoring convention).
    // Exactness discipline: the moments come from INTEGER CENTS
    // (sum and sum-of-squares of BIGINTs are associative — no float
    // accumulation order anywhere; sumsq ≤ 5e14 at sf0.1, far inside
    // BIGINT), and mean/std derive as doubles from those exact integers
    // identically in both engines. The per-row z compare then re-uses
    // the same derived doubles broadcast back. Two scans (moments, then
    // flags) like q156 — no row-sized state between them.
    Q("q172_zscore_outliers",
      (s, d) => {
        val cents = expr("CAST(round(value * 100) AS BIGINT)")
        val ev = Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), cents.as("c"))
        ev.join(broadcast(centsMoments(ev)), Seq("event_type"))
          .withColumn("z", (col("c") - col("mean_c")) / col("std_c"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L))
              .as("n_outliers"),
            round(min(col("mean_c")) / 100, 6).as("mean_value"),
            round(min(col("std_c")) / 100, 6).as("std_value"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type,
                CAST(round(value * 100) AS BIGINT) AS c
              FROM events WHERE value IS NOT NULL),
              m AS (SELECT event_type, count(*) AS n,
                CAST(sum(c) AS BIGINT) AS s,
                CAST(sum(c * c) AS BIGINT) AS sq
                FROM ev GROUP BY 1),
              d AS (SELECT event_type, n,
                CAST(s AS DOUBLE) / n AS mean_c,
                sqrt(CAST(sq AS DOUBLE) / n -
                  (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                  AS std_c
                FROM m),
              r AS (SELECT e.event_type, (c - mean_c) / std_c AS z,
                mean_c, std_c
                FROM ev e JOIN d USING (event_type))
              SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers,
                round(min(mean_c) / 100, 6) AS mean_value,
                round(min(std_c) / 100, 6) AS std_value
              FROM r GROUP BY 1 ORDER BY 1""")),

    // ---- incremental moment maintenance (q178): q172's maintain member
    // — the cheapest maintainer in the whole catalog because the state
    // IS already algebraic: (n, Σc, Σc²) per type are BIGINT sums, so
    // the snapshot's moment table merges with increment partials by
    // ADDING (no grid, no anti-join, no windows — compare q158's
    // histogram merge and q165's hash-index anti-join). mean/std derive
    // from the merged exact integers at read. Incremental ≡ from-scratch
    // is exact by associativity, and the oracle states it: the SQL
    // computes the moments over ALL rows in one pass.
    Q("q178_zscore_maintain",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        val cut = graft.schema.Cuts.eventsValued(s, d)
        def moments(df: DataFrame) = df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
            sum(col("c") * col("c")).as("sq"))
        val table = "graft_moment_state"
        // build-once memo (round 18): same policy as q158's state
        ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "events", "cutv|moments")) {
          graft.schema.Tables.resetManagedTable(s, table)
          moments(ev.filter(col("event_id") < cut))
            .write.mode("overwrite").saveAsTable(table)
        }
        val merged = s.table(table)
          .unionByName(moments(ev.filter(col("event_id") >= cut)))
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
            sum(col("sq")).as("sq"))
        merged.select(col("event_type"), col("n").as("n_events"),
            round(col("s").cast("double") / col("n") / 100, 6)
              .as("mean_value"),
            round(sqrt((col("sq").cast("double") / col("n")) -
              (col("s").cast("double") / col("n")) *
              (col("s").cast("double") / col("n"))) / 100, 6)
              .as("std_value"))
          .orderBy(col("event_type"))
      },
      // from-scratch moments over all rows: incremental ≡ from-scratch
      Some("""WITH ev AS (SELECT event_type,
                CAST(round(value * 100) AS BIGINT) AS c
              FROM events WHERE value IS NOT NULL),
              m AS (SELECT event_type, count(*) AS n,
                CAST(sum(c) AS BIGINT) AS s,
                CAST(sum(c * c) AS BIGINT) AS sq
                FROM ev GROUP BY 1)
              SELECT event_type, n AS n_events,
                round(CAST(s AS DOUBLE) / n / 100, 6) AS mean_value,
                round(sqrt(CAST(sq AS DOUBLE) / n -
                  (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                  / 100, 6) AS std_value
              FROM m ORDER BY event_type""")),

    // ---- last-touch attribution (q175): the marketing-analytics
    // classic over the event stream — each purchase credits the LAST
    // click/view by the same user within the attribution window (7
    // days), else counts as unattributed ("direct"). Formulated as a
    // user-lane window pass: touches and purchases interleave in
    // (ts, event_id) order and `last(touch_type, ignoreNulls)` over the
    // preceding frame carries the most recent touch forward — one lane
    // shuffle, no self-join of purchases against all touches (the naive
    // range-join shape this replaces shuffles every touch ONCE PER
    // PURCHASE; the running-window shape shuffles each event once,
    // which is the difference at 100 TB of clickstream). Window-expiry
    // (touch older than 7 days) is a timestamp compare on the carried
    // columns. Report: credited touches and revenue by channel plus the
    // direct bucket; revenue in exact cents.
    Q("q175_attribution",
      (s, d) => {
        val lane = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val isTouch = col("event_type").isin("click", "view")
        // raw loader: the attribution window exchanges by user_id (round 18)
        Tables.eventsRaw(s, d)
          .withColumn("t_type",
            last(when(isTouch, col("event_type")), ignoreNulls = true)
              .over(lane))
          .withColumn("t_ts",
            last(when(isTouch, col("ts")), ignoreNulls = true).over(lane))
          .filter(col("event_type") === "purchase")
          .select(
            when(col("t_ts").isNotNull &&
                col("ts").cast("timestamp").cast("double") -
                col("t_ts").cast("timestamp").cast("double")
                  <= 7 * 86400.0,
              col("t_type")).otherwise(lit("direct")).as("channel"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("cents")).as("revenue_cents"))
          .orderBy(col("channel"))
      },
      Some(AttributionSql)),

    // ---- mergeable bottom-k quantile sketch, incrementally maintained
    // (q193): the order-statistics member of the sketch-maintainer family
    // (q191 = cardinality, q128 = algebraic aggregates; reference scope is
    // single-snapshot pandas stats, e.g. transform.py's column derivations
    // — recurring-corpus maintenance is the north-star extension).
    // SURVEY/VERDICT record that t-digest-class sketches were DECLINED for
    // their merge-order-dependent centroids (no exact oracle); the
    // fixed-grid histograms (q139/q156) that replaced them carry a
    // resolution floor and a frozen [mn,mx] grid that new data can
    // overflow (q158's n_grid_clipped). This closes the gap with the
    // third design point: a BOTTOM-K SAMPLE sketch — the k rows whose
    // md5(event_id) hashes are smallest per group, values attached. It is
    // a uniform k-sample (the hash is a deterministic uniform draw, the
    // q89/q132 discipline), so any quantile estimates from it with the
    // standard sample-rank error O(1/sqrt(k)); and it is EXACTLY
    // mergeable: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B))
    // is a set identity (an element of the union's true bottom-k is in
    // its side's bottom-k a fortiori), with no randomness, no merge-order
    // dependence, and per-item idempotence (same id → same hash; set
    // union dedups re-ingests). The plan CHECKS merge ≡ full-rebuild
    // per group (merge_equals_full) rather than assuming the theorem,
    // and bounds both estimates against their exact full-corpus ranks
    // (p50_ok/p90_ok, integer cross-multiplication — no float
    // thresholds); those two legs are VERIFICATION machinery (the
    // oracle's job) and each re-scans the corpus, so they run under the
    // linear Gates posture (VERDICT r14 #1, the q41/q201
    // convention): in-plan at oracle SF, skipped above
    // Gates.MaxRowsLinear with the `verified = false` sentinel.
    // Above the gate the serve read is sketch-sized — k·|groups| rows
    // (128·5 here) — and the increment's cost is one TopKByScore
    // partial aggregate over the increment alone: every map task
    // reduces its slice to ≤ k rows per group BEFORE the exchange, so
    // at 100 TB the shuffle carries k·groups·partitions rows, never the
    // table. Unlike the fixed-grid family there is no grid to overflow
    // and no resolution floor: the estimate is always a real data
    // element at a sample rank.
    Q("q193_bottomk_quantile",
      (s, d) => {
        val ev = hashedValues(s, d)
        val cut = graft.schema.Cuts.events(s, d)
        writeBottomKSketch(s, d)
        val inc = bottomKOf(ev.filter(col("event_id") >= cut))
        val merged = bottomKOf(
          s.table(BottomKTable).unionByName(inc)
            .dropDuplicates("event_type", "event_id"))
        bottomKVerifiedQuantiles(s, ev, merged)
      },
      Some(BottomKQuantileSql)),

    // ---- CUSUM change-point detection (q199): the monitoring family's
    // TEMPORAL member — q115/q116 ask "did the distribution drift
    // between two snapshots", this asks WHEN a rate shifted, on the
    // classic one-sided CUSUM (Page 1954): S_i = max(0, S_{i−1} + x_i −
    // μ − slack), alarm when S crosses h. Two re-expressions make it
    // exact and shuffle-parallel: (1) the max(0,·) recursion — not a
    // linear window — equals the prefix identity S_i = P_i −
    // min(0, min_{j≤i} P_j) with P the running sum of (x − μ − slack),
    // so it becomes TWO frame aggregates over one per-type sort instead
    // of a sequential fold; (2) everything is scaled into units of 4n
    // (n = baseline days, B = baseline total): y = 4n·x − 5B encodes
    // slack = μ/4 and h = 3μ becomes 12B — all BIGINT, no float
    // accumulation, engine-exact. The surge is PLANTED arithmetically
    // (days ≥ the 80% date triple their count — the q130 planted-hot-key
    // discipline), so the alarm is non-vacuous at every SF while the
    // baseline still exercises the reflection (P dips and recovers).
    // Scale: the daily rollup is the only corpus-sized pass (map-side
    // (type, day) partials); the CUSUM windows run per type over ~365
    // rows — constant state, the same posture a year of daily telemetry
    // keeps at 100 TB.
    Q("q199_cusum_changepoint",
      (s, d) => cusumFromCounts(dailyCounts(Tables.events(s, d))),
      Some(CusumSql))
  )

  // --------------------------------------------------------------------
  // q199/q202 CUSUM machinery, shared so the batch detector and the
  // streaming gate cannot drift (the q191/q192 pattern): the (type, day,
  // c0) daily-count state — LINEAR, so per-batch partials merge by SUM,
  // the CMS/q197 slot discipline — and the scaled integer CUSUM scorer.
  // --------------------------------------------------------------------

  /** Daily event counts: (event_type, day, c0) — the mergeable state
    * behind CUSUM (counts are linear; slot partials sum). The only
    * corpus-sized pass; map-side (type, day) partials shuffle. */
  private[graft] def dailyCounts(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c0"))

  /** Scaled integer CUSUM over a (event_type, day, c0) relation — the
    * q199 scorer: surge-marked series, baseline (n, B) per type, y =
    * 4n·x − 5B, S via the prefix-min reflection, alarm at 12B, reported
    * as (n_base_days, max_s, alarm_day_idx). All arithmetic BIGINT.
    *
    * Baseline join is LEFT (VERDICT r14 #6, closing ADVICE r13 #4's
    * monitoring blind spot): an event_type whose data begins at/after
    * the 80% cut day has no baseline (n, B) — it still SURFACES in the
    * report, as (n_base_days = 0, max_s = NULL, alarm_day_idx = NULL),
    * instead of vanishing from exactly the monitoring run that should
    * flag it. The CUSUM score is undefined without a baseline (no μ to
    * deviate from), so NULL is the honest value; the n_base_days = 0
    * row is the signal "new type, no history — bootstrap a baseline".
    * Both engines emit the row identically (the oracle's join is LEFT
    * too). */
  private[graft] def cusumFromCounts(daily0: DataFrame): DataFrame = {
    val span = broadcast(daily0.agg(
      min(col("day")).as("d0"), max(col("day")).as("d1")))
    val daily = daily0
      .crossJoin(span)
      .withColumn("cut_day",
        date_add(col("d0"), floor(datediff(col("d1"), col("d0")) *
          lit(0.8)).cast("int")))
      .withColumn("x",
        when(col("day") >= col("cut_day"), col("c0") * 3)
          .otherwise(col("c0")))
    val base = daily.filter(col("day") < col("cut_day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c0")).as("bsum"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val run = byDay.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    // LEFT join: a type born at/after the cut has null (n, bsum) →
    // null y/p/s/alarmed on every row (window sums of all-null stay
    // null in both engines), reported below as a zero-baseline row
    val scored = daily.join(broadcast(base), Seq("event_type"),
        "left_outer")
      .withColumn("y",
        lit(4L) * col("n") * col("x") - lit(5L) * col("bsum"))
      .withColumn("p", sum(col("y")).over(run))
      .withColumn("s", col("p") -
        least(min(col("p")).over(run), lit(0L)))
      .withColumn("alarmed", col("s") >= lit(12L) * col("bsum"))
    // alarm reported as a day INDEX (datediff from the span start) —
    // integer, no cross-engine DATE dtype exposure
    scored.groupBy(col("event_type"))
      .agg(coalesce(max(col("n")), lit(0L)).as("n_base_days"),
        max(col("s")).as("max_s"),
        min(when(col("alarmed"),
          datediff(col("day"), col("d0")))).as("alarm_day_idx"))
      .orderBy(col("event_type"))
  }

  /** q199/q202's shared oracle — the identical scaled-integer CUSUM in
    * DuckDB (one rule, two engine paths). LAZY: referenced from the
    * catalog during object init (the q191 lesson). */
  private[graft] lazy val CusumSql: String =
    """WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0,
         max(CAST(ts AS DATE)) AS d1 FROM events),
       daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS c0
         FROM events GROUP BY 1, 2),
       marked AS (SELECT d.*, s.d0,
           s.d0 + CAST(floor(date_diff('day', s.d0, s.d1) * 0.8)
             AS INTEGER) AS cut_day
         FROM daily d, span s),
       m2 AS (SELECT *, CASE WHEN day >= cut_day THEN c0 * 3
           ELSE c0 END AS x FROM marked),
       base AS (SELECT event_type, count(*) AS n, sum(c0) AS bsum
         FROM m2 WHERE day < cut_day GROUP BY 1),
       sc AS (SELECT m2.event_type, m2.day, m2.d0,
           4 * b.n * m2.x - 5 * b.bsum AS y, b.n, b.bsum
         FROM m2 LEFT JOIN base b ON b.event_type = m2.event_type),
       pp AS (SELECT *, sum(y) OVER w AS p FROM sc
         WINDOW w AS (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       ss AS (SELECT *, p - least(min(p) OVER w, 0) AS s FROM pp
         WINDOW w AS (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT event_type,
         CAST(coalesce(max(n), 0) AS BIGINT) AS n_base_days,
         CAST(max(s) AS BIGINT) AS max_s,
         CAST(min(CASE WHEN s >= 12 * bsum
           THEN date_diff('day', d0, day) END) AS INTEGER)
           AS alarm_day_idx
       FROM ss GROUP BY event_type ORDER BY event_type"""

  /** q156's clamp bounds: per event_type [p05, p95) edges located on the
    * 128-bin fixed-grid histogram of `value`. Input: (event_type, value);
    * output: (event_type, lo, hi). Only bin partials shuffle; the windows
    * run partitioned by type over ≤ 128 rows. Factored so the streaming
    * gate (q157) freezes THIS relation as its written bounds table. */
  def winsorBounds(ev: DataFrame): DataFrame =
    winsorBoundsFromHist(winsorHist(ev))

  /** The mergeable state behind the bounds: per (event_type, bin) counts
    * on the 128-bin grid anchored at the input's own per-type [mn, mx].
    * (event_type, bin, mn, mx, cnt) — two states on the SAME grid merge
    * by summing cnt, which is what the incremental maintainer (q158)
    * exploits: the snapshot's histogram is written once and increments
    * fold in without rescanning it. */
  def winsorHist(ev: DataFrame): DataFrame = {
    val mm = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    winsorHistUnderGrid(ev, mm)
  }

  /** Bin `ev` under a FROZEN grid (event_type, mn, mx): out-of-grid
    * values clip to the edge bins (bin 0 / 127) — the price of
    * mergeability, surfaced by q158's n_grid_clipped drift signal. */
  def winsorHistUnderGrid(ev: DataFrame, grid: DataFrame): DataFrame =
    ev.join(broadcast(grid), Seq("event_type"))
      .withColumn("bin", when(col("mx") > col("mn"),
        greatest(least(floor((col("value") - col("mn")) /
          (col("mx") - col("mn")) * 128), lit(127.0)), lit(0.0)))
        .otherwise(lit(0.0)).cast("int"))
      .groupBy(col("event_type"), col("bin"))
      .agg(min(col("mn")).as("mn"), min(col("mx")).as("mx"),
        count(lit(1)).as("cnt"))

  /** Boundary-bin location on a (event_type, bin, mn, mx, cnt) histogram:
    * [p05, p95) edges as grid values. Windows run partitioned by type
    * over ≤ 128 rows. */
  def winsorBoundsFromHist(hist: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n",
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    cum.groupBy(col("event_type"))
      .agg(min(col("mn")).as("mn"), min(col("mx")).as("mx"),
        min(when(col("cum") * 20 >= col("n"), col("bin"))).as("lo_bin"),
        min(when(col("cum") * 20 >= col("n") * 19, col("bin"))).as("hi_bin"))
      .select(col("event_type"),
        (col("mn") + col("lo_bin") *
          ((col("mx") - col("mn")) / 128)).as("lo"),
        (col("mn") + (col("hi_bin") + 1) *
          ((col("mx") - col("mn")) / 128)).as("hi"))
  }

  /** Histogram median (q166): the p50 boundary bin's lower edge on a
    * (event_type, bin, mn, mx, cnt) histogram — the q156/q158 boundary
    * algebra at a single quantile. */
  def medianFromHist(hist: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n",
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(min(col("mn")).as("mn"), min(col("mx")).as("mx"),
        min(when(col("cum") >= col("n") * 0.5, col("bin"))).as("med_bin"))
      .select(col("event_type"),
        (col("mn") + col("med_bin") *
          ((col("mx") - col("mn")) / 128)).as("med"))
  }

  /** Map-side clamp of `ev` against broadcast `bounds`: rows keep the
    * original value plus (lo, hi, cl). The split from [[winsorAgg]] lets
    * the streaming gate (q157) run THIS per micro-batch and the aggregate
    * once over the appended store — one rule, two engine paths. */
  def winsorClamp(ev: DataFrame, bounds: DataFrame): DataFrame =
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("cl",
        least(greatest(col("value"), col("lo")), col("hi")))

  /** q156's report shape over clamped rows. The winsorized mean averages
    * floor-quantized BIGINTs so the cross-row aggregation is
    * partition-order-exact. */
  def winsorAgg(clamped: DataFrame): DataFrame =
    clamped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("lo")), 6).as("clamp_lo"),
        round(min(col("hi")), 6).as("clamp_hi"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L))
          .as("n_clamped_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L))
          .as("n_clamped_hi"),
        round(avg(floor(col("cl") * 10000).cast("long")) / 10000, 6)
          .as("mean_winsorized"))

  /** Clamp + report (q156). */
  def winsorReport(ev: DataFrame, bounds: DataFrame): DataFrame =
    winsorAgg(winsorClamp(ev, bounds))

  // --------------------------------------------------------------------
  // q193/q194 bottom-k quantile sketch machinery, shared so the
  // incremental and streaming legs cannot drift (the q191/q192 pattern).
  // --------------------------------------------------------------------

  /** Sketch size: 128 value-carrying rows per group → sample-rank error
    * ~ sqrt(q(1−q)/k) ≈ 4.4% at the median; the in-plan bands (±15% rank
    * at p50, ±10% at p90) sit > 3σ out. */
  private[graft] val BottomKK = 128

  private[graft] val BottomKTable = "graft_bottomk_value_sketch"

  /** (event_type, event_id, value, hk): hk is the deterministic uniform
    * draw — first 13 hex chars of md5(event_id) as a BIGINT (< 2^52 so
    * the double cast inside TopKByScore is exact; md5 is the one hash
    * both engines share bit-for-bit, the q89/q132 discipline). */
  private[graft] def hashValues(ev: DataFrame): DataFrame =
    ev.filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"),
        conv(substring(md5(col("event_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("hk"))

  private[graft] def hashedValues(s: SparkSession, d: String): DataFrame =
    hashValues(Tables.events(s, d))

  /** The k smallest-hk rows per event_type, values attached. One
    * TopKByScore pass (score = −hk): partial aggregation reduces every
    * map slice to ≤ k candidates per group before the exchange, then the
    * winners broadcast back against the input to re-attach (hk, value) —
    * at corpus scale that join is a map-side broadcast semi-join; at
    * merge time the input IS sketch-sized and the join is trivial. */
  private[graft] def bottomKOf(rows: DataFrame): DataFrame = {
    val sel = rows.groupBy(col("event_type"))
      .agg(graft.expr.TopKAgg.topK(BottomKK)(
        -col("hk").cast("double"), col("event_id")).as("sel"))
      .select(col("event_type"), explode(col("sel")).as("s"))
      .select(col("event_type"), col("s.id").as("event_id"))
    rows.join(broadcast(sel), Seq("event_type", "event_id"))
      .select(col("event_type"), col("event_id"), col("value"), col("hk"))
  }

  /** Write the snapshot (event_id < 80% cut) bottom-k sketch once per
    * JVM (build-once artifact; the bench records the first builder's
    * build_sec). */
  private[graft] def writeBottomKSketch(s: SparkSession, d: String): Unit =
    ArtifactCache.once(BottomKTable, graft.schema.Cuts.artifactTag(d, "events", s"cut0.8|k$BottomKK")) {
      val cut = graft.schema.Cuts.events(s, d)
      Tables.resetManagedTable(s, BottomKTable)
      bottomKOf(hashedValues(s, d).filter(col("event_id") < cut))
        .write.mode("overwrite").saveAsTable(BottomKTable)
    }

  /** Quantile estimates from a merged sketch, with both verification
    * legs — merge_equals_full (the merged id set vs a full-corpus
    * rebuild; the merge theorem, CHECKED) and p50_ok/p90_ok (each
    * estimate's exact full-corpus rank inside integer cross-multiplied
    * bands) — under the [[Gates]] posture (VERDICT r14 #1, the
    * q41/q201 convention): both legs re-scan the corpus, which is
    * exactly the cost the sketch-sized read exists to avoid, so they
    * run in-plan only below [[Gates.MaxRowsLinear]] (covers the
    * driver's oracle SF) and above it the serve path is sketch-sized
    * (k·groups rows) with the machine-readable `verified = false`
    * sentinel — the invariant columns then report the theorem, not a
    * measurement, and the spec tier re-proves the merge identity on
    * purpose-built corpora for all sizes (EventOpsSpec's split-merge
    * test). Estimates are REAL data elements (the sample value at rank
    * ceil(q·sn)) so they hash byte-identically cross-engine — no float
    * thresholds anywhere. The reported size column is `sn` — the
    * sketch's own per-group row count, available in both branches —
    * never the corpus count, which only a gated full scan could know. */
  private[graft] def bottomKVerifiedQuantiles(s: SparkSession,
      ev: DataFrame, merged: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val ranked = merged
      .withColumn("vr", row_number().over(
        byType.orderBy(col("value"), col("event_id"))))
      .withColumn("sn", count(lit(1)).over(byType))
    // ceil(q·sn) as integer arithmetic: ceil(sn/2) = (sn+1) div 2,
    // ceil(9·sn/10) = (9·sn+9) div 10 (Spark `/` is double division;
    // floor() recovers the integer quotient exactly for these magnitudes)
    val est = ranked.groupBy(col("event_type"))
      .agg(max(col("sn")).as("sn"),
        max(when(col("vr") === floor((col("sn") + 1) / lit(2)),
          col("value"))).as("est_p50"),
        max(when(col("vr") === floor((col("sn") * 9 + 9) / lit(10)),
          col("value"))).as("est_p90"))
    if (Gates.verifyInPlan(ev, Gates.MaxRowsLinear)) {
      val full = bottomKOf(ev)
      val nFull = full.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_full"))
      val nMerged = merged.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_merged"))
      val nBoth = merged.join(full, Seq("event_type", "event_id"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_both"))
      val ranks = ev.join(broadcast(est), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("est_p50"), 1L).otherwise(0L))
            .as("r50"),
          sum(when(col("value") <= col("est_p90"), 1L).otherwise(0L))
            .as("r90"))
      ranks.join(est, Seq("event_type"))
        .join(nFull, Seq("event_type"))
        .join(nMerged, Seq("event_type"))
        .join(nBoth, Seq("event_type"))
        .select(col("event_type"), col("sn"), col("est_p50"),
          col("est_p90"),
          (col("n_both") === col("n_full") &&
            col("n_merged") === col("n_full")).as("merge_equals_full"),
          (abs(col("r50") * 100 - col("n") * 50) <= col("n") * 15)
            .as("p50_ok"),
          (abs(col("r90") * 10 - col("n") * 9) <= col("n")).as("p90_ok"),
          lit(true).as("verified"))
        .orderBy(col("event_type"))
    } else
      est.select(col("event_type"), col("sn"), col("est_p50"),
        col("est_p90"), lit(true).as("merge_equals_full"),
        lit(true).as("p50_ok"), lit(true).as("p90_ok"),
        lit(false).as("verified"))
        .orderBy(col("event_type"))
  }

  /** The q193/q194 oracle: DuckDB replays the full-corpus bottom-k
    * construction (merged ≡ full is the checked theorem, so the oracle
    * states the full build) and the rank-extraction arithmetic; the two
    * in-plan invariants are pinned TRUE — a merge or accuracy break
    * flips the row hash — and `verified` mirrors the engine's
    * Gates.verifyInPlan exactly (the q41 convention): true iff the corpus
    * is within the in-plan verification bound. LAZY: referenced by the
    * catalog val during object init (the q191 lesson). */
  private[graft] lazy val BottomKQuantileSql =
    """WITH ev AS (SELECT event_type, event_id, value,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)
           AS BIGINT) AS hk
         FROM events WHERE value IS NOT NULL),
       samp AS (SELECT * FROM (
         SELECT ev.*, row_number() OVER (PARTITION BY event_type
           ORDER BY hk, event_id) AS rn FROM ev) WHERE rn <= 128),
       ranked AS (SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
           ORDER BY value, event_id) AS vr,
         count(*) OVER (PARTITION BY event_type) AS sn FROM samp),
       est AS (SELECT event_type, max(sn) AS sn,
         max(CASE WHEN vr = (sn + 1) // 2 THEN value END) AS est_p50,
         max(CASE WHEN vr = (sn * 9 + 9) // 10 THEN value END) AS est_p90
         FROM ranked GROUP BY 1)
       SELECT event_type, CAST(sn AS BIGINT) AS sn, est_p50, est_p90,
         true AS merge_equals_full, true AS p50_ok, true AS p90_ok,
         (SELECT count(*) FROM ev) <= 20000 AS verified
       FROM est
       ORDER BY event_type"""
}
