package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.Q
import graft.ops.{PipelineOps, RunScope, Upsert}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming pillars (SURVEY.md §2.8): the reference's
  * cron-triggered batch-of-10 ingestion IS manual micro-batching
  * (`/root/reference/api_server.py:18-26`,
  * `run_ingestion_with_metrics.sh:100`), and its cross-run dedup by key
  * (`io_utils.py:34`) is stateful `dropDuplicates`. Re-expressed natively:
  * file source → `Trigger.AvailableNow` (process everything, then stop —
  * batch-verifiable) → stateful operators with watermarks bounding state.
  *
  * State contract at 100 TB (SURVEY.md §7.4.6): unbounded dedup state is a
  * leak — `withWatermark` + event-time key retention caps it; the watermark
  * also finalizes windows for append-mode sinks. Checkpoint dir = the
  * single-writer lock (the reference's mkdir mutex, shell script `:59-63`).
  *
  * Every stream starts in one place, [[drain]]; a streaming twin states
  * only how its rows arrive (a source from [[tableStream]],
  * [[documentsStream]] or [[stagedStream]]) and calls its batch rule's
  * Column code and oracle.
  */
object StreamingOps {

  private val runSeq = new AtomicInteger(0)

  /** Shuffle-partition count for STATEFUL streaming runs. Each stateful
    * operator instantiates one state store PER shuffle partition, and every
    * micro-batch pays a checkpoint commit per store — at `local[32]` with
    * `spark.sql.shuffle.partitions=32` that is 32 state stores (and 32
    * delta-file fsyncs per batch) managing ~150 rows of state (VERDICT r1:
    * q61 22.4 s, q60 11.2 s under the driver config). State-store count is
    * sized by STATE volume, not by cluster cores: 4 stores hold this state
    * with room to spare; a real 100 TB stream sizes this to
    * state-bytes / executor-memory, independent of the batch-side shuffle
    * setting. Per-batch foreachBatch work is arrival-sized, so the same
    * count is right for its batch-side jobs too.
    */
  private val StreamShufflePartitions = "4"

  /** Where a drained stream's rows go. */
  private[graft] sealed trait Sink

  /** The memory table named after the query (`graft_stream_<n>`),
    * written in `outputMode`.
    *
    * Output-mode note (VERDICT r1 suggested append for q61): under
    * `Trigger.AvailableNow` the watermark ends at max(event_time) - delay,
    * which never passes the FINAL day's window end, so append mode would
    * hold back the last window per group and break the batch oracle.
    * Complete mode is correct for the all-windows demo; the production
    * append path (finalized windows only) is [[windowAggAppend]], spec-
    * checked in StreamingSpec. */
  private[graft] final case class Memory(outputMode: String) extends Sink

  /** `body` per micro-batch, each batch in its own [[RunScope.batch]]. */
  private[graft] final case class EachBatch(body: (DataFrame, Long) => Unit)
      extends Sink

  /** The one streaming driver: runs `source` to completion
    * (`Trigger.AvailableNow`) into `sink` from a fresh checkpoint dir of
    * the current run scope (never resumed: each run drains from scratch
    * by design), under the state-store-sized shuffle width, and returns
    * the finished query (its progress stays readable). */
  private[graft] def drain(source: DataFrame, sink: Sink): StreamingQuery = {
    val ckpt = RunScope.scratch(sink match {
      case _: Memory => "graft_ckpt_mem"
      case _: EachBatch => "graft_ckpt_feb"
    })
    graft.LocalSpark.withConf(source.sparkSession,
        "spark.sql.shuffle.partitions" -> StreamShufflePartitions) {
      val writer = sink match {
        case Memory(outputMode) => source.writeStream.format("memory")
          .queryName(s"graft_stream_${runSeq.incrementAndGet()}")
          .outputMode(outputMode)
        case EachBatch(body) => source.writeStream
          .foreachBatch((batch: DataFrame, id: Long) =>
            RunScope.batch(body(batch, id)))
      }
      val q = writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
  }

  /** [[drain]] into a memory sink; the sink's table. */
  private def memoryTable(source: DataFrame, outputMode: String): DataFrame =
    source.sparkSession.table(drain(source, Memory(outputMode)).name)

  /** Table `table` of the sf dir `d` as a file stream. The file source
    * requires a directory path, so the stream reads the sf dir with a
    * glob filter selecting the one table.
    *
    * Events' `ts` precision varies with the generator: TIMESTAMP(NANOS)
    * files need the raw-INT64 read + integer-division conversion,
    * micros-precision files arrive as TIMESTAMP already (mirrors
    * `Tables.events`' type dispatch — round 9's data switched nanos →
    * micros and the unconditional `ts div 1000` broke every
    * ts-consuming stream query with DATATYPE_MISMATCH, BENCH_r09
    * q60-q65). Watermarks require TIMESTAMP
    * ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]); the NTZ→TZ cast under the
    * UTC session timezone preserves wall-clock values, so windows and
    * date_format still match the batch oracle. */
  private[graft] def tableStream(s: SparkSession, d: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$d/$table.parquet").schema
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(d)
    if (table != "events") raw
    else schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** The documents stream fanned out by doc_id — the STREAMING face of
    * the `Tables.fanOut` under-split guard: the file source inherits the
    * arriving shard's split count, and a single-file test corpus batches
    * as ONE task, serializing every downstream tokenize/shingle chain
    * (measured: q66 25 s single-task vs ~2 s fanned at sf0.1). At real
    * scale arriving shards are many files and the exchange moves one
    * micro-batch of raw text — bounded by arrival rate, not corpus
    * size. */
  private def documentsStream(s: SparkSession, d: String): DataFrame =
    tableStream(s, d, "documents")
      .repartition(graft.schema.Tables.minSplits(s), col("doc_id"))

  /** The parquet files of `dir`, one file per micro-batch. */
  private def stagedStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Exact fractional epoch seconds of a java.sql.Timestamp — getTime is
    * millisecond-floored, so micros-precision event times would drift vs
    * the batch oracle's epoch(ts); getEpochSecond + getNanos is exact. */
  private def epochSec(t: java.sql.Timestamp): Double =
    t.toInstant.getEpochSecond + t.getNanos / 1e9

  /** q163's stateful core, factored out so StreamingSpec can drive it
    * over a multi-batch MemoryStream: debounce each (user, type) lane by
    * `gapSec` against the lane's last SEEN event (kept or not), carrying
    * the last-seen timestamp in flatMapGroupsWithState state.
    *
    * State TTL (VERDICT r13 #6 — previously documented, now implemented):
    * EventTimeTimeout evicts any lane dormant past `ttlSec` of event
    * time — without it, per-lane state is 8 bytes × an UNBOUNDED key
    * universe. Eviction is semantics-free by construction: ttlSec ≫
    * gapSec, so an evicted lane's next event would have been kept under
    * the lag rule anyway (its gap exceeds ttlSec > gapSec), and a
    * re-admitted lane starts clean. Requires a watermark on the input's
    * event-time column; under EventTimeTimeout Spark also drops
    * watermark-late input rows — a no-op for the catalog's AvailableNow
    * single-batch runs (the watermark is still at its initial value
    * while the only data batch processes). Timer re-arm is safe without
    * a watermark clamp: the else branch only runs with input rows, which
    * are never late, so last-seen + ttl always exceeds the watermark. */
  private[graft] def debounceLanes(
      events: org.apache.spark.sql.Dataset[
        (Long, String, java.sql.Timestamp, Long)],
      gapSec: Double, ttlSec: Double): org.apache.spark.sql.Dataset[
        (String, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[LaneState, (String, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        case ((_, et), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq
              .map(r => (epochSec(r._3), r._4))
              .sortBy(identity)
            var last = state.getOption.map(_.lastTs)
            val out = Seq.newBuilder[(String, Long)]
            sorted.foreach { r =>
              if (last.forall(l => r._1 - l > gapSec)) out += ((et, r._2))
              last = Some(r._1)
            }
            last.foreach { l =>
              state.update(LaneState(l))
              state.setTimeoutTimestamp(
                (l * 1000).toLong + (ttlSec * 1000).toLong)
            }
            out.result().iterator
          }
      }
  }

  /** q176's stateful core, factored like [[debounceLanes]]: last-touch
    * attribution — clicks/views update the user's touch state, purchases
    * emit (channel, cents) judged against the touch within `windowSec`.
    *
    * State TTL (VERDICT r13 #6): EventTimeTimeout evicts a user whose
    * touch is `ttlSec` dormant. With ttlSec ≥ windowSec eviction cannot
    * change any verdict: once the watermark passes touch + ttl, every
    * future non-late purchase is outside the attribution window and
    * resolves 'direct' with or without the state. One subtlety the
    * debounce lane doesn't have: a purchase-only batch leaves the OLD
    * touch in state, whose timeout may already sit at/below the current
    * watermark (re-arming there would throw) — in that case the touch is
    * ttl-stale and is dropped instead of re-armed, which is exactly what
    * its timeout would have done. */
  private[graft] def attributeTouches(
      events: org.apache.spark.sql.Dataset[
        (Long, String, java.sql.Timestamp, Long, java.lang.Long)],
      windowSec: Double, ttlSec: Double): org.apache.spark.sql.Dataset[
        (String, java.lang.Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, (String, java.lang.Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq
              .map(r => (r._2, epochSec(r._3), r._4, r._5))
              .sortBy(r => (r._2, r._3))
            var st = state.getOption
            val out = Seq.newBuilder[(String, java.lang.Long)]
            sorted.foreach { r =>
              if (r._1 == "click" || r._1 == "view")
                st = Some(TouchState(r._1, r._2))
              else if (r._1 == "purchase") {
                val ch = st.filter(t => r._2 - t.ts <= windowSec)
                  .map(_.tpe).getOrElse("direct")
                out += ((ch, r._4))
              }
            }
            st match {
              case Some(t) =>
                val timeoutMs = (t.ts * 1000).toLong + (ttlSec * 1000).toLong
                if (timeoutMs > state.getCurrentWatermarkMs()) {
                  state.update(t)
                  state.setTimeoutTimestamp(timeoutMs)
                } else if (state.exists) state.remove()
              case None => ()
            }
            out.result().iterator
          }
      }
  }

  /** Retention-pruned newest-version read (round 17, VERDICT r16 #4):
    * a drained stream's versioned store holds one version directory per
    * micro-batch; the serve reads only the newest, so the handoff point
    * applies the q205 retention rule — keep a 2-version debug window,
    * vacuum the rest. Bounds the store's on-disk footprint by the
    * retention constant instead of the stream's lifetime (the disk twin
    * of the cache-residency rule; DiskLifecycleSpec asserts it). */
  private def latestPruned(s: SparkSession, store: String): String = {
    Upsert.vacuumVersions(s, store, keepLast = 2)
    Upsert.latestVersionPath(s, store)
  }

  /** Production append-mode windowed aggregation: emits ONLY watermark-
    * finalized windows (no driver-side complete-mode materialization — the
    * sink receives each window once, append-only, which is what a parquet/
    * Kafka sink needs at scale). Exposed for reuse; StreamingSpec asserts
    * its emitted set equals the batch aggregate restricted to finalized
    * windows.
    */
  def windowAggAppend(stream: DataFrame, watermarkDelay: String): DataFrame =
    stream.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))

  /** Update mode emits one row per user per batch, and AvailableNow may
    * split the input into several batches: keep the LAST emitted state
    * per user (n_events is monotone). q62's and q65's serve. */
  private def lastPerUser(out: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
    out.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** q60's oracle, shared by q63: distinct users per event type. */
  private[graft] val DistinctUsersSql =
    """SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
              FROM events GROUP BY event_type ORDER BY event_type"""

  /** q62's oracle, shared by q65: the final per-user running state is
    * the batch aggregate. */
  private[graft] val UserTotalsSql =
    """SELECT user_id, count(*) AS n_events,
              round(sum(value), 2) AS sum_value
              FROM events GROUP BY user_id ORDER BY user_id"""

  /** One micro-batch's observed progress. */
  final case class BatchProgress(
      batchId: Long, numInputRows: Long, batchDurationMs: Long)

  /** StreamingQueryListener-backed run observability (SURVEY §2.8; the
    * streaming twin of the reference's per-run metric lines,
    * `run_ingestion_with_metrics.sh:89-122`): collects rows-processed and
    * batch durations per micro-batch. Progress events arrive on the
    * listener bus asynchronously — [[awaitBatches]] bounds the wait.
    */
  final class ProgressListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      buf.add(BatchProgress(e.progress.batchId, e.progress.numInputRows,
        e.progress.batchDuration))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def batches: Seq[BatchProgress] = {
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSeq
    }
    /** Wait (bounded) until at least `n` batches with rows have been
      * observed — the bus is async relative to query termination. */
    def awaitBatches(n: Int, timeoutMs: Long = 10000): Seq[BatchProgress] = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (batches.count(_.numInputRows > 0) < n &&
          System.nanoTime() < deadline) Thread.sleep(50)
      batches
    }
  }

  val catalog: Seq[Q] = Seq(

    // ---- stateful streaming dedup with watermark: distinct (user_id,
    // event_type) pairs; oracle = batch DISTINCT count (AvailableNow
    // processes all data before the watermark advances, so no row is
    // dropped as late and stream ≡ batch)
    Q("q60_stream_dedup",
      (s, d) => {
        val deduped = memoryTable(tableStream(s, d, "events")
          .withWatermark("ts", "1 hour")
          .dropDuplicates("user_id", "event_type"), "append")
        deduped.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct_users"))
          .orderBy(col("event_type"))
      },
      Some(DistinctUsersSql)),

    // ---- streaming event-time tumbling window aggregation (complete mode
    // emits every window); oracle = the equivalent batch day-grain agg
    Q("q61_stream_window_agg",
      (s, d) => {
        val agg = memoryTable(tableStream(s, d, "events")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value")), "complete")
        agg.select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_events"), col("sum_value"))
          .orderBy(col("day"), col("event_type"))
      },
      Some(graft.ops.EventOps.DailyWindowSql)),

    // ---- arbitrary stateful processing (mapGroupsWithState): per-user
    // running profile kept as explicit state — the custom-state primitive
    // the reference's cross-run metrics accumulation would map onto.
    // AvailableNow processes everything, so final state ≡ batch aggregate,
    // which the oracle states directly.
    Q("q62_stream_stateful",
      (s, d) => {
        import s.implicits._
        lastPerUser(memoryTable(tableStream(s, d, "events")
          .select(col("user_id").as[Long], col("value").as[Double])
          .as[(Long, Double)]
          .groupByKey(_._1)
          .mapGroupsWithState[UserState, (Long, Long, Double)](
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
            case (uid, rows, state) =>
              val prev = state.getOption.getOrElse(UserState(0L, 0.0))
              var n = prev.n; var sum = prev.sum
              rows.foreach { r => n += 1; sum += r._2 }
              state.update(UserState(n, sum))
              (uid, n, sum)
          }.toDF("user_id", "n_events", "sum_value"), "update"))
      },
      Some(UserTotalsSql)),

    // ---- stream-stream inner join: views ⋈ clicks per user within a
    // 30-minute event-time window. BOTH sides carry watermarks and the join
    // condition bounds event time, so each side's buffered state is evicted
    // once the watermark passes (the unbounded-state hazard of
    // stream-stream joins, bounded exactly as SURVEY §7.4.6 prescribes for
    // dedup). AvailableNow processes all input within the watermark, so the
    // emitted pairs equal the batch time-range join — the oracle.
    Q("q64_stream_stream_join",
      (s, d) => {
        val ev = tableStream(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "2 hours")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = memoryTable(views.join(clicks,
          col("v_user") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("interval 30 minutes")),
          "append")
        joined.groupBy((col("v_user") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("bucket"))
      },
      Some(graft.ops.EventOps.ViewClickPairsSql)),

    // ---- transformWithState (Spark 4's arbitrary-state API, the successor
    // to mapGroupsWithState used by q62): per-user running (count, sum) in
    // an explicit ValueState, RocksDB state store (the API requires it —
    // and it is also the 100 TB answer to state > executor memory: state
    // lives off-heap/on-disk with changelog checkpointing). AvailableNow ⇒
    // final emitted state ≡ batch aggregate, the same oracle as q62.
    Q("q65_stream_tws",
      (s, d) => {
        import s.implicits._
        graft.LocalSpark.withConf(s,
            "spark.sql.streaming.stateStore.providerClass" ->
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          // EventTime mode powers the TTL timers (CountSumProcessor
          // scaladoc); the untouched ts column carries the watermark
          lastPerUser(memoryTable(tableStream(s, d, "events")
            .withWatermark("ts", "0 seconds")
            .select(col("user_id"), col("value"), col("ts"))
            .as[(Long, Double, java.sql.Timestamp)]
            .groupByKey(_._1)
            .transformWithState(new CountSumProcessor(),
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              org.apache.spark.sql.streaming.OutputMode.Update())
            .toDF("user_id", "n_events", "sum_value"), "update"))
        }
      },
      Some(UserTotalsSql)),

    // ---- streaming upsert into a PARTITIONED parquet store via
    // foreachBatch + Upsert.partitionedUpsert (VERDICT r1 #8): each
    // micro-batch dedups itself, then keep-first-merges into ONLY the
    // event_type partitions it touches — the store read is partition-pruned
    // and the write is dynamic partition overwrite, so per-batch cost
    // follows the batch's key range, not O(store). Idempotent against
    // replays (keep-first: existing rows win). Store afterwards holds
    // exactly the distinct (user_id, event_type) pairs — the oracle states
    // that count.
    Q("q63_stream_upsert",
      (s, d) => {
        val store = RunScope.scratch("graft_stream_store")
        drain(tableStream(s, d, "events")
            .select(col("user_id"), col("event_type")),
          EachBatch { (batch, _) =>
            val incoming = batch.dropDuplicates("user_id", "event_type")
            Upsert.partitionedUpsert(batch.sparkSession, store, incoming,
              keys = Seq("user_id", "event_type"), partCol = "event_type",
              order = Seq(col("user_id")))
          })
        s.read.parquet(store)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct_users"))
          .orderBy(col("event_type"))
      },
      Some(DistinctUsersSql)),

    // ---- stream-static decontamination (q66): q90's graded eval-overlap
    // rule run ON A STREAM — corpus shards are scored as they land
    // against a STATIC benchmark shingle set (an eval suite is small by
    // definition). STATELESS by construction: the in-stream work is
    // shingle-explode → stream-static equi-JOIN on the gram — no
    // watermark, no state store, append mode — so the recurring cost
    // follows shard ARRIVAL RATE, not corpus size; the per-doc rollup
    // happens batch-side over the sink, the standard streaming-ETL split
    // (sink raw matches, aggregate downstream — q60's shape). A first
    // cut scored per row with array_intersect against ONE broadcast
    // array holding the whole benchmark set — semantically identical but
    // 25× slower at sf0.1, because array_intersect rebuilds the
    // 750k-element set's hash table PER ROW; the equi-join builds it
    // once per batch. Same output, same oracle as q90: one rule, two
    // engine paths (the q80/q64 precedent).
    Q("q66_stream_decontam",
      (s, d) => {
        import graft.ops.TextOps
        // static side: the SHARED persisted fingerprint relation
        // (CacheManager dedups with the batch q90, so recurring runs pay
        // it once)
        val bench = TextOps.docsWithShinglesHashed(s, d)
          .filter(col("doc_id") % 50 === 0)
          .select(explode(col("sh")).as("s"))
          .distinct()
        // the shared builder's two-step select keeps tokens materialized
        // before the shingle transform (persist is not available on a
        // stream, but single-consumer projections don't collapse because
        // the alias is non-cheap and multiply referenced).
        // explode_OUTER, deliberately: a plain explode makes
        // InferFiltersFromGenerate add `size(sh) > 0`,
        // and predicate pushdown then shoves that filter BELOW the
        // fan-out repartition with the whole shingle+tokenize chain
        // inlined — the entire corpus gets shingled serially in the
        // one-split scan task (measured: 24-31 s vs 1.8 s at sf0.1).
        // outer explode infers nothing; the equi-join drops the null
        // gram of empty-shingle docs, so the semantics are identical.
        val matches = memoryTable(TextOps.fingerprints(documentsStream(s, d))
          .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
            explode_outer(col("sh")).as("s"))
          .join(broadcast(bench), Seq("s"))
          .select(col("doc_id"), col("n_sh")), "append")
        // the per-doc rollup is q90's
        TextOps.ngramOverlapReport(matches)
      },
      Some(graft.ops.TextOps.NgramDecontamSql)),

    // ---- streaming quality filter (q67): q47's Gopher-rule verdicts ON
    // A STREAM — every arriving shard gets its per-doc keep decision as
    // it lands, the shape a production ingest gate runs in. The rule
    // transform is PipelineOps.qualityVerdicts, the very same Column
    // tree the batch q47 runs (one rule, two engine paths — the
    // q80/q64/q66 precedent), and it is pure map-side built-ins: no
    // watermark, no state store, append mode, so the recurring cost
    // follows shard arrival rate and a doc's verdict emits exactly once.
    Q("q67_stream_quality",
      (s, d) =>
        memoryTable(graft.ops.PipelineOps.qualityVerdicts(
            documentsStream(s, d)), "append")
          .orderBy(col("doc_id")),
      Some(graft.ops.PipelineOps.QualityFilterSql)),

    // ---- streaming PII redaction (q68): q38's seed-then-redact proof ON
    // A STREAM — the compliance gate runs where the data lands, before
    // anything persists downstream. Same Column tree as batch q38
    // (TextOps.piiRedactFlags), stateless map-side regexes, append mode:
    // per-shard cost follows arrival rate and each doc's redaction proof
    // emits exactly once.
    Q("q68_stream_redaction",
      (s, d) =>
        memoryTable(graft.ops.TextOps.piiRedactFlags(
            documentsStream(s, d)), "append")
          .orderBy(col("doc_id")),
      Some(graft.ops.TextOps.PiiRedactSql)),

    // ---- streaming RAG chunking (q107): q104's overlapping-window
    // chunker ON A STREAM — retrieval-corpus prep running where shards
    // land, feeding the embedding/indexing pipeline incrementally instead
    // of re-chunking the corpus per refresh. Same Column tree as batch
    // q104 (TextOps.ragChunks: explode over window starts + slice —
    // stateless map-side, no watermark, no state store), append mode, so
    // each doc's chunks emit exactly once and per-shard cost follows
    // arrival rate. Shares q104's oracle: one rule, two engine paths
    // (the q47/q67, q38/q68 precedent).
    Q("q107_stream_rag_chunks",
      (s, d) =>
        memoryTable(graft.ops.TextOps.ragChunks(documentsStream(s, d)),
            "append")
          .orderBy(col("doc_id"), col("chunk_idx")),
      Some(graft.ops.TextOps.RagChunksSql)),

    // ---- streaming ANN serving (q108): query vectors ARRIVE AS A
    // STREAM and probe the written cell-partitioned IVF index (the q44b
    // snapshot posture) via foreachBatch — the online half of the
    // build-once/probe-many serving design. Each micro-batch is one
    // batch-side ivfProbe: broadcast the batch's (query, probed-cell)
    // pairs into a partition-pruned index read, rank, emit top-k to the
    // store. Recurring cost follows query ARRIVAL RATE × probed cells —
    // never corpus size; no state store (the index IS the state, on
    // disk). Same gated exact-recall verification contract as
    // q41/q44/q44b/q44c over the emitted results.
    Q("q108_stream_ann_serving",
      (s, d) => {
        import graft.ops.VectorOps
        val corpus = graft.schema.Tables.embeddings(s, d).filter(col("vec_id") >= 10)
        // ADVICE r18 #2: this build is content-identical to q44b's (same
        // corpus filter vec_id >= 10, dim 64, nCells 16, deterministic
        // centroids), so both call sites share ONE (table, tag) pair —
        // whichever family member runs first this JVM pays the one
        // corpus-sized assignment pass and storage; the other reuses it.
        val idx = VectorOps.ivfWriteIndexOnce(s,
          VectorOps.ivfBuild(corpus, dim = 64, nCells = 16),
          VectorOps.SharedIvfIndexTable, VectorOps.sharedIvfIndexTag(d))
        val store = RunScope.scratch("graft_ann_serve_out")
        // batch-side plan: ivfProbe's window/top-k are legal here, and
        // the probe's cell join partition-prunes the index scan. The
        // sink is REPLAY-IDEMPOTENT (VERDICT r11 #2): each batch's
        // results land in their own batch_id partition under dynamic
        // overwrite, so a retried micro-batch replaces its partition
        // instead of appending duplicate (q_id, rank) rows —
        // StreamingSpec proves a re-run leaves the store unchanged.
        drain(tableStream(s, d, "embeddings").filter(col("vec_id") < 10),
          EachBatch { (batch, batchId) =>
            Upsert.idempotentBatchAppend(batch.sparkSession, store,
              VectorOps.ivfProbe(idx, batch, k = 5, nProbe = 4), batchId)
          })
        val queries = graft.schema.Tables.embeddings(s, d).filter(col("vec_id") < 10)
        VectorOps.gatedAnnVerification(s.read.parquet(store), corpus,
          VectorOps.cosineTopK(queries, corpus, k = 5),
          k = 5,
          recallFloor = VectorOps.RecallFloors("q108_stream_ann_serving"))
      },
      // avg_recall pinned to the sf0.01 measurement (VERDICT r10 #3);
      // equals q44b's by construction (same index params, same queries)
      Some(graft.ops.VectorOps.IvfRecallSql)),

    // ---- streaming near-dup GATE (q109): arriving docs are checked against
    // the WRITTEN banded-LSH snapshot index as they land — the crawl-ingest
    // dedup pattern (admit a shard only after knowing what it duplicates).
    // Static side: the snapshot (docs below the 80% cut) bands ONCE into the
    // bucketed index table (the q34b posture) with its df stats written
    // alongside as the `_hot` table. Stream side: each micro-batch
    // tokenizes/shingles/bands ONLY its own docs under the FROZEN snapshot
    // hot list (ADVICE r10 #3; the q44c frozen-centroid posture) — the
    // batch's signatures are a pure per-doc function of (hot list, doc),
    // byte-identical to the scheme q34c bands its increment with, so batch
    // and stream candidate sets coincide by construction instead of by two
    // signature schemes both reaching full recall — probes the index by
    // (band, bucket), and exact-verifies candidates against full shingle
    // sets fingerprinted for the candidates alone. Recurring cost ∝ batch
    // size; the snapshot never re-bands. Output = q34c's cross pairs, same
    // oracle.
    Q("q109_stream_neardup_gate",
      (s, d) => {
        import graft.ops.TextOps
        // a warm run (shared index built) tokenizes only each arriving
        // batch + the candidates' verify lookups
        val cut = graft.schema.Cuts.documents(s, d)
        // the SHARED snapshot LSH index (ArtifactCache): q34c/q144/q146/
        // q148 probe the same artifact; first builder this JVM pays it
        val table = TextOps.SnapshotLshTable
        // batch docs are documents rows too: one unfanned scan serves
        // every candidate lookup
        val (docs, text) = graft.schema.Tables.documentsAndScan(s, d)
        TextOps.writeSnapshotLshIndex(s,
          TextOps.fingerprints(docs).filter(col("doc_id") < cut),
          dfCap = 16, table, TextOps.snapshotLshTag(d))
        val store = RunScope.scratch("graft_neardup_gate_out")
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, _) =>
            val cand = TextOps.crossCandidates(batch.sparkSession, table,
              TextOps.fingerprints(batch.repartition(
                graft.schema.Tables.minSplits(batch.sparkSession),
                col("doc_id"))))
            TextOps.verifyJaccardCandidates(cand,
                TextOps.lookupForCandidates(text, cand), threshold = 0.5)
              .select(col("id_a"), col("id_b"),
                round(col("jaccard"), 4).as("jaccard"))
              .write.mode("append").parquet(store)
          })
        s.read.parquet(store).orderBy(col("id_a"), col("id_b"))
      },
      Some(graft.ops.TextOps.SnapshotCrossPairsSql)),

    // ---- streaming EXACT-dedup gate (q137): q121's written hash index
    // probed by arriving docs per micro-batch — the third streaming probe
    // of a written index (LSH q109, IVF q108), completing the
    // batch / written-index / streaming triangle for the EXACT-dedup
    // pillar (q31 / q121 / q137) exactly as it exists for near-dup text
    // and ANN. Static side: the snapshot (docs below the 80% cut) hashes
    // ONCE into the bucketed index. Stream side: the increment — the
    // remaining docs plus q121's simulated re-crawl (every 7th snapshot
    // doc re-arriving under id+1,000,000), both expressed INSIDE the
    // stream projection so the re-fetched pages flow through the same
    // micro-batches a crawler would deliver them in — hashes map-side,
    // equi-joins the index on text_hash (bucket layout satisfies the
    // index side: only the batch's 8-byte hashes shuffle), and every
    // candidate is verified by exact normalized-text equality against the
    // snapshot source, so a hash collision cannot admit a false pair.
    // Per-batch cost ∝ arrival rate; the snapshot is never re-hashed. No
    // state store: the index IS the state, which is what lets the gate
    // restart from nothing. Output = q121's pair set, same oracle.
    Q("q137_stream_exact_dedup_gate",
      (s, d) => {
        import graft.ops.TextOps
        val docs = graft.schema.Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        // the SHARED snapshot hash index (ArtifactCache): q121/q148
        // probe the same artifact; the first builder this JVM pays it
        val table = TextOps.ExactHashTable
        TextOps.writeExactHashIndex(s,
          docs.filter(col("doc_id") < cut), table, TextOps.exactHashTag(d))
        val store = RunScope.scratch("graft_exact_gate_out")
        // the increment, as the stream delivers it: fresh docs plus the
        // re-crawled every-7th snapshot page under its re-fetch id
        drain(tableStream(s, d, "documents")
            .filter(col("doc_id") >= cut || col("doc_id") % 7 === 0)
            .withColumn("doc_id",
              when(col("doc_id") < cut, col("doc_id") + lit(1000000L))
                .otherwise(col("doc_id"))),
          EachBatch { (batch, _) =>
            TextOps.probeExactHashIndex(batch.sparkSession, batch,
                docs.filter(col("doc_id") < cut), table)
              .write.mode("append").parquet(store)
            ()
          })
        s.read.parquet(store).orderBy(col("snap_id"), col("inc_id"))
      },
      // q121's oracle verbatim: one increment derivation, two engine paths
      Some(graft.ops.TextOps.ExactDedupIncSql)),

    // ---- streaming BM25 index maintenance + serve (q188): the third
    // leg of the retrieval triangle (q58 builds from scratch, q187
    // maintains under a batch increment, this maintains under a STREAM).
    // Static side: the shared snapshot postings index (ArtifactCache;
    // q187 probes the same artifact). Stream side: each micro-batch of
    // arriving docs tokenizes once and lands its aggregated postings
    // plus one (n_docs, Σdl) moment row in a per-batch-id slot —
    // OVERWRITE per slot, so a replayed batch rewrites its own delta
    // instead of double-counting (the q112 idempotency rule without
    // needing versioned snapshots: index deltas are disjoint by batch).
    // Serve: snapshot ∪ all deltas with every statistic merged
    // algebraically — BM25's inputs are all sums/counts, so the served
    // top-20 equals a from-scratch full-corpus rebuild bit-for-bit and
    // stream ≡ batch ≡ incremental by CONSTRUCTION (q187's serve path
    // verbatim, fed from the store). Oracle: q58's SQL, the third
    // engine path through one rule.
    Q("q188_stream_bm25_serve",
      (s, d) => {
        import graft.ops.RetrievalOps
        val docs = graft.schema.Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val table = RetrievalOps.Bm25PostingsTable
        RetrievalOps.writeBm25SnapshotIndex(s,
          docs.filter(col("doc_id") < cut), table, RetrievalOps.bm25Tag(d))
        val store = RunScope.scratch("graft_bm25_stream")
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, batchId) =>
            RetrievalOps.appendBm25Delta(batch, store, batchId)
          })
        val (deltaPost, deltaStats) = RetrievalOps.readBm25Deltas(s, store)
        RetrievalOps.bm25ServeMerged(s, table, deltaPost, deltaStats)
      },
      Some(graft.ops.RetrievalOps.Bm25Sql)),

    // ---- streaming perceptual-dedup gate (q189): the multimodal
    // family's missing stream leg (q119/q182 are batch sweeps) — the
    // media twin of q137's exact-text gate. Static side: the snapshot
    // images (docs below the 80% cut) decode + signature ONCE into a
    // written 72-byte/asset index bucketed by aHash; payloads are NOT
    // stored — the index is the byte-bounded derived state, which is
    // what makes signature dedup viable over 100 TB of media. Stream
    // side: arrivals — fresh docs plus q137's every-7th re-crawl, whose
    // re-fetched asset re-synthesizes the SAME scene under its re-fetch
    // id — decode + signature per micro-batch (narrow mapPartitions,
    // payloads never shuffle), probe the index by aHash equality, and
    // exact-verify on the full 64-byte signature, so an aHash collision
    // cannot admit a false pair. Per-batch cost ∝ arrival rate; the
    // snapshot is never re-decoded. Matches land in per-batch-id
    // OVERWRITE slots (the q188 idempotency rule). Oracle: pure doc_id
    // arithmetic — every re-crawl matches its original, a re-crawled
    // 97-group member also matches its scene partner, and a fresh
    // arrival matches only across a cut-straddling 97-group.
    Q("q189_stream_media_dedup_gate",
      (s, d) => {
        import graft.ops.MultimodalOps
        val docs = graft.schema.Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val table = MultimodalOps.MediaSigTable
        MultimodalOps.writeMediaSigIndex(s,
          docs.filter(col("doc_id") < cut), table,
          MultimodalOps.mediaSigTag(d))
        val store = RunScope.scratch("graft_media_gate_out")
        drain(tableStream(s, d, "documents")
            .filter(col("doc_id") >= cut || col("doc_id") % 7 === 0)
            .select(
              when(col("doc_id") < cut, col("doc_id") + lit(1000000L))
                .otherwise(col("doc_id")).as("media_id"),
              col("doc_id").as("seed"),
              col("n_chars")),
          EachBatch { (batch, batchId) =>
            import batch.sparkSession.implicits._
            val sigs = MultimodalOps.imageSignatures(
              MultimodalOps.patternImagesOf(batch.as[(Long, Long, Long)]))
            graft.ops.SlotStore.writeSlot(
              MultimodalOps.probeMediaSigIndex(batch.sparkSession, table,
                sigs), store, batchId)
            ()
          })
        graft.ops.SlotStore.read(s, store)
          .getOrElse(s.range(0)
            .select(lit(0L).as("snap_id"), lit(0L).as("inc_id")))
          .orderBy(col("snap_id"), col("inc_id"))
      },
      Some("""WITH cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8)
                AS BIGINT) AS cut FROM documents),
              mx AS (SELECT max(doc_id) AS mx FROM documents),
              recrawl AS (SELECT doc_id AS o FROM documents, cut
                WHERE doc_id < cut.cut AND doc_id % 7 = 0),
              self_p AS (SELECT o AS snap_id, o + 1000000 AS inc_id
                FROM recrawl),
              partner_p AS (
                SELECT CASE WHEN o % 97 = 0 THEN o + 1 ELSE o - 1 END
                    AS snap_id,
                  o + 1000000 AS inc_id
                FROM recrawl, cut, mx
                WHERE o % 97 IN (0, 1)
                  AND (CASE WHEN o % 97 = 0 THEN o + 1 ELSE o - 1 END)
                    < cut.cut
                  AND (CASE WHEN o % 97 = 0 THEN o + 1 ELSE o - 1 END)
                    <= mx.mx),
              fresh_p AS (
                SELECT doc_id - 1 AS snap_id, doc_id AS inc_id
                FROM documents, cut
                WHERE doc_id >= cut.cut AND doc_id % 97 = 1
                  AND doc_id - 1 < cut.cut)
              SELECT snap_id, inc_id FROM (
                SELECT * FROM self_p
                UNION ALL SELECT * FROM partner_p
                UNION ALL SELECT * FROM fresh_p)
              ORDER BY snap_id, inc_id""")),

    // ---- streaming HLL cardinality gate (q192): the sketch family's
    // stream leg (q11b builds approximate distincts from scratch, q191
    // maintains the written per-lang sketches under a batch increment;
    // this maintains them under a STREAM). Each micro-batch sketches its
    // arrivals' shingles per lang into a per-batch-id overwrite slot
    // (4 KB/lang rows — the state a streaming rollup actually carries);
    // serve unions snapshot ∪ all slots register-wise. The arrivals
    // DELIBERATELY include q137's every-7th re-crawl: HLL register
    // unions are idempotent PER ITEM (same shingle → same register
    // max), so re-ingesting already-seen text cannot move the estimate
    // — the served value still equals a full rebuild over the UNIQUE
    // corpus, which the plan checks in-plan. That idempotency is the
    // operational point: a crawler's re-fetches cost one batch-sized
    // aggregate and corrupt nothing, with no dedup pass in front.
    // Oracle: q191's SQL verbatim — one rule, two engine paths.
    Q("q192_stream_hll_gate",
      (s, d) => {
        import graft.ops.TextOps
        val cut = graft.schema.Cuts.documents(s, d)
        TextOps.writeHllShingleSketch(s, d)
        val store = RunScope.scratch("graft_hll_gate_out")
        drain(tableStream(s, d, "documents")
            .filter(col("doc_id") >= cut || col("doc_id") % 7 === 0),
          EachBatch { (batch, batchId) =>
            // tokens MATERIALIZED before the shingle lambda (the
            // docsWithShingles barrier, reason (1)): without it the
            // collapsed per-batch plan re-tokenizes inside every
            // element_at — measured 9.2 s/drain vs 1.5 s with the barrier
            val tok = batch
              .select(col("lang"), TextOps.toks(col("text")).as("tk"))
              .persist()
            try {
              graft.ops.SlotStore.writeSlot(
                tok.select(col("lang"),
                    explode(TextOps.shingles(col("tk"))).as("t"))
                  .groupBy(col("lang"))
                  .agg(hll_sketch_agg(col("t"), 12).as("sk")),
                store, batchId)
            } finally { tok.unpersist(); () }
          })
        val streamed = graft.ops.SlotStore.read(s, store)
          .getOrElse(s.table(TextOps.HllSketchTable).limit(0))
        TextOps.hllVerifiedEstimates(s, TextOps.langShinglePosts(s, d),
          s.table(TextOps.HllSketchTable).unionByName(streamed))
      },
      Some(graft.ops.TextOps.HllVocabSql)),

    // ---- streaming bottom-k quantile gate (q194): q193's order-
    // statistics sketch maintained under a STREAM (the q192 posture —
    // one sketch algebra, three engine paths: batch build, batch
    // increment, stream). Each micro-batch reduces its arrivals to their
    // per-group bottom-k (one TopKByScore partial-aggregating pass,
    // ≤ k·groups rows out) into a per-batch-id overwrite slot — replay
    // rewrites the same slot, so a retried batch cannot double-
    // contribute; serve SET-unions snapshot ∪ slots by (event_type,
    // event_id) and re-bottom-ks. The arrivals DELIBERATELY include
    // q137's every-7th re-crawl: the sketch row is a pure per-item
    // function of (event_id, value) and merge is a set union, so a
    // re-ingested event lands on its existing key and moves nothing —
    // the served estimates still equal a full rebuild over the unique
    // corpus, which the plan CHECKS (merge_equals_full) alongside the
    // exact-rank bands, both under q193's linear VerifyGate posture
    // (in-plan at oracle SF, `verified = false` sentinel above — the
    // serve read is then sketch-sized). Oracle: q193's SQL verbatim —
    // one rule, two engine paths.
    Q("q194_stream_bottomk_gate",
      (s, d) => {
        import graft.ops.EventOps
        val cut = graft.schema.Cuts.events(s, d)
        EventOps.writeBottomKSketch(s, d)
        val store = RunScope.scratch("graft_bottomk_gate_out")
        drain(tableStream(s, d, "events").filter(col("value").isNotNull &&
            (col("event_id") >= cut || col("event_id") % 7 === 0)),
          EachBatch { (batch, batchId) =>
            graft.ops.SlotStore.writeSlot(
              EventOps.bottomKOf(EventOps.hashValues(batch)),
              store, batchId)
          })
        val streamed = graft.ops.SlotStore.read(s, store)
          .getOrElse(s.table(EventOps.BottomKTable).limit(0))
        val merged = EventOps.bottomKOf(
          s.table(EventOps.BottomKTable).unionByName(streamed)
            .dropDuplicates("event_type", "event_id"))
        EventOps.bottomKVerifiedQuantiles(s,
          EventOps.hashedValues(s, d), merged)
      },
      Some(graft.ops.EventOps.BottomKQuantileSql)),

    // ---- streaming count-min gate (q197): q196's linear frequency
    // sketch maintained under a STREAM (one sketch algebra, three engine
    // paths: batch build, batch increment+retraction, stream). Each
    // micro-batch aggregates its arrivals to (shingle, df) partials and
    // folds them into a 4×1024-counter slot written per batch-id —
    // OVERWRITE per slot, so a replayed batch rewrites its own delta
    // instead of double-counting. That exactly-once slot discipline is
    // LOAD-BEARING here in a way it is not for q192: HLL registers are
    // per-item idempotent (re-ingesting seen text moves nothing, so
    // q192's arrivals deliberately include re-crawls), but a LINEAR
    // sketch adds every update it sees — re-delivery would double-count
    // — so the arrival filter takes fresh docs only and idempotence
    // comes from the slot overwrite, not the algebra. The trade buys
    // the turnstile capability (q196's retraction) that the idempotent
    // sketches cannot express. Serve: snapshot ⊕ slots (bucket-wise
    // sum), checked bucket-for-bucket against a full-corpus rebuild
    // (exact by linearity) plus the estimate bounds, all in-plan.
    // Oracle: the full-corpus twin of q196's SQL — one rule, two
    // engine paths.
    Q("q197_stream_cms_gate",
      (s, d) => {
        import graft.ops.TextOps
        val cut = graft.schema.Cuts.documents(s, d)
        TextOps.writeCmsSnapshot(s, d)
        val store = RunScope.scratch("graft_cms_gate_out")
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, batchId) =>
            // tokens MATERIALIZED before the shingle lambda (the
            // docsWithShingles barrier): without it the collapsed
            // per-batch plan re-tokenizes inside every element_at
            val tok = batch
              .select(TextOps.toks(col("text")).as("tk"))
              .persist()
            try {
              graft.ops.SlotStore.writeSlot(
                TextOps.cmsOf(
                  tok.select(explode(TextOps.shingles(col("tk"))).as("t"))
                    .groupBy(col("t")).agg(count(lit(1)).as("c"))),
                store, batchId)
            } finally { tok.unpersist(); () }
          })
        val streamed = graft.ops.SlotStore.read(s, store)
          .getOrElse(s.table(TextOps.CmsSketchTable).limit(0))
        TextOps.cmsVerifiedTop(TextOps.docsWithShingles(s, d),
          s.table(TextOps.CmsSketchTable).unionByName(streamed))
      },
      Some(graft.ops.TextOps.CmsFullSql)),

    // ---- streaming CUSUM gate (q202): q199's change-point detector fed
    // from a STREAM — the shape a monitoring pipeline actually runs
    // (telemetry arrives continuously; the detector re-scores as days
    // fill in). The daily-count state is LINEAR (counts sum), so each
    // micro-batch reduces its arrivals to (event_type, day, c0) partials
    // in a per-batch-id overwrite slot (the q197 discipline — replay
    // rewrites, never double-counts) and serve sums slots day-wise and
    // re-runs the scaled integer CUSUM scorer over the day-level state
    // (~30 rows/type — the window pass is state-sized, never
    // event-sized). Stream ≡ batch by linearity of the count merge plus
    // determinism of the scorer; oracle: q199's SQL verbatim — one
    // rule, two engine paths.
    Q("q202_stream_cusum_gate",
      (s, d) => {
        import graft.ops.EventOps
        val store = RunScope.scratch("graft_cusum_gate_out")
        drain(tableStream(s, d, "events"), EachBatch { (batch, batchId) =>
          graft.ops.SlotStore.writeSlot(
            EventOps.dailyCounts(batch), store, batchId)
        })
        val daily = graft.ops.SlotStore.read(s, store)
          .map(_.groupBy(col("event_type"), col("day"))
            .agg(sum(col("c0")).as("c0")))
          .getOrElse(
            EventOps.dailyCounts(graft.schema.Tables.events(s, d)).limit(0))
        EventOps.cusumFromCounts(daily)
      },
      Some(graft.ops.EventOps.CusumSql)),

    // ---- streaming Pareto-frontier gate (q204): q203's merge identity
    // under a STREAM — each micro-batch reduces its arrivals to
    // (a, b, n_docs) counts in an overwrite slot (counts are linear →
    // the q197 replay discipline), serve runs ONE frontier pass over
    // snapshot-frontier ∪ slots and equals a full-corpus rebuild by the
    // frontier merge theorem, which the plan CHECKS point-for-point.
    // The state a streaming curation gate carries is the frontier
    // itself plus batch-count deltas — never documents. Oracle: q203's
    // SQL verbatim — one rule, two engine paths.
    Q("q204_stream_pareto_gate",
      (s, d) => {
        import graft.ops.TextOps
        val docs = graft.schema.Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        TextOps.writeParetoSnapshot(s, d)
        val store = RunScope.scratch("graft_pareto_gate_out")
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, batchId) =>
            graft.ops.SlotStore.writeSlot(
              TextOps.docAxes(batch)
                .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_docs")),
              store, batchId)
          })
        val streamed = graft.ops.SlotStore.read(s, store)
          .getOrElse(s.table(TextOps.ParetoTable).limit(0))
        TextOps.paretoVerifiedReport(
          TextOps.frontierOfCounts(
            s.table(TextOps.ParetoTable).unionByName(streamed)),
          TextOps.docAxes(docs))
      },
      Some(graft.ops.TextOps.ParetoMaintSql)),

    // ---- streaming sequence packing (q208): q207's fold UNDER A STREAM
    // — each micro-batch of arriving docs continues the per-shard greedy
    // fold from a q112-style VERSIONED bin store (batch B folds from the
    // newest committed version ≤ B and publishes v(B+1) under the atomic
    // commit-marker protocol — a replayed batch re-derives instead of
    // double-folding). Exactness rides the fold-suffix identity
    // inductively batch over batch, provided batches arrive in doc_id
    // order across batches (true for a replayed log and AvailableNow —
    // the q163 caveat applies verbatim); the oracle is the full-corpus
    // repack, one rule, three engine postures (q206/q207/q208). State
    // carried: the bin table (file-count-sized), never documents.
    Q("q208_stream_packing_gate",
      (s, d) => {
        import graft.ops.PipelineOps
        val cut = graft.schema.Cuts.documents(s, d)
        PipelineOps.writePackSnapshot(s, d)
        val store = RunScope.scratch("graft_pack_state")
        s.table(PipelineOps.PackTable)
          .write.mode("overwrite").parquet(s"$store/v0")
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, batchId) =>
            PipelineOps.foldPackBatch(batch, store, batchId, capacity = 256,
              nShards = 8)
          })
        // the self-describing pack tag (n_shards/capacity) stays in the
        // store; the served report drops it to match the oracle schema
        s.read.parquet(latestPruned(s, store))
          .drop("n_shards", "capacity")
          .orderBy(col("shard"), col("bin"))
      },
      Some(graft.ops.PipelineOps.PackMaintSql)),

    // ---- streaming CDC upsert WITH DELETES (q112, VERDICT r10 #7): q63
    // streams insert-if-absent and q76 batch-merges D/I/U — this closes
    // the gap between them: a changelog STREAM (synthesized from orders
    // with q76's exact derivation — deletes for key%10=0, two conflicting
    // updates where the later seq must win, inserts of fresh keys) is
    // applied per micro-batch to a VERSIONED parquet store through
    // applyChangelog, so deletes actually remove keys from the served
    // snapshot. The versioned store is what makes replay IDEMPOTENT:
    // batch B always derives v(B+1) from the latest version ≤ B, so a
    // retried batch rewrites its own version instead of double-applying
    // (UpsertSpec replays a batch and asserts the store is unchanged) —
    // the delete-capable upsert posture an append-only sink cannot
    // express. Sequencing across batches is safe by construction here:
    // every conflicting (seq 1, seq 2) pair for a key derives from the
    // SAME source row, hence lands in the same micro-batch where
    // applyChangelog's latest-wins window resolves it. Oracle: q76's CTE
    // on the replayed changelog — stream ≡ batch, one rule, two engine
    // paths.
    Q("q112_stream_cdc_upsert",
      (s, d) => {
        val store = RunScope.scratch("graft_cdc_store")
        graft.schema.Tables.orders(s, d)
          .select(col("o_orderkey").as("key"),
            col("o_totalprice").as("price"))
          .write.mode("overwrite").parquet(s"$store/v0")
        drain(tableStream(s, d, "orders"), EachBatch { (batch, batchId) =>
          val changes = graft.ops.PipelineOps.synthOrdersChangelog(
            batch.select(col("o_orderkey").as("key"),
              col("o_totalprice").as("price")))
          Upsert.applyChangelogVersioned(batch.sparkSession, store, changes,
            Seq("key"), "op", "seq", batchId)
        })
        s.read.parquet(latestPruned(s, store))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("price")), 2).as("total"))
      },
      Some(graft.ops.PipelineOps.CdcMergeSql)),

    // ---- streaming data-contract gate (q126): q118's admission rules ON
    // A STREAM — every arriving orders micro-batch is scored against the
    // SAME rule set (PipelineOps.orderContractReport, one rule set, two
    // engine paths) before anything lands downstream; the customer dim is
    // static and broadcast per batch (stream-static referential check).
    // Per-batch reports append into a per-run store keyed by batch id —
    // batch-sized rows, no state store — and the final read sums them.
    // The one q118 rule deliberately absent is key UNIQUENESS: it is not
    // additive across batches (cross-batch dups need the q121
    // written-index posture), which is exactly the kind of contract a
    // streaming gate must decline rather than fake. All six remaining
    // rules are conditional-count additive, so stream ≡ batch and the
    // oracle is q118's SQL minus the unique rule.
    Q("q126_stream_contract_gate",
      (s, d) => {
        val store = RunScope.scratch("graft_contract_gate_out")
        val customer = graft.schema.Tables.customer(s, d)
        drain(tableStream(s, d, "orders"), EachBatch { (batch, batchId) =>
          graft.ops.PipelineOps
            .orderContractReport(batch, customer, includeUnique = false)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(store)
        })
        s.read.parquet(store)
          .groupBy(col("rule"))
          .agg(sum(col("n_checked")).as("n_checked"),
            sum(col("n_violations")).as("n_violations"))
          .select(col("rule"), col("n_checked"), col("n_violations"),
            (col("n_violations") === 0L).as("pass"))
          .orderBy(col("rule"))
      },
      Some("""WITH a AS (SELECT count(*) AS n,
                count(*) FILTER (WHERE o_orderkey IS NULL) AS v_null,
                count(*) FILTER (WHERE NOT o_orderstatus IN ('O','F'))
                  AS v_enum,
                count(*) FILTER (WHERE o_totalprice <= 0.0
                  OR o_totalprice > 400000.0) AS v_price,
                count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1995-01-01'
                  OR o_orderdate >= TIMESTAMP '2001-01-01') AS v_date,
                count(*) FILTER (WHERE NOT o_orderpriority IN ('1-URGENT',
                  '2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')) AS v_pri
              FROM orders),
              fk AS (SELECT count(*) AS v_fk FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)),
              m AS (
                SELECT 'custkey_fk' AS rule, v_fk AS v FROM fk UNION ALL
                SELECT 'orderdate_range', v_date FROM a UNION ALL
                SELECT 'orderkey_not_null', v_null FROM a UNION ALL
                SELECT 'priority_enum', v_pri FROM a UNION ALL
                SELECT 'status_enum', v_enum FROM a UNION ALL
                SELECT 'totalprice_range', v_price FROM a)
              SELECT m.rule, a.n AS n_checked,
                CAST(m.v AS BIGINT) AS n_violations, m.v = 0 AS pass
              FROM m, a ORDER BY rule""")),

    // ---- streaming MV maintenance (q131): q128's state-merge algebra ON
    // A STREAM — the revenue view is built from the 90% snapshot and
    // WRITTEN as v0 of a versioned store; each arriving increment
    // micro-batch aggregates ITSELF into a partial state (batch-sized
    // work, map-side partial agg) and merges state-to-state into
    // v(batch+1) — the fact history is NEVER rescanned, the store is
    // group-count-sized, and a RETRIED batch re-derives its version from
    // the newest version ≤ its id (q112's replay-idempotence posture,
    // same versioned-store machinery). Integer-cents sums and mergeable
    // HLL sketches make merge order irrelevant (q128's discipline), so
    // stream ≡ batch exactly and the oracle is q128's aggregate-once SQL
    // verbatim. This completes the build-once / maintain-incrementally /
    // serve pattern for AGGREGATES, the triangle q34b/q34c/q109 pins for
    // LSH and q44b/q44c/q108 pins for IVF.
    Q("q131_stream_mv",
      (s, d) => {
        import graft.ops.MaterializedViewOps.{revenueState, mergeStates,
          serveViewVerified}
        val store = RunScope.scratch("graft_mvstream_")
        val orders = graft.schema.Tables.orders(s, d)
        revenueState(orders.filter(col("o_orderkey") % 10 =!= 0))
          .write.mode("overwrite").parquet(s"$store/v0")
        drain(tableStream(s, d, "orders").filter(col("o_orderkey") % 10 === 0),
          EachBatch { (batch, batchId) =>
            val ss = batch.sparkSession
            val cur = ss.read.parquet(
              Upsert.versionPathAsOf(ss, store, batchId))
            mergeStates(cur, revenueState(batch))
              .write.mode("overwrite").parquet(s"$store/v${batchId + 1}")
          })
        serveViewVerified(s.read.parquet(latestPruned(s, store)), orders)
      },
      Some(graft.ops.MaterializedViewOps.RevenueMvSql)),

    // ---- streaming QUANTILE view maintenance (q140): q139's fixed-bin
    // histogram state maintained per micro-batch — each arriving orders
    // batch reduces itself to its own bin counts (batch-sized work) and
    // ADDS into the stored histogram under the q112/q131 versioned-store
    // replay rule. Because bins are fixed a priori and counts are BIGINT,
    // the merged state is bit-identical to the build-once histogram for
    // ANY batch split or arrival order — the property a t-digest stream
    // cannot give — so stream ≡ batch exactly and the oracle is q139's
    // aggregate-once SQL verbatim. The store stays (groups × occupied
    // bins)-sized while the stream is unbounded: the latency-monitoring /
    // price-distribution shape at scale (p50/p95/p99 served from a
    // constant-space state that never rescans history).
    Q("q140_stream_quantile_mv",
      (s, d) => {
        import graft.ops.MaterializedViewOps.{priceHistogramState,
          mergeHistogramStates, serveQuantilesVerified}
        val store = RunScope.scratch("graft_qmvstream_")
        val orders = graft.schema.Tables.orders(s, d)
        priceHistogramState(orders.filter(col("o_orderkey") % 10 =!= 0))
          .write.mode("overwrite").parquet(s"$store/v0")
        drain(tableStream(s, d, "orders").filter(col("o_orderkey") % 10 === 0),
          EachBatch { (batch, batchId) =>
            val ss = batch.sparkSession
            val cur = ss.read.parquet(
              Upsert.versionPathAsOf(ss, store, batchId))
            mergeHistogramStates(cur, priceHistogramState(batch))
              .write.mode("overwrite").parquet(s"$store/v${batchId + 1}")
          })
        serveQuantilesVerified(
          s.read.parquet(latestPruned(s, store)), orders)
      },
      Some(graft.ops.MaterializedViewOps.quantileMvOracle)),

    // ---- streaming heavy-hitter maintenance (q134): q130's skew
    // diagnosis ON A STREAM — each arriving events micro-batch reduces
    // itself to a ≤ k-counter Misra-Gries summary (batch-sized work,
    // partial-aggregated), which merges RELATIONALLY into the stored
    // summary (HeavyHitters.mergeSummaries — the Agarwal/Cormode merge as
    // a groupBy + (k+1)-th-largest cut; summary-sized work) under the
    // q112 versioned-store replay rule. The summary CONTENT depends on
    // batch boundaries, but the guarantee does not: error bounds add
    // across merges, so every key above n_total/k survives ANY merge
    // tree — and the serve step recounts candidates exactly and
    // thresholds at 5% ≫ 1/64, making the FINAL answer deterministic and
    // equal to batch q130's (same oracle verbatim, StreamingSpec asserts
    // the equality). This is the monitoring shape at scale: the summary
    // store stays k-sized forever while the stream is unbounded.
    Q("q134_stream_heavy_hitters",
      (s, d) => {
        import graft.expr.HeavyHitters.{misraGriesSummary, mergeSummaries}
        import graft.ops.Relational.{heavyHitterKeys, recountHeavyHitters}
        val store = RunScope.scratch("graft_hh_")
        s.range(0).select(col("id").as("key"), col("id").as("cnt"))
          .write.mode("overwrite").parquet(s"$store/v0")
        drain(tableStream(s, d, "events"), EachBatch { (batch, batchId) =>
          val ss = batch.sparkSession
          val batchSumm = heavyHitterKeys(batch)
            .agg(misraGriesSummary(64)(col("key")).as("s"))
            .select(explode(col("s")).as("e"))
            .select(col("e.key").as("key"), col("e.cnt").as("cnt"))
          val cur = ss.read.parquet(
            Upsert.versionPathAsOf(ss, store, batchId))
          mergeSummaries(cur.unionByName(batchSumm), 64)
            .write.mode("overwrite").parquet(s"$store/v${batchId + 1}")
        })
        recountHeavyHitters(heavyHitterKeys(graft.schema.Tables.events(s, d)),
          s.read.parquet(latestPruned(s, store)).select(col("key")))
      },
      Some(graft.ops.Relational.HeavyHittersSql)),

    // ---- streaming session windows, APPEND mode (q136): q135's
    // `session_window` aggregate running under Structured Streaming state
    // — sessions merge in the state store as fragments arrive and are
    // emitted EXACTLY ONCE when the watermark passes their end (the
    // production sink contract: append-only, no retraction). This entry
    // puts the append path itself under the driver's oracle (q60/q61
    // demo complete mode; windowAggAppend was spec-only until now): with
    // delay 0 the final watermark is the global max event time, so the
    // emitted set is precisely the sessions whose end (last event + gap)
    // ≤ max(ts) — each user's still-open trailing session is correctly
    // HELD BACK, and the oracle states the finalization rule as a HAVING
    // clause. At scale: state is per-open-session and bounded by the
    // watermark; emitted rows leave state immediately.
    Q("q136_stream_session_window",
      (s, d) => {
        val out = memoryTable(tableStream(s, d, "events")
          .withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"),
            session_window(col("ts"), "6 hours").as("w"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value")), "append")
        out.select(col("user_id"),
            unix_timestamp(col("w.start")).as("session_start"),
            unix_timestamp(col("w.end")).as("session_end"),
            col("n_events"), col("sum_value"))
          .orderBy(col("user_id"), col("session_start"))
      },
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
              HAVING max(ts) + INTERVAL 6 HOUR <=
                (SELECT max(ts) FROM events)
              ORDER BY user_id, session_start""")),

    // ---- streaming tokenizer application (q114): the serving posture of
    // the q84→q110 tokenize-train-apply loop — the merge table is trained
    // ONCE on the snapshot (docs below the 80% cut), WRITTEN as the
    // frozen artifact (the q44c centroid / q109 hot-list posture for the
    // tokenizer family), and each arriving micro-batch encodes its own
    // docs against the broadcast frozen table: token budgeting at ingest,
    // recurring cost ∝ arrival rate, no state store, the snapshot never
    // retrains. Oracle replays the identical split in DuckDB (merges
    // from snapshot only, encode over arrivals only); StreamingSpec
    // asserts stream ≡ batch encodeWithMerges under the same frozen
    // table.
    Q("q114_stream_bpe_encode",
      (s, d) => {
        import graft.ops.PipelineOps
        val docs = graft.schema.Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val table = "graft_bpe_merges"
        // build-once memo (round 18): the frozen merge table is the
        // operator's premise (train from snapshot only) — read-only
        graft.ops.ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|bpe20")) {
          graft.schema.Tables.resetManagedTable(s, table)
          PipelineOps.trainMerges(docs.filter(col("doc_id") < cut), topN = 20)
            .write.mode("overwrite").saveAsTable(table)
        }
        val store = RunScope.scratch("graft_bpe_encode_out")
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, _) =>
            PipelineOps.encodeWithMerges(batch.select("doc_id", "text"),
                batch.sparkSession.table(table))
              .write.mode("append").parquet(store)
          })
        s.read.parquet(store).orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8) AS BIGINT)
                        AS cut
                      FROM documents),
              px AS (SELECT doc_id, unnest(range(1, len(tk))) AS pos, tk
                     FROM t WHERE len(tk) >= 2),
              p AS (SELECT doc_id, pos,
                      tk[pos] || ' ' || tk[pos+1] AS pair FROM px),
              merges AS (SELECT pair FROM (
                SELECT pair, count(*) AS freq FROM p, cut
                WHERE doc_id < cut.cut GROUP BY pair
                ORDER BY freq DESC, pair ASC LIMIT 20)),
              m AS (SELECT doc_id, pos,
                      row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                        AS rn
                    FROM p, cut WHERE doc_id >= cut.cut
                      AND pair IN (SELECT pair FROM merges)),
              runs AS (SELECT doc_id, pos - rn AS grp, count(*) AS len
                       FROM m GROUP BY doc_id, pos - rn),
              mg AS (SELECT doc_id, sum((len + 1) // 2) AS n_merges
                     FROM runs GROUP BY doc_id),
              vocab AS (SELECT DISTINCT unnest(string_split(pair, ' '))
                          AS tok FROM merges),
              toks AS (SELECT doc_id, unnest(tk) AS tok FROM t, cut
                       WHERE doc_id >= cut.cut),
              oov AS (SELECT doc_id, count(*) AS n_oov FROM toks
                      WHERE tok NOT IN (SELECT tok FROM vocab)
                      GROUP BY doc_id),
              base AS (SELECT doc_id, len(tk) AS n_tok FROM t, cut
                       WHERE doc_id >= cut.cut)
              SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tok,
                CAST(coalesce(mg.n_merges, 0) AS BIGINT) AS n_merges,
                CAST(b.n_tok - coalesce(mg.n_merges, 0) AS BIGINT) AS n_enc,
                CASE WHEN b.n_tok = 0 THEN 0.0
                     ELSE floor(coalesce(o.n_oov, 0) * 1.0 / b.n_tok
                       * 10000) / 10000
                END AS oov_rate
              FROM base b
              LEFT JOIN mg ON b.doc_id = mg.doc_id
              LEFT JOIN oov o ON b.doc_id = o.doc_id
              ORDER BY b.doc_id""")),

    // ---- streaming drift gate (q116): q115's PSI check run where it is
    // actually deployed — the baseline's binned profile is WRITTEN once
    // as the frozen artifact, and each arriving micro-batch computes its
    // own feature counts and scores its PSI against the broadcast
    // profile before admission. No state store; recurring cost ∝ batch
    // size (the profile is bins-sized by construction); the baseline
    // never re-counts. Same melt and share/psi formula as q115
    // (driftFeatures/psiReport — one rule, two engine paths), so with
    // the increment arriving as one batch the report equals q115's rows
    // and shares its oracle verbatim.
    Q("q116_stream_drift_gate",
      (s, d) => {
        import graft.ops.PipelineOps
        val docs = graft.schema.Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val table = "graft_drift_profile"
        // build-once memo (round 18): frozen snapshot profile, read-only
        graft.ops.ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|drift-profile")) {
          graft.schema.Tables.resetManagedTable(s, table)
          PipelineOps.driftFeatures(docs.filter(col("doc_id") < cut)
              .select(col("text"), col("lang")))
            .groupBy(col("feature"), col("bin"))
            .agg(count(lit(1)).as("cb"))
            .write.mode("overwrite").saveAsTable(table)
        }
        val store = RunScope.scratch("graft_drift_gate_out")
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, _) =>
            PipelineOps.psiReport(batch.sparkSession.table(table),
                PipelineOps.driftFeatures(
                  batch.select(col("text"), col("lang"))))
              .write.mode("append").parquet(store)
          })
        s.read.parquet(store).orderBy(col("feature"))
      },
      Some(graft.ops.PipelineOps.DriftPsiSql)),

    // ---- streaming winsorization gate (q157): q156 ON A STREAM — the
    // telemetry-cleaning member of the build-once / serve-streaming
    // family (drift q115/q116, dedup q121/q137, clusters q144/q146). The
    // clamp bounds are a SNAPSHOT artifact: the first 80% of event ids
    // locate their [p05, p95) band once (q156's histogram algebra,
    // [[graft.ops.EventOps.winsorBounds]]) and freeze as a written table;
    // arriving events then clamp per micro-batch against the frozen,
    // broadcast bounds (EventOps.winsorClamp — the same Column tree the
    // batch query runs: one rule, two engine paths) and append to the
    // gate store; the q156-shaped report aggregates the store once.
    // Frozen-bounds semantics is the POINT, not a shortcut: re-deriving
    // quantiles per batch would let an attack/glitch batch move its own
    // clamp ceiling. No state store; per-batch cost ∝ arrival rate.
    // Increment types never seen in the snapshot drop at the inner join
    // (no bounds → no clamp verdict); production would route them to a
    // quarantine sink instead.
    Q("q157_stream_winsorize_gate",
      (s, d) => {
        import graft.ops.EventOps
        val ev = graft.schema.Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"), col("value"))
        val cut = graft.schema.Cuts.eventsValued(s, d)
        val table = "graft_winsor_bounds"
        // build-once memo (round 18): frozen snapshot bounds, read-only
        graft.ops.ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "events", "cutv|winsor-bounds")) {
          graft.schema.Tables.resetManagedTable(s, table)
          EventOps.winsorBounds(ev.filter(col("event_id") < cut)
              .select(col("event_type"), col("value")))
            .write.mode("overwrite").saveAsTable(table)
        }
        val store = RunScope.scratch("graft_winsor_gate_out")
        drain(tableStream(s, d, "events")
            .filter(col("value").isNotNull && col("event_id") >= cut)
            .select(col("event_type"), col("value")),
          EachBatch { (batch, _) =>
            EventOps.winsorClamp(batch, batch.sparkSession.table(table))
              .write.mode("append").parquet(store)
            ()
          })
        EventOps.winsorAgg(s.read.parquet(store))
          .orderBy(col("event_type"))
      },
      // q156's bounds algebra on the snapshot slice, clamp on the rest
      Some("""WITH ev AS (SELECT event_id, event_type, value FROM events
                WHERE value IS NOT NULL),
              cutv AS (SELECT CAST(floor((max(event_id) + 1) * 0.8)
                AS BIGINT) AS cut FROM ev),
              snap AS (SELECT event_type, value FROM ev, cutv
                WHERE event_id < cut),
              mm AS (SELECT event_type, min(value) AS mn, max(value) AS mx
                FROM snap GROUP BY 1),
              b AS (SELECT s.event_type, value, mn, mx,
                CAST(CASE WHEN mx > mn
                  THEN least(floor((value - mn) / (mx - mn) * 128), 127)
                  ELSE 0 END AS INTEGER) AS bin
                FROM snap s JOIN mm USING (event_type)),
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
              inc AS (SELECT event_type, value FROM ev, cutv
                WHERE event_id >= cut),
              r AS (SELECT i.event_type, value, lo, hi,
                least(greatest(value, lo), hi) AS cl
                FROM inc i JOIN bounds USING (event_type))
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

    // ---- streaming anomaly gate (q179): the z-score family's serve
    // member (build q172 / maintain q178 / serve here) and the
    // monitoring loop production actually runs: arriving events score
    // against FROZEN snapshot moments per micro-batch (frozen for the
    // q157 reason — an anomalous batch must not move its own threshold;
    // q178 is the controlled path that advances the baseline). Per-batch
    // work is a broadcast join of 5 moment rows + a map-side flag — no
    // state store, cost ∝ arrival rate. Report: arrivals and |z|>3
    // flags per type, q172's oracle discipline on the increment slice.
    Q("q179_stream_zscore_gate",
      (s, d) => {
        val ev = graft.schema.Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        val cut = graft.schema.Cuts.eventsValued(s, d)
        val table = "graft_zscore_baseline"
        // build-once memo (round 18): frozen snapshot baseline, read-only
        graft.ops.ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "events", "cutv|zscore-baseline")) {
          graft.schema.Tables.resetManagedTable(s, table)
          graft.ops.EventOps.centsMoments(ev.filter(col("event_id") < cut))
            .drop("n")
            .write.mode("overwrite").saveAsTable(table)
        }
        val store = RunScope.scratch("graft_zscore_gate_out")
        drain(tableStream(s, d, "events")
            .filter(col("value").isNotNull && col("event_id") >= cut)
            .select(col("event_type"),
              expr("CAST(round(value * 100) AS BIGINT)").as("c")),
          EachBatch { (batch, _) =>
            batch.join(broadcast(batch.sparkSession.table(table)),
                Seq("event_type"))
              .withColumn("flagged",
                abs((col("c") - col("mean_c")) / col("std_c")) > 3.0)
              .select(col("event_type"), col("flagged"))
              .write.mode("append").parquet(store)
            ()
          })
        s.read.parquet(store)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_arrivals"),
            sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS c
              FROM events WHERE value IS NOT NULL),
              cutv AS (SELECT CAST(floor((max(event_id) + 1) * 0.8)
                AS BIGINT) AS cut FROM ev),
              snap AS (SELECT event_type, count(*) AS n,
                CAST(sum(c) AS BIGINT) AS s,
                CAST(sum(c * c) AS BIGINT) AS sq
                FROM ev, cutv WHERE event_id < cut GROUP BY 1),
              base AS (SELECT event_type,
                CAST(s AS DOUBLE) / n AS mean_c,
                sqrt(CAST(sq AS DOUBLE) / n -
                  (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                  AS std_c
                FROM snap),
              inc AS (SELECT event_type, c FROM ev, cutv
                WHERE event_id >= cut)
              SELECT event_type, count(*) AS n_arrivals,
                CAST(sum(CASE WHEN abs((c - mean_c) / std_c) > 3.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
              FROM inc JOIN base USING (event_type)
              GROUP BY 1 ORDER BY 1""")),

    // ---- streaming attribution (q176): q175 ON A STREAM — the online
    // form every marketing pipeline actually runs (credit must land
    // while the campaign is live, not at the nightly batch). The user's
    // most recent touch persists in flatMapGroupsWithState state (16
    // bytes per live user, evicted by an event-time TTL at exactly the
    // attribution window — see attributeTouches for why eviction can
    // never flip a verdict), purchases emit their channel verdict
    // immediately.
    // In-batch events process in (ts, id) order, so stream ≡ the batch
    // running-window rule across any batch boundaries for time-ordered
    // lanes (the q163 caveat). Shares q175's oracle verbatim.
    Q("q176_stream_attribution",
      (s, d) => {
        import s.implicits._
        // untouched ts carries the watermark the TTL needs (see q163)
        val credited = memoryTable(attributeTouches(
          tableStream(s, d, "events").withWatermark("ts", "0 seconds")
            .select(col("user_id").as("uid"), col("event_type").as("et"),
              col("ts"), col("event_id"),
              expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
            .as[(Long, String, java.sql.Timestamp, Long, java.lang.Long)],
          windowSec = 7 * 86400.0, ttlSec = 7 * 86400.0)
          .toDF("channel", "cents"), "append")
        credited.groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("cents")).as("revenue_cents"))
          .orderBy(col("channel"))
      },
      // q175's oracle verbatim: one attribution rule, two engine paths
      Some(graft.ops.EventOps.AttributionSql)),

    // ---- streaming SCD2 maintenance (q170): q168 ON A STREAM — the
    // dimension-history keeper a live warehouse actually runs: change
    // events arrive per micro-batch and fold into a VERSIONED history
    // store (q112's store layout — batch B reads the newest version ≤ B
    // and writes v(B+1), so a replayed batch re-derives instead of
    // double-applying). The fold is scoped to TOUCHED KEYS: the batch's
    // keys' history rows union the batch's new versions and re-derive
    // intervals (q168's two window passes over ≤ a handful of rows per
    // key); untouched keys' rows pass through via a broadcast anti-join
    // — per-batch cost ∝ changed keys, never dimension-sized. Final
    // history ≡ the batch q168 run (its oracle verbatim).
    Q("q170_scd2_stream",
      (s, d) => {
        val w = Window.partitionBy(col("key")).orderBy(col("ef"))
        val store = RunScope.scratch("graft_scd2_store")
        // v0: the base 1990 segments only (the pre-stream world)
        graft.schema.Tables.customer(s, d)
          .select(col("c_custkey").as("key"),
            col("c_mktsegment").as("segment"),
            lit(java.sql.Timestamp.valueOf("1990-01-01 00:00:00"))
              .as("ef"))
          .write.mode("overwrite").parquet(s"$store/v0")
        // q112's replay rule, mechanically: batch B reads the newest
        // version ≤ B and writes v(B+1) — a retried batch re-reads the
        // same base and overwrites its own output instead of
        // double-applying. The final read takes the newest on disk.
        def exists(i: Int) = new java.io.File(s"$store/v$i").exists
        def newestUpTo(b: Int): Int = (b to 0 by -1).find(exists).getOrElse(0)
        def newest(): Int =
          Iterator.from(0).takeWhile(exists).length - 1
        // the change feed, synthesized from the customer stream
        // (q168's deterministic derivation: %4 → 1997, %8 → 1999)
        val cust = tableStream(s, d, "customer")
        drain(cust.filter(col("c_custkey") % 4 === 0)
            .select(col("c_custkey").as("key"),
              concat(col("c_mktsegment"), lit("_V2")).as("segment"),
              lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
                .as("ef"))
            .unionByName(cust.filter(col("c_custkey") % 8 === 0)
              .select(col("c_custkey").as("key"),
                concat(col("c_mktsegment"), lit("_V3")).as("segment"),
                lit(java.sql.Timestamp.valueOf("1999-06-01 00:00:00"))
                  .as("ef"))),
          EachBatch { (batch, batchId) =>
            val ss = batch.sparkSession
            val hist = ss.read.parquet(
              s"$store/v${newestUpTo(batchId.toInt)}")
            val keys = batch.select(col("key")).distinct()
            val touched = hist.join(broadcast(keys), Seq("key"))
              .unionByName(batch)
              .withColumn("prev", lag(col("segment"), 1).over(w))
              .filter(col("prev").isNull || col("prev") =!= col("segment"))
              .drop("prev")
            val untouched = hist.join(broadcast(keys), Seq("key"),
              "left_anti")
            untouched.unionByName(touched)
              .write.mode("overwrite").parquet(s"$store/v${batchId.toInt + 1}")
            ()
          })
        PipelineOps.scd2Intervals(s.read.parquet(s"$store/v${newest()}"))
      },
      // q168's oracle: streamed history ≡ batch SCD2 build
      Some(PipelineOps.Scd2HistorySql)),

    // ---- streaming ER gate (q164): the entity-resolution triangle's
    // SERVE member (build q159 / maintain q160 / serve here — the q34b/
    // q34c/q109 posture on records instead of shingles). The clean
    // snapshot's two-pass block index is written once; arriving records
    // (the planted variants, synthesized from the stream as the
    // increment) block themselves per micro-batch and probe the index —
    // matched (snapshot_id, arrival_id) identity links append to the
    // gate store, the online "is this a known entity?" answer a live
    // ingest needs before q160's next label merge. No state store;
    // per-batch cost ∝ arrivals × block occupancy.
    Q("q164_stream_er_gate",
      (s, d) => {
        import graft.ops.PipelineOps
        val base = graft.schema.Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          col("c_name").as("name"))
        // the SHARED ER block index (ArtifactCache): q160 builds/probes
        // the same artifact; whichever runs first this JVM pays the build
        val table = PipelineOps.ErBlockIndexTable
        graft.ops.ArtifactCache.once(table, PipelineOps.erBlockTag(d)) {
          graft.schema.Tables.resetManagedTable(s, table)
          PipelineOps.erKeyed(base).write.mode("overwrite")
            .saveAsTable(table)
        }
        val store = RunScope.scratch("graft_er_gate_out")
        drain(tableStream(s, d, "customer").filter(col("c_custkey") % 5 === 0)
            .select((col("c_custkey") + 10000000L).as("id"),
              col("c_nationkey").as("nk"),
              expr("""substr(c_name, 1,
                        CAST(c_custkey % 8 + 10 AS INT) - 1) ||
                      substr(c_name,
                        CAST(c_custkey % 8 + 10 AS INT) + 1)""")
                .as("name")),
          EachBatch { (batch, _) =>
            PipelineOps.erMatches(batch.sparkSession.table(table),
                PipelineOps.erKeyed(batch))
              .write.mode("append").parquet(store)
            ()
          })
        s.read.parquet(store).orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH base AS (SELECT c_custkey AS id, c_nationkey AS nk,
                c_name AS name FROM customer),
              var AS (SELECT id + 10000000 AS id, nk,
                substr(name, 1, CAST(id % 8 + 10 AS INTEGER) - 1) ||
                substr(name, CAST(id % 8 + 10 AS INTEGER) + 1) AS name
                FROM base WHERE id % 5 = 0),
              kb AS (SELECT 1 AS pass, nk, substr(name, 1, 15) AS bk,
                  id, name FROM base
                UNION ALL SELECT 2, nk,
                  substr(name, length(name) - 4, 5), id, name FROM base),
              kv AS (SELECT 1 AS pass, nk, substr(name, 1, 15) AS bk,
                  id, name FROM var
                UNION ALL SELECT 2, nk,
                  substr(name, length(name) - 4, 5), id, name FROM var),
              m AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
                FROM kb x JOIN kv y ON x.pass = y.pass AND x.nk = y.nk
                  AND x.bk = y.bk AND x.id < y.id
                WHERE levenshtein(x.name, y.name) <= 1
                  AND length(x.name) <> length(y.name))
              SELECT id_a, id_b FROM m ORDER BY id_a, id_b""")),

    // ---- streaming debounce (q163): q162 ON A STREAM, and the one
    // member of the q162 family that genuinely needs a STATE STORE —
    // the drop decision depends on the lane's previous event, which may
    // have arrived in an earlier micro-batch, so the lane's last-seen
    // timestamp persists in flatMapGroupsWithState state (double epoch
    // seconds — 8 bytes per live (user, type) lane, with a 30-day
    // event-time TTL evicting dormant lanes — see debounceLanes for why
    // the eviction is semantics-free). Within a batch the lane's events
    // process in (ts, event_id) order, so stream ≡ batch lag rule
    // whatever the batch boundaries as long as lanes arrive time-ordered
    // ACROSS batches (true for a replayed log and for AvailableNow; an
    // out-of-order source would need watermarked reordering first). The
    // report joins streamed kept-counts back to batch per-type totals —
    // q162's output shape and oracle verbatim.
    Q("q163_stream_debounce",
      (s, d) => {
        import s.implicits._
        val gapSec = 3600.0
        // the untouched ts column carries the event-time watermark the
        // TTL's EventTimeTimeout requires (a cast would strip the
        // watermark metadata)
        val kept = memoryTable(debounceLanes(
          tableStream(s, d, "events").withWatermark("ts", "0 seconds")
            .select(col("user_id").as("uid"), col("event_type").as("et"),
              col("ts"), col("event_id"))
            .as[(Long, String, java.sql.Timestamp, Long)],
          gapSec = gapSec, ttlSec = 30 * 86400.0)
          .toDF("event_type", "event_id"), "append")
        val keptCounts = kept.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_kept"))
        graft.schema.Tables.events(s, d)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
          .join(keptCounts, Seq("event_type"))
          .select(col("event_type"), col("n_events"), col("n_kept"),
            (col("n_events") - col("n_kept")).as("n_dropped"),
            (floor((col("n_events") - col("n_kept")) /
              col("n_events").cast("double") * 10000) / 10000)
              .as("drop_share"))
          .orderBy(col("event_type"))
      },
      // q162's oracle verbatim: one debounce rule, two engine paths
      Some(graft.ops.EventOps.DebounceSql)),

    // ---- streaming SEMANTIC decontamination (q145): q141 ON A STREAM —
    // arriving training vectors are scored against the static benchmark
    // side per micro-batch, the embedding complement of q66's n-gram
    // stream gate (paraphrased leakage has no shared n-grams; its
    // embedding still sits next to the source). The per-vector verdict
    // depends only on the vector and the broadcast benchmark, so the
    // SAME [[graft.ops.VectorOps.semanticDecontam]] runs batch-side per
    // micro-batch (one rule, two engine paths) and stream ≡ batch exactly,
    // whatever the batch boundaries — no state store, verdicts append
    // batch-sized. Recurring cost ∝ arrival rate × |bench|; the corpus
    // never re-scores. Shares q141's exact-cross-score oracle.
    Q("q145_stream_semantic_decontam",
      (s, d) => {
        import graft.ops.VectorOps
        val bench = graft.schema.Tables.embeddings(s, d)
          .filter(col("vec_id") < 10)
        val store = RunScope.scratch("graft_semdecontam_gate_out")
        drain(tableStream(s, d, "embeddings").filter(col("vec_id") >= 10),
          EachBatch { (batch, _) =>
            VectorOps.semanticDecontam(batch, bench, tau = 0.4)
              .write.mode("append").parquet(store)
          })
        s.read.parquet(store).orderBy(col("vec_id"))
      },
      Some(graft.ops.VectorOps.SemanticDecontamSql)),

    // ---- streaming cluster-label maintenance (q146): q144's maintain
    // phase ON A STREAM, completing the clustering pillar's triangle
    // (batch q45b / incremental q144 / streaming q146 — the same shape
    // LSH pairs close with q34/q34c/q109 and IVF with q44/q44c/q108).
    // Beyond q144, each batch must also see EARLIER batches' docs (a
    // batch-B near-dup of a batch-A doc must merge), so batches append
    // their bands to a band store after probing it, and labels live in a
    // q112-style versioned store so retries re-derive instead of
    // double-merging — see [[graft.ops.PipelineOps.foldBatchIntoClusterStore]].
    // The oracle is q45's from-scratch whole-corpus closure, verbatim:
    // stream-maintained labels ≡ re-clustering everything, exactly.
    Q("q146_stream_cluster_maintain",
      (s, d) => {
        import graft.ops.{PipelineOps, TextOps}
        // warm runs (shared artifacts already built) only tokenize each
        // batch + the candidates of its verify lookup, which reads the
        // unfanned documents scan (batch docs are documents rows too)
        val (docs, allText) = graft.schema.Tables.documentsAndScan(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        // the SHARED snapshot index + labels (ArtifactCache): q144 builds
        // the same two artifacts; whichever runs first this JVM pays them
        val table = TextOps.SnapshotLshTable
        val labelStore = RunScope.scratch("graft_cluster_labels")
        val bandStore = RunScope.scratch("graft_cluster_bands")
        PipelineOps.buildClusterSnapshotStore(s,
          docs.filter(col("doc_id") < cut),
          dfCap = 16, table, labelStore,
          jaccardThreshold = 0.5, indexTag = TextOps.snapshotLshTag(d),
          labelsTag = TextOps.snapshotLshTag(d).map(t => s"$t|j0.5"))
        drain(tableStream(s, d, "documents").filter(col("doc_id") >= cut),
          EachBatch { (batch, batchId) =>
            PipelineOps.foldBatchIntoClusterStore(batch.sparkSession,
              batch.repartition(
                graft.schema.Tables.minSplits(batch.sparkSession),
                col("doc_id")),
              allText, table, bandStore, labelStore, batchId,
              jaccardThreshold = 0.5)
          })
        s.read.parquet(latestPruned(s, labelStore))
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("cluster_id"))
      },
      Some(graft.ops.PipelineOps.DupClustersSql)),

    // ---- streaming PageRank gate (q211): the graph family's STREAM leg
    // (q129 ranks from scratch, q209 maintains under a batch increment;
    // this maintains under a stream of order arrivals — one rule, three
    // engine paths). Per micro-batch the arrivals REDUCE to their
    // distinct (order, part) projection in a per-batch-id overwrite slot
    // (the q197 replay discipline — a retried batch rewrites its slot),
    // so the stream's accumulated state is projection-sized and an order
    // whose lineitem rows SPLIT across micro-batches still contributes
    // its full basket: the co-purchase self-join runs at SERVE time over
    // the slot union — increment-sized, never per-batch-blind (a
    // batch-local join would silently drop every cross-batch pair of a
    // straddling order). Serve unions the written snapshot edge store
    // (q209's dst-bucketed artifact, shared build) with the increment's
    // edges, dedups the pair, and re-ranks with the integer-exact
    // recurrence. Oracle: q129's five-CTE replay verbatim — green iff
    // stream accumulation ∪ snapshot reproduces the full edge set.
    Q("q211_stream_pagerank_gate",
      (s, d) => {
        import graft.ops.GraphOps
        val cut = graft.schema.Cuts.lineitem(s, d)
        GraphOps.writeEdgeSnapshot(s, d)
        val store = RunScope.scratch("graft_pagerank_gate_out")
        drain(tableStream(s, d, "lineitem").filter(col("l_orderkey") >= cut),
          EachBatch { (batch, batchId) =>
            graft.ops.SlotStore.writeSlot(
              batch.select(col("l_orderkey"), col("l_partkey")).distinct(),
              store, batchId)
          })
        val incEdges = graft.ops.SlotStore.read(s, store)
          .map(slots => GraphOps.coPurchaseEdges(
            slots.dropDuplicates("l_orderkey", "l_partkey")))
          .getOrElse(s.table(GraphOps.EdgeTable).limit(0))
        // round 16: the split serve — snapshot edges never leave their
        // bucket layout; dedup is an increment-sized anti-join probe and
        // degrees come from the stored degree table ⊕ deltas (see
        // GraphOps.pageRankMaintainServe's scaladoc)
        GraphOps.pageRankMaintainServe(s, incEdges, iters = 5)
          .select(col("node").as("part"), col("r").as("rank_scaled"))
          .orderBy(col("rank_scaled").desc, col("part"))
          .limit(20)
      },
      Some(graft.ops.GraphOps.PageRankSql)),

    // ---- slot-store compaction UNDER THE ORACLE (q212, VERDICT r17 #1):
    // q188's BM25 maintain/serve with the fold FORCED to run inside the
    // query. The demo catalog's AvailableNow streams drain a single-file
    // table in 1-4 micro-batches — below DefaultCompactSlots — so until
    // this leg the round-17 compaction mechanism was spec-proven but
    // never executed inside a CORRECTNESS-checked query. Here the
    // increment is STAGED into 7 single-file shards (hash on doc_id —
    // the multi-file layout a crawler's writer leaves; safe because
    // BM25's deltas are order-independent: postings are disjoint by
    // batch, moment rows additive) and streamed with maxFilesPerTrigger
    // = 1, one micro-batch per shard, with fold threshold 2 — the run
    // provably folds ≥3 times on the kind-tagged slot root. Two `require`s RIDE
    // THE LEG (a committed compact artifact exists; the live tail is
    // threshold-bounded) so a silent no-fold run FAILS loudly instead of
    // reading as a weaker pass of the plain-slot path. After the drain,
    // a REPLAYED-FOLDED-BATCH fixture rewrites slot b0 — an id already
    // inside the compact artifact — with the FULL increment's delta:
    // the watermark-exclusion rule must ignore it, and any leak
    // double-counts every statistic and hash-mismatches the full-corpus
    // oracle (q58's SQL verbatim — the fourth engine path through one
    // rule, and the one that proves compaction+replay end-to-end).
    Q("q212_stream_bm25_compacted",
      (s, d) => {
        import graft.ops.{RetrievalOps, SlotStore}
        val docs = graft.schema.Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val table = RetrievalOps.Bm25PostingsTable
        RetrievalOps.writeBm25SnapshotIndex(s,
          docs.filter(col("doc_id") < cut), table, RetrievalOps.bm25Tag(d))
        val inc = docs.filter(col("doc_id") >= cut)
        val staged = RunScope.scratch("graft_bm25_fold_staged")
        inc.repartition(7, col("doc_id"))
          .write.mode("overwrite").parquet(staged)
        val store = RunScope.scratch("graft_bm25_fold_stream")
        drain(stagedStream(s, staged), EachBatch { (batch, batchId) =>
          RetrievalOps.appendBm25Delta(batch, store, batchId, threshold = 2)
        })
        // the in-leg proof that the mechanism under test actually ran —
        // without it a regression to never-folding would still pass
        // (round 19: postings + moments share one kind-tagged slot root,
        // so the proof checks that single root — see
        // RetrievalOps.bm25DeltaRoot)
        locally {
          val root = RetrievalOps.bm25DeltaRoot(store)
          require(SlotStore.compactWatermark(s, root) >= 0,
            s"q212: no committed compact artifact under $root — the " +
              "compaction leg ran without folding")
          require(SlotStore.liveSlotCount(s, root) <= 2,
            s"q212: live slot tail under $root exceeds the fold threshold")
        }
        // replayed-folded-batch fixture: the streaming contract says a
        // replayed id carries the same data; the CONTENT here is
        // deliberately the whole increment (a superset) so any
        // exclusion leak moves the scores, not just a margin
        RetrievalOps.appendBm25Delta(inc, store, batchId = 0L,
          threshold = 2)
        val (deltaPost, deltaStats) = RetrievalOps.readBm25Deltas(s, store)
        RetrievalOps.bm25ServeMerged(s, table, deltaPost, deltaStats)
      },
      Some(graft.ops.RetrievalOps.Bm25Sql))
  )
}

/** Explicit per-user state carried across micro-batches. */
final case class UserState(n: Long, sum: Double)

/** Debounce lane state (q163): epoch seconds of the lane's last SEEN
  * event — the lag rule keys on the previous event, kept or not. */
final case class LaneState(lastTs: Double)

/** Attribution state (q176): the user's most recent touch (type + epoch
  * seconds) — 16 bytes per live user. */
final case class TouchState(tpe: String, ts: Double)

/** transformWithState per-user running-(count, sum) state with TTL
  * timers (q65). */
final case class CountSumTtlState(n: Long, sum: Double, timerMs: Long)

/** transformWithState processor: per-user running (count, sum) in a
  * ValueState — the Spark 4 arbitrary-state primitive (q65).
  *
  * State TTL (VERDICT r13 #6), via EVENT-TIME TIMERS rather than the
  * ValueState TTLConfig: each input batch re-arms a per-key timer at
  * last-event-time + ttl (the previous timer explicitly deleted — timers
  * key on their timestamp), and handleExpiredTimer clears the dormant
  * key's state once the watermark passes it. The TTLConfig route was
  * tried and MEASURED out: state TTL demands TimeMode.ProcessingTime,
  * under which even a Trigger.AvailableNow run executes ~100 empty
  * timer micro-batches after the data batch (observed: 101 offset
  * commits at sf0.001), each paying 4 RocksDB snapshot uploads —
  * minutes of churn for a query that answers in seconds. Event-time
  * timers fire on watermark advancement only (one extra batch per run,
  * the q163 posture), keep the oracle output byte-identical (eviction
  * emits nothing; during the single data batch the watermark is still
  * at its initial value so nothing is late-filtered or pre-evicted),
  * and StreamingSpec proves eviction + clean re-admission by advancing
  * the watermark over a MemoryStream. */
final class CountSumProcessor(ttlSec: Double = 30 * 86400.0)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double, java.sql.Timestamp), (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TTLConfig, TimerValues, ValueState}
  @transient private var state: ValueState[CountSumTtlState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[CountSumTtlState]("countSum",
      org.apache.spark.sql.Encoders.product[CountSumTtlState], TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Double, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val prev =
      if (state.exists()) state.get() else CountSumTtlState(0L, 0.0, -1L)
    var n = prev.n; var sum = prev.sum; var lastMs = -1L
    rows.foreach { r =>
      n += 1; sum += r._2
      lastMs = math.max(lastMs, r._3.getTime)
    }
    val timerMs = lastMs + (ttlSec * 1000).toLong
    if (prev.timerMs != timerMs) {
      if (prev.timerMs >= 0) getHandle.deleteTimer(prev.timerMs)
      getHandle.registerTimer(timerMs)
    }
    state.update(CountSumTtlState(n, sum, timerMs))
    Iterator.single((key, n, sum))
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Double)] = {
    // dormant past the TTL: drop the state row, emit nothing — eviction
    // is invisible to the output, only to the state footprint
    state.clear()
    Iterator.empty
  }
}
