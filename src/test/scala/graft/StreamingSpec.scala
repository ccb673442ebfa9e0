package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming observability + append-mode semantics:
  *  - [[StreamingOps.ProgressListener]] surfaces per-batch rows/durations
  *    (SURVEY §2.8's StreamingQueryListener row — the streaming twin of the
  *    reference's metric lines, `run_ingestion_with_metrics.sh:89-122`);
  *  - [[StreamingOps.windowAggAppend]] emits exactly the watermark-
  *    finalized windows (the production sink path — complete mode is only
  *    for the all-windows oracle demo: [[StreamingOps.drain]] into its
  *    [[StreamingOps.Memory]] sink).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic events fixture: 3 users × 4 days, hourly events 00:00-
    * 23:00 on days 1-3 and a single 12:00 event on day 4 — so a 1-hour
    * watermark finalizes days 1-3 (day end ≤ max_ts - 1h) and holds back
    * day 4. Written as parquet micros timestamps (Tables.events passes
    * those through unchanged). */
  private def writeFixture(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_fixture").toString
    val rows = for {
      day <- 1 to 3; hour <- 0 until 24; user <- 1 to 3
    } yield (Timestamp.valueOf(f"2024-01-0$day $hour%02d:00:00"),
      user.toLong, "click", 1.0)
    val late = Seq((Timestamp.valueOf("2024-01-04 12:00:00"), 1L, "click", 1.0))
    (rows ++ late).toDF("ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    dir
  }

  private def runAppend(dir: String,
      listener: StreamingOps.ProgressListener): DataFrame = {
    spark.streams.addListener(listener)
    try {
      val ckpt = Files.createTempDirectory("graft_ckpt_spec").toString
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      // the fixture is a directory of part files — stream it directly
      // (pathGlobFilter matches leaf FILE names, not directories)
      val stream = spark.readStream.schema(schema)
        .parquet(s"$dir/events.parquet")
      val q = StreamingOps.windowAggAppend(stream, "1 hour").writeStream
        .format("memory").queryName("spec_append")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table("spec_append")
    } finally spark.streams.removeListener(listener)
  }

  test("append mode emits exactly the watermark-finalized windows, " +
      "values matching the batch aggregate") {
    val dir = writeFixture()
    val listener = new StreamingOps.ProgressListener
    val got = runAppend(dir, listener)
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // finalized = batch agg over days whose end ≤ max_ts - 1h (days 1-3:
    // day 4's 12:00 event puts the watermark at 11:00 on day 4)
    val expected = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("ts") < "2024-01-04")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(expected.nonEmpty)
    assert(got === expected) // day 4 held back, days 1-3 exact
  }

  test("checkpoint resume processes ONLY new files (exactly-once restart)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_resume").toString
    val data = s"$dir/events.parquet"
    val ckpt = s"$dir/ckpt" // SAME checkpoint across both runs
    def run(): Long = {
      val listener = new StreamingOps.ProgressListener
      spark.streams.addListener(listener)
      try {
        val schema = spark.read.parquet(data).schema
        val q = spark.readStream.schema(schema).parquet(data)
          .groupBy($"user_id").agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName("spec_resume")
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        listener.awaitBatches(1, 10000).map(_.numInputRows).sum
      } finally spark.streams.removeListener(listener)
    }
    Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(data)
    val firstRun = run()
    assert(firstRun === 1) // batch 1: the one existing row
    Seq((Timestamp.valueOf("2024-01-01 11:00:00"), 2L, "click", 1.0),
      (Timestamp.valueOf("2024-01-01 12:00:00"), 2L, "click", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(data)
    val secondRun = run()
    assert(secondRun === 2, "restart must process only the NEW file's rows")
    // state carried across the restart: user 1 still present
    val counts = spark.table("spec_resume").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 1L, 2L -> 2L))
  }

  test("ProgressListener observes per-batch rows and durations") {
    val dir = writeFixture()
    val listener = new StreamingOps.ProgressListener
    runAppend(dir, listener)
    val batches = listener.awaitBatches(1)
    assert(batches.nonEmpty)
    assert(batches.map(_.numInputRows).sum === 3 * 24 * 3 + 1)
    assert(batches.forall(_.batchDurationMs >= 0))
  }

  test("stream decontam emits exactly the batch q90 rows (one rule, " +
      "two engine paths)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("doc_id", "n_sh", "n_shared", "overlap")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(rows("q66_stream_decontam") === rows("q90_ngram_decontam"))
    assert(rows("q66_stream_decontam").nonEmpty)
  }

  test("stream semantic decontam emits exactly the batch q141 verdicts") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("vec_id", "n_bench_hits", "max_bench_cos", "contaminated")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(rows("q145_stream_semantic_decontam") ===
      rows("q141_semantic_decontam"))
    assert(rows("q145_stream_semantic_decontam").nonEmpty)
  }

  test("stream cluster maintenance serves exactly the batch q45 clusters") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("cluster_id", "n_docs").as[(Long, Long)].collect().toSet
    assert(rows("q146_stream_cluster_maintain") === rows("q45_dup_clusters"))
    assert(rows("q146_stream_cluster_maintain").nonEmpty)
  }

  test("stream quality filter emits exactly the batch q47 verdicts") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("doc_id", "wc_ok", "mwl_ok", "stop_ok", "sym_ok", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSet
    assert(rows("q67_stream_quality") === rows("q47_quality_filter"))
    assert(rows("q67_stream_quality").nonEmpty)
  }

  test("stream redaction emits exactly the batch q38 proof rows") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("doc_id", "has_email_tag", "has_phone_tag", "residual_at",
        "appended_len")
      .as[(Long, Boolean, Boolean, Boolean, Int)].collect().toSet
    assert(rows("q68_stream_redaction") === rows("q38_pii_redact"))
    assert(rows("q68_stream_redaction").nonEmpty)
  }

  test("stream RAG chunking emits exactly the batch q104 chunks") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("doc_id", "chunk_idx", "n_tok", "chunk_text")
      .as[(Long, Int, Int, String)].collect().toSet
    assert(rows("q107_stream_rag_chunks") === rows("q104_rag_chunks"))
    assert(rows("q107_stream_rag_chunks").nonEmpty)
  }

  test("stream near-dup gate emits exactly the batch q34c cross pairs " +
      "(one rule, two engine paths)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(rows("q109_stream_neardup_gate") ===
      rows("q34c_minhash_incremental"))
    assert(rows("q109_stream_neardup_gate").nonEmpty)
  }

  test("streaming quantile-view maintenance equals the batch q139 view " +
      "(fixed bins make the merged state split-invariant)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(rows("q140_stream_quantile_mv") === rows("q139_quantile_mv"))
    assert(rows("q140_stream_quantile_mv").nonEmpty)
  }

  test("streaming exact-dedup gate emits exactly the batch q121 pairs, " +
      "including every planted re-crawl (one index, two probe paths)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .select("snap_id", "inc_id")
      .as[(Long, Long)].collect().toSet
    val stream = rows("q137_stream_exact_dedup_gate")
    assert(stream === rows("q121_exact_dedup_indexed"))
    // non-vacuous by construction: every 7th snapshot doc re-arrives under
    // id+1,000,000 and MUST be caught by the gate
    val docs = graft.schema.Tables.documents(spark, sf)
    val cut = math.floor((docs.agg(org.apache.spark.sql.functions
      .max($"doc_id")).head.getLong(0) + 1) * 0.8).toLong
    val planted = docs.filter($"doc_id" < cut && $"doc_id" % 7 === 0)
      .select($"doc_id").as[Long].collect().toSet
    assert(planted.nonEmpty)
    assert(planted.map(id => (id, id + 1000000L)).subsetOf(stream))
  }

  test("streaming CDC upsert with deletes equals the batch CDC merge " +
      "(q112 replays q76's changelog through the versioned store)") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("q112_stream_cdc_upsert")(spark, sf)
      .as[(Long, Double)].collect().toSeq
    val batch = SparkEntry.queries("q76_cdc_merge")(spark, sf)
      .as[(Long, Double)].collect().toSeq
    assert(stream === batch)
    assert(stream.head._1 > 0)
  }

  test("streaming BPE encode equals the batch apply under the same " +
      "frozen snapshot merge table (q114)") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("q114_stream_bpe_encode")(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val docs = graft.schema.Tables.documents(spark, sf)
    val cut = math.floor(
      (docs.agg(max(col("doc_id"))).head.getLong(0) + 1) * 0.8).toLong
    val batch = graft.ops.PipelineOps.encodeWithMerges(
        docs.filter(col("doc_id") >= cut),
        graft.ops.PipelineOps.trainMerges(
          docs.filter(col("doc_id") < cut), topN = 20))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("streaming MV maintenance equals the batch incremental merge " +
      "(q131 serves the same view as q128, exactly)") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("q131_stream_mv")(spark, sf)
      .as[(String, String, Long, Double, Double, Long, Boolean)]
      .collect().toSet
    val batch = SparkEntry.queries("q128_incremental_mv")(spark, sf)
      .as[(String, String, Long, Double, Double, Long, Boolean)]
      .collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty && stream.forall(_._7))
  }

  test("append-mode session windows emit exactly the finalized subset " +
      "of the batch sessions (q136 vs q135)") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q135_session_window")(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val stream = SparkEntry.queries("q136_stream_session_window")(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(stream.nonEmpty && stream.subsetOf(batch))
    val maxTs = graft.schema.Tables.events(spark, sf)
      .agg(max(unix_timestamp(col("ts")))).as[Long].head()
    // everything held back is a session still open at the final
    // watermark; everything comfortably closed was emitted
    (batch -- stream).foreach { case (_, _, end, _, _) =>
      assert(end >= maxTs, s"finalized session held back (end=$end)")
    }
    batch.filter(_._3 < maxTs).foreach(sess =>
      assert(stream(sess), s"closed session not emitted: $sess"))
  }

  test("streaming heavy-hitter maintenance serves exactly the batch " +
      "answer (q134 ≡ q130 after exact recount + threshold)") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("q134_stream_heavy_hitters")(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q130_heavy_hitters")(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("streaming drift gate equals the batch PSI report (q116 scores " +
      "arrivals against the written baseline profile)") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("q116_stream_drift_gate")(spark, sf)
      .as[(String, Long, Double, Boolean)].collect().toSet
    val batch = SparkEntry.queries("q115_drift_psi")(spark, sf)
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("stream ANN serving emits the verified top-k invariants row " +
      "(recall vs exact checked below the gate)") {
    val sf = "/root/testdata/sf0.001"
    val row = SparkEntry.queries("q108_stream_ann_serving")(spark, sf)
      .as[(Long, Boolean, Double, Boolean, Boolean)].collect().toSeq
    assert(row.size === 1)
    val (nq, allK, recall, recallOk, verified) = row.head
    assert((nq, allK, recallOk, verified) === ((10L, true, true, true)))
    // below the gate the recall is MEASURED data (VERDICT r10 #3), not a
    // sentinel — it must be a real fraction of k·n_queries
    assert(recall >= 0.0 && recall <= 1.0)
  }

  test("serving store is replay-idempotent: re-running a micro-batch " +
      "leaves the store unchanged (VERDICT r11 #2)") {
    import graft.ops.Upsert
    val store = Files.createTempDirectory("q108replay").toString
    def batchDf(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("q_id"), (col("id") % 3).cast("int").as("rank"),
        (col("id") * 2.0).as("score"))
    Upsert.idempotentBatchAppend(spark, store, batchDf(0, 5), 0L)
    Upsert.idempotentBatchAppend(spark, store, batchDf(5, 8), 1L)
    def snapshot() = spark.read.parquet(store)
      .orderBy(col("batch_id"), col("q_id"), col("rank"))
      .collect().toSeq
    val before = snapshot()
    assert(before.size === 8)
    // the streaming retry contract: SAME data, SAME batchId re-runs —
    // an append sink would now hold 11 rows, the idempotent sink 8
    Upsert.idempotentBatchAppend(spark, store, batchDf(5, 8), 1L)
    assert(snapshot() === before)
  }

  test("streamed BM25 deltas are replay-idempotent and serve exactly the " +
      "full-corpus run (q188)") {
    import graft.ops.RetrievalOps
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cut = math.floor(
      (docs.agg(max(col("doc_id"))).head.getLong(0) + 1) * 0.8).toLong
    val table = "graft_bm25_spec_stream_postings"
    RetrievalOps.writeBm25SnapshotIndex(spark,
      docs.filter(col("doc_id") < cut), table, tag = None)
    val store = Files.createTempDirectory("q188replay").toString
    val inc = docs.filter(col("doc_id") >= cut)
    // two "micro-batches" split by parity, then batch 1 RETRIED: the
    // per-batch-id overwrite slot must leave the served result unchanged
    RetrievalOps.appendBm25Delta(inc.filter(col("doc_id") % 2 === 0),
      store, 0L)
    RetrievalOps.appendBm25Delta(inc.filter(col("doc_id") % 2 === 1),
      store, 1L)
    def served(): Seq[(Long, Double)] = {
      val (p, st) = RetrievalOps.readBm25Deltas(spark, store)
      RetrievalOps.bm25ServeMerged(spark, table, p, st)
        .as[(Long, Double)].collect().toSeq
    }
    val before = served()
    val full = SparkEntry.queries("q58_bm25")(spark, sf)
      .as[(Long, Double)].collect().toSeq
    assert(before === full, "streamed serve must equal full rebuild")
    RetrievalOps.appendBm25Delta(inc.filter(col("doc_id") % 2 === 1),
      store, 1L)
    assert(served() === before, "batch retry must not double-count")
  }

  test("streaming HLL gate absorbs re-crawled arrivals without moving " +
      "the estimate (q192)") {
    val sf = "/root/testdata/sf0.001"
    // the gate streams fresh docs PLUS every-7th re-crawls; both in-plan
    // invariants must hold against the UNIQUE-corpus rebuild — i.e. the
    // duplicate arrivals contributed nothing
    val out = SparkEntry.queries("q192_stream_hll_gate")(spark, sf)
      .as[(String, Long, Boolean, Boolean)].collect()
    assert(out.length === 5)
    out.foreach { case (lang, n, meq, w5) =>
      assert(n > 1000 && meq && w5, s"$lang n=$n meq=$meq w5=$w5")
    }
    // the algebraic root of that: unioning a sketch with itself is a
    // no-op (register-wise max), asserted directly
    val sk = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ops.TextOps.toks(col("text"))).as("t"))
      .agg(hll_sketch_agg(col("t"), 12).as("sk"))
    val self = sk.select(hll_sketch_estimate(col("sk")).as("one"))
      .crossJoin(sk.unionByName(sk)
        .agg(hll_sketch_estimate(
          hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
          .as("two")))
      .as[(Long, Long)].head()
    assert(self._1 === self._2, s"self-union moved the estimate: $self")
  }

  test("streaming bottom-k gate absorbs re-crawled arrivals and serves " +
      "full-rebuild-identical quantiles (q194)") {
    val sf = "/root/testdata/sf0.001"
    // arrivals include every-7th re-crawls; merge_equals_full asserts the
    // served sketch is IDENTICAL (as a set) to a full unique-corpus
    // rebuild — stronger than an estimate band — and the rank bands hold
    val out = SparkEntry.queries("q194_stream_bottomk_gate")(spark, sf)
      .as[(String, Long, Double, Double, Boolean, Boolean, Boolean,
        Boolean)]
      .collect()
    assert(out.length === 5)
    out.foreach { case (t, sn, p50, p90, meq, ok50, ok90, verified) =>
      // sf0.001 (1000 events) is under the linear gate: the invariants
      // are MEASURED here (verified = true), not pinned
      assert(sn > 100 && meq && ok50 && ok90 && verified && p50 < p90,
        s"$t sn=$sn meq=$meq ok50=$ok50 ok90=$ok90 verified=$verified " +
          s"p50=$p50 p90=$p90")
    }
  }

  test("streaming CMS gate: slot overwrite makes the LINEAR sketch " +
      "replay-safe, and the served sum equals a direct one-pass build " +
      "(q197)") {
    import graft.ops.TextOps
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q197_stream_cms_gate")(spark, sf)
      .as[(String, Long, Boolean, Boolean, Boolean)].collect()
    assert(out.length === 20)
    out.foreach { case (t, n, meq, over, band) =>
      assert(n > 0 && meq && over && band,
        s"$t n=$n meq=$meq over=$over band=$band")
    }
    // the load-bearing difference vs q192's HLL: a linear sketch is NOT
    // per-item idempotent, so replay safety must come from the per-batch
    // overwrite slot — a retried batch rewrites its slot and the summed
    // result is unchanged (an append-mode slot would double-count)
    val sh = TextOps.fingerprints(spark.read.parquet(s"$sf/documents.parquet"))
      .persist()
    val store = Files.createTempDirectory("q197replay").toString
    def write(b: Int, parity: Int): Unit =
      TextOps.cmsOf(TextOps.shingleDfCounts(
        sh.filter(col("doc_id") % 2 === parity)))
        .write.mode("overwrite").parquet(s"$store/b$b")
    write(0, 0); write(1, 1)
    def summed(): Set[(Int, Int, Long)] =
      TextOps.cmsSummed(spark.read.parquet(s"$store/b0", s"$store/b1"))
        .as[(Int, Int, Long)].collect().toSet
    val before = summed()
    val direct = TextOps.cmsOf(TextOps.shingleDfCounts(sh))
      .as[(Int, Int, Long)].collect().toSet
    assert(before === direct, "slot sum must equal the one-pass sketch")
    write(1, 1) // batch 1 RETRIED
    val after = summed()
    sh.unpersist()
    assert(after === before, "batch retry must not double-count")
  }

  test("streaming CUSUM gate serves exactly the batch detector's " +
      "output — stream ≡ batch by linearity of the daily counts (q202)") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("q202_stream_cusum_gate")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q199_cusum_changepoint")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty && stream === batch)
  }

  test("ts-consuming stream queries run against the DRIVER testdata's " +
      "actual timestamp type") {
    // The other streaming tests run on Spark-written fixtures (micros
    // TIMESTAMP), so a generator-side change to events.ts' parquet type
    // is invisible to them: round 9's nanos → micros switch broke
    // q60-q65 in Bench/Verify while the suite stayed green. Exercise one
    // watermark + window + one dedup catalog query end-to-end on the real
    // testdata and cross-check against the same aggregate computed in
    // batch (Tables.events has its own type dispatch).
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("q61_stream_window_agg")(spark, sf)
      .as[(String, String, Long, Double)].collect().toSet
    val batch = graft.schema.Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
    val dedup = SparkEntry.queries("q60_stream_dedup")(spark, sf)
      .as[(String, Long)].collect().toMap
    val batchDedup = graft.schema.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(dedup === batchDedup)
  }

  test("streaming winsorize gate equals the batch clamp of the increment " +
      "against the frozen snapshot bounds, whatever the batch boundaries") {
    val sf = "/root/testdata/sf0.001"
    import graft.ops.EventOps
    val stream = SparkEntry.queries("q157_stream_winsorize_gate")(spark, sf)
      .as[(String, Long, Double, Double, Long, Long, Double)]
      .collect().toSet
    // batch reference: same snapshot/increment split, same shared algebra
    val ev = graft.schema.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
    val cut = math.floor(
      (ev.agg(max(col("event_id"))).head.getLong(0) + 1) * 0.8).toLong
    val batch = EventOps.winsorReport(
        ev.filter(col("event_id") >= cut)
          .select(col("event_type"), col("value")),
        EventOps.winsorBounds(ev.filter(col("event_id") < cut)
          .select(col("event_type"), col("value"))))
      .as[(String, Long, Double, Double, Long, Long, Double)]
      .collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
    // the gate actually clamps something at this SF (non-vacuous)
    assert(stream.exists(r => r._5 + r._6 > 0),
      s"no clamped rows at $sf: $stream")
  }

  test("streaming debounce equals the batch lag rule and actually drops " +
      "something at this SF") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect().toSet
    val stream = rows("q163_stream_debounce")
    assert(stream === rows("q162_event_debounce"))
    assert(stream.nonEmpty)
    assert(stream.exists(_._4 > 0), s"debounce vacuous at $sf: $stream")
  }

  test("streaming anomaly gate flags arrivals against the frozen " +
      "snapshot moments, equal to the batch replay") {
    val sf = "/root/testdata/sf0.001"
    import graft.schema.Tables
    val stream = SparkEntry.queries("q179_stream_zscore_gate")(spark, sf)
      .as[(String, Long, Long)].collect().toSet
    // batch replay of the same rule
    val ev = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val cut = math.floor(
      (ev.agg(max(col("event_id"))).head.getLong(0) + 1) * 0.8).toLong
    val base = ev.filter(col("event_id") < cut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("sq"))
      .select(col("event_type"),
        (col("s").cast("double") / col("n")).as("mean_c"),
        sqrt((col("sq").cast("double") / col("n")) -
          (col("s").cast("double") / col("n")) *
          (col("s").cast("double") / col("n"))).as("std_c"))
    val batch = ev.filter(col("event_id") >= cut)
      .join(base, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_arrivals"),
        sum(when(abs((col("c") - col("mean_c")) / col("std_c")) > 3.0,
          1L).otherwise(0L)).as("n_flagged"))
      .as[(String, Long, Long)].collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("streaming attribution credits exactly the batch last-touch rule") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .as[(String, Long, Long)].collect().toSet
    val stream = rows("q176_stream_attribution")
    assert(stream === rows("q175_attribution"))
    assert(stream.nonEmpty)
  }

  test("streaming SCD2 maintenance serves exactly the batch q168 history") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .as[(Long, String, String, String, Boolean)].collect().toSet
    val stream = rows("q170_scd2_stream")
    assert(stream === rows("q168_scd2_history"))
    assert(stream.nonEmpty)
    // versions actually accumulated: some key carries a closed interval
    assert(stream.exists(r => !r._5), stream.take(5))
  }

  test("streaming ER gate emits exactly the batch cross matches between " +
      "snapshot index and arriving variants") {
    val sf = "/root/testdata/sf0.001"
    import graft.ops.PipelineOps
    val stream = SparkEntry.queries("q164_stream_er_gate")(spark, sf)
      .as[(Long, Long)].collect().toSet
    val base = graft.schema.Tables.customer(spark, sf).select(
      col("c_custkey").as("id"), col("c_nationkey").as("nk"),
      col("c_name").as("name"))
    val variants = base.filter(col("id") % 5 === 0)
      .select((col("id") + 10000000L).as("id"), col("nk"),
        expr("""substr(name, 1, CAST(id % 8 + 10 AS INT) - 1) ||
                substr(name, CAST(id % 8 + 10 AS INT) + 1)""").as("name"))
    val batch = PipelineOps.erMatches(PipelineOps.erKeyed(base),
        PipelineOps.erKeyed(variants))
      .as[(Long, Long)].collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("streaming PageRank gate serves exactly the batch q129 ranks " +
      "(snapshot store + slot-accumulated increment edges are lossless)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val stream = rows("q211_stream_pagerank_gate")
    assert(stream == rows("q129_pagerank"))
    assert(stream.nonEmpty)
  }

  test("streaming packing gate serves exactly the batch q206 bins " +
      "(fold-suffix identity, batch over batch)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val stream = rows("q208_stream_packing_gate")
    assert(stream == rows("q206_sequence_packing"))
    assert(stream.nonEmpty)
  }

  test("debounce lane state TTL: a dormant lane is evicted once the " +
      "watermark passes its timeout, and a later event re-admits cleanly " +
      "(VERDICT r13 #6)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp, Long)]
    val lanes = StreamingOps.debounceLanes(
      in.toDS.toDF("uid", "et", "ts", "eid")
        .withWatermark("ts", "0 seconds")
        .as[(Long, String, Timestamp, Long)],
      gapSec = 3600.0, ttlSec = 30 * 86400.0)
    val ckpt = Files.createTempDirectory("graft_ttl_ckpt").toString
    val q = lanes.toDF("event_type", "event_id").writeStream
      .format("memory").queryName("graft_ttl_lanes")
      .outputMode("append")
      .option("checkpointLocation", ckpt).start()
    def t(s: String) = Timestamp.valueOf(s)
    def stateRows(): Long = {
      val p = q.recentProgress.reverse.find(_.stateOperators.nonEmpty).get
      p.stateOperators(0).numRowsTotal
    }
    try {
      // batch 1: lanes (1, click) and (2, click) — 2 state rows
      in.addData((1L, "click", t("2024-01-01 00:00:00"), 1L),
        (2L, "click", t("2024-01-01 00:00:00"), 2L))
      q.processAllAvailable()
      assert(stateRows() == 2L)
      // batch 2: lane 2 active 40 days later — advances the watermark
      // past lane 1's 30-day timeout (watermark updates AFTER the batch)
      in.addData((2L, "click", t("2024-02-10 00:00:00"), 3L))
      q.processAllAvailable()
      // batch 3: unrelated lane; lane 1's timeout fires under the
      // advanced watermark and its state row is evicted
      in.addData((3L, "click", t("2024-02-10 01:30:00"), 4L))
      q.processAllAvailable()
      assert(stateRows() == 2L, "dormant lane 1 not evicted") // lanes 2, 3
      // the eviction COUNT, not just the residual total (round 17,
      // VERDICT r16 #6): exactly one state row has been removed so far,
      // summed across micro-batches (the timeout may fire in the
      // watermark-advance batch after the data batch, and not every
      // progress entry carries state operators)
      val evicted = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(evicted == 1L,
        s"expected exactly one TTL eviction so far, state reported " +
          s"$evicted removals")
      // batch 4: lane 1 returns — clean re-admission, the event is KEPT
      in.addData((1L, "click", t("2024-02-11 00:00:00"), 5L))
      q.processAllAvailable()
      val kept = spark.table("graft_ttl_lanes")
        .as[(String, Long)].collect().map(_._2).toSet
      assert(kept.contains(5L), s"re-admitted event not kept: $kept")
      assert(stateRows() == 3L) // lane 1 re-created
    } finally q.stop()
  }

  test("attribution touch-state TTL: a dormant user's touch is evicted, " +
      "a post-eviction purchase resolves 'direct', and a purchase-only " +
      "batch with a ttl-stale touch drops it instead of re-arming below " +
      "the watermark (round 16, VERDICT r15 #6)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp, Long, Long)]
    val out = StreamingOps.attributeTouches(
      in.toDS.toDF("uid", "et", "ts", "eid", "cents")
        .withWatermark("ts", "0 seconds")
        .as[(Long, String, Timestamp, Long, java.lang.Long)],
      windowSec = 3600.0, ttlSec = 30 * 86400.0)
    val ckpt = Files.createTempDirectory("graft_attr_ttl_ckpt").toString
    val q = out.toDF("channel", "cents").writeStream
      .format("memory").queryName("graft_ttl_attr")
      .outputMode("append")
      .option("checkpointLocation", ckpt).start()
    def t(s: String) = Timestamp.valueOf(s)
    def stateRows(): Long = {
      val p = q.recentProgress.reverse.find(_.stateOperators.nonEmpty).get
      p.stateOperators(0).numRowsTotal
    }
    try {
      // batch 1: users 1 and 2 touch on Jan 1 — 2 state rows
      in.addData((1L, "click", t("2024-01-01 00:00:00"), 1L, 0L),
        (2L, "click", t("2024-01-01 00:00:00"), 2L, 0L))
      q.processAllAvailable()
      assert(stateRows() == 2L)
      // batch 2: user 2 touches 40 days later — watermark (updated
      // AFTER the batch) passes user 1's 30-day timeout
      in.addData((2L, "view", t("2024-02-10 00:00:00"), 3L, 0L))
      q.processAllAvailable()
      // batch 3: unrelated user; user 1's timer fires and evicts
      in.addData((3L, "click", t("2024-02-10 01:00:00"), 4L, 0L))
      q.processAllAvailable()
      assert(stateRows() == 2L, "dormant user 1 not evicted") // users 2, 3
      // batch 4: user 1 purchases after eviction — 'direct', which a
      // SURVIVING Jan-1 touch would also have produced (outside the 1h
      // window): eviction is semantics-free, as the scaladoc argues
      in.addData((1L, "purchase", t("2024-02-11 00:00:00"), 5L, 700L))
      q.processAllAvailable()
      // batch 5: user 3's touch is now ttl-stale relative to a watermark
      // ... not yet — first push the watermark past Feb-10 + 30 days
      in.addData((2L, "view", t("2024-04-01 00:00:00"), 6L, 0L))
      q.processAllAvailable()
      // batch 6: user 3 PURCHASE-ONLY — its group has input AND an
      // expired timer, so it processes as input (hasTimedOut = false)
      // with the watermark already past touch + ttl: re-arming there
      // would throw; the stale touch must be dropped and the purchase
      // resolves 'direct'
      in.addData((3L, "purchase", t("2024-04-02 00:00:00"), 7L, 900L))
      q.processAllAvailable()
      val got = spark.table("graft_ttl_attr")
        .as[(String, Long)].collect().toSet
      assert(got == Set(("direct", 700L), ("direct", 900L)), got)
      // user 3's state is gone (dropped, not re-armed); users 1 and 3
      // hold no rows — only user 2's live touch remains
      assert(stateRows() == 1L, "stale touch re-armed instead of dropped")
    } finally q.stop()
  }

  test("transformWithState timer TTL: a dormant user's state is cleared " +
      "once the watermark passes its timer and the counter restarts " +
      "(VERDICT r13 #6)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Long, Double, Timestamp)]
    val out = in.toDS.toDF("user_id", "value", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, Double, Timestamp)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.CountSumProcessor(ttlSec = 30 * 86400.0),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    val ckpt = Files.createTempDirectory("graft_tws_ttl_ckpt").toString
    val q = out.toDF("user_id", "n", "sum").writeStream
      .format("memory").queryName("graft_ttl_tws")
      .outputMode("update")
      .option("checkpointLocation", ckpt).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // user 7 active on Jan 1; user 8 keeps the stream alive later
      in.addData((7L, 2.0, t("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // 40 days later (> the 30-day TTL): watermark advances past user
      // 7's timer; the follow-up batch fires it and clears the state
      in.addData((8L, 1.0, t("2024-02-10 00:00:00")))
      q.processAllAvailable()
      in.addData((8L, 1.0, t("2024-02-10 01:00:00")))
      q.processAllAvailable()
      // user 7 returns: the counter RESTARTS at 1 (state was evicted),
      // instead of reading (n=1, sum=2.0) forward to (2, 5.0)
      in.addData((7L, 3.0, t("2024-02-11 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("graft_ttl_tws")
        .as[(Long, Long, Double)].collect().filter(_._1 == 7L).sortBy(_._3)
      assert(rows.head == ((7L, 1L, 2.0)))
      assert(rows.last == ((7L, 1L, 3.0)),
        s"state survived past its TTL: ${rows.toSeq}")
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
