package graft.ops

import graft.Q
import graft.schema.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval + statistical quality scoring over `documents` — the
  * search/weighting layer a training-data pipeline needs next to the dedup
  * family (TextOps) and vector search (VectorOps): TF-IDF scoring, BM25
  * (Robertson/Okapi) ranking, and unigram-LM log-probability quality scores
  * (the classic "perplexity filter" for pretraining corpora).
  *
  * Scale posture: one tokenize+explode pass feeds everything; per-term
  * statistics (document frequency, corpus totals) are vocabulary-sized
  * aggregates that broadcast; the only corpus-sized shuffle is the
  * (doc_id, term) term-frequency groupBy. No UDFs, no driver-side loops —
  * corpus-level constants (N, avgdl, total tokens) are computed IN-PLAN and
  * cross-joined as broadcast single-row frames, so the same plan runs
  * unchanged on 500 docs or 5 billion.
  */
object RetrievalOps {

  /** Fixed query-term set for the scoring demos (mid-frequency corpus
    * terms; literal on purpose — a real caller parameterizes them). */
  private val QueryTerms = Seq("spark", "vector", "stream", "hash", "merge")

  /** Interpolated bigram-LM scoring: trains unigram + bigram count models
    * on `docs` (doc_id, text) and scores each doc as the mean −ln of the
    * Jelinek-Mercer probability 0.7·c(t1 t2)/c(t1) + 0.3·c(t2)/N over its
    * bigram positions. All probabilities are ratios of integer counts —
    * cross-engine IEEE-exact. Bigrams form per doc via a lead() window
    * that reuses the fan-out guard's doc_id distribution (the q84
    * pattern: no extra shuffle); both models are vocabulary-shaped and
    * broadcast here, degrading to shuffled hash joins on the token pair
    * when a web-scale bigram table outgrows the broadcast threshold —
    * same plan, no rewrite.
    */
  def bigramQuality(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(TextOps.toks(col("text"))).as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = tok.withColumn("t2", lead(col("t"), 1).over(w))
      .filter(col("t2").isNotNull)
    val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val biModel = bi.groupBy(col("t"), col("t2")).agg(count(lit(1)).as("c2"))
    val total = tok.agg(count(lit(1)).as("total"))
    bi.join(broadcast(biModel), Seq("t", "t2"))
      .join(broadcast(uni), Seq("t"))
      .join(broadcast(uni.select(col("t").as("t2"),
        col("c1").as("c1_next"))), Seq("t2"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (-log(lit(0.7) * col("c2").cast("double") / col("c1") +
          lit(0.3) * col("c1_next").cast("double") / col("total")))
          .as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_bi"),
        round(avg(col("nll")), 6).as("avg_nll"))
  }

  /** (doc_id, term, tf) for every document term — THE shared scan shape. */
  private def termFreqs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))

  /** Document lengths in tokens (dl) — one scan, no explode. */
  private def docLengths(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), size(TextOps.toks(col("text"))).as("dl"))

  /** 1-based dense rank of a LIMIT-bounded run by (`score` desc, `id`
    * asc), as a broadcast self-join count (rank = 1 + #strictly-better
    * rows — identical to row_number under this total order, since the id
    * tiebreak leaves no true ties). A partition-less Window would compute
    * the same thing but funnels its input through ONE task and is banned
    * catalog-wide by PlanAuditSpec; the O(N²) join is explicitly bounded
    * by the run's LIMIT (N ≤ tens), which this formulation keeps visible
    * at the call site instead of hiding behind a window. */
  private def rankBounded(run: DataFrame, score: String,
      id: String): DataFrame = {
    // PERSISTED: the self-join's left side and broadcast right side are
    // separate physical subtrees — without the cache the run's WHOLE
    // upstream pipeline (a corpus-wide scoring pass) executes twice. The
    // cached relation is ≤ the run's LIMIT rows by construction, and
    // the query's run scope frees it.
    val r = RunScope.own(
      run.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val better = r.select(col(id).as("_id2"), col(score).as("_sc2"))
    r.join(broadcast(better),
        col("_sc2") > col(score) ||
          (col("_sc2") === col(score) && col("_id2") < col(id)),
        "left_outer")
      .groupBy(col(id), col(score))
      .agg((count(col("_id2")) + 1).as("rank"))
  }

  /** The BM25 weight of one (term, doc) posting — expects columns `tf`,
    * `dl`, `df`, `n_docs`, `avgdl` in scope. The SINGLE source of the
    * formula, shared by the full-corpus run ([[bm25Run]], q58/q88) and
    * the incremental serve ([[bm25Incremental]], q187) so the two paths
    * can never drift: idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf = ln((N − df + ½)/(df + ½) + 1). */
  private def bm25Weight(k1: Double, b: Double): Column = {
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = col("tf") + lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") / col("avgdl"))
    idf * (col("tf") * (k1 + 1)) / norm
  }

  /** The BM25 top-20 run (k1=1.2, b=0.75) against [[QueryTerms]] —
    * shared by q58 (the lexical query) and q88 (the hybrid fusion), so
    * the formula/rounding can never drift between them. */
  private def bm25Run(s: SparkSession, d: String): DataFrame = {
    val tf = termFreqs(s, d).filter(col("t").isin(QueryTerms: _*))
    val dfT = tf.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val stats = docLengths(s, d)
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    tf.join(broadcast(dfT), Seq("t"))
      .join(docLengths(s, d), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25Weight(k1 = 1.2, b = 0.75).as("w"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  /** The q58 BM25 result in DuckDB SQL — shared verbatim by q58 (the
    * full-corpus run) and q187 (the incrementally-maintained index),
    * because the maintained index is EXACT: its serve run must equal a
    * from-scratch full-corpus run bit-for-bit. */
  private[graft] val Bm25Sql =
    """WITH tok AS (
         SELECT doc_id, unnest(regexp_extract_all(lower(text),
           '[a-z0-9]+')) AS t
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       tf AS (
         SELECT doc_id, t, count(*) AS tf FROM tok
         WHERE t IN ('spark','vector','stream','hash','merge')
         GROUP BY doc_id, t),
       df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
       stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)
       SELECT tf.doc_id,
         round(sum(
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
           (tf.tf * 2.2) /
           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl::DOUBLE / stats.avgdl))
         ), 6) AS bm25
       FROM tf JOIN df USING (t) JOIN dl USING (doc_id)
       CROSS JOIN stats
       GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 20"""

  /** The snapshot BM25 index tables (q187) and their [[ArtifactCache]]
    * content tag: `<table>` holds (t, doc_id, tf, dl) postings with
    * STORED norms (the Lucene posture — serve-time never re-reads
    * snapshot text), bucketed by term so an equality/IN probe
    * bucket-prunes; `<table>_df` is the vocabulary-sized document
    * frequency sidecar; `<table>_stats` the single-row corpus moments
    * (n_docs, Σdl). */
  private[graft] val Bm25PostingsTable = "graft_bm25_snapshot_postings"
  private[graft] def bm25Tag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|bm25")

  def writeBm25SnapshotIndex(s: SparkSession, snap: DataFrame,
      table: String, tag: Option[String] = None): Unit =
    ArtifactCache.once(table, tag) {
      // persist INSIDE the cold block only (the q34b discipline): the
      // build consumes the tokenized snapshot twice (postings + moments);
      // warm (memoized) runs never tokenize the snapshot at all
      val tok = snap
        .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
        .persist()
      try {
        Tables.resetManagedTable(s, table)
        tok.select(col("doc_id"), size(col("tk")).as("dl"),
            explode(col("tk")).as("t"))
          .groupBy(col("t"), col("doc_id"), col("dl"))
          .agg(count(lit(1)).as("tf"))
          .write.bucketBy(8, "t").mode("overwrite").saveAsTable(table)
        // df from the written postings ((t, doc) rows are unique, so
        // count(*) per term IS document frequency) — build-time read
        Tables.resetManagedTable(s, s"${table}_df")
        s.table(table).groupBy(col("t")).agg(count(lit(1)).as("df"))
          .write.mode("overwrite").saveAsTable(s"${table}_df")
        Tables.resetManagedTable(s, s"${table}_stats")
        tok.agg(count(lit(1)).as("n_docs"),
            sum(size(col("tk"))).as("sum_dl"))
          .write.mode("overwrite").saveAsTable(s"${table}_stats")
      } finally { tok.unpersist(); () }
    }

  /** q187: BM25 serving off an incrementally-maintained index. The
    * snapshot (doc_id < 80% cut) lives in the written index; the
    * increment tokenizes fresh, and every corpus statistic merges
    * EXACTLY because BM25's inputs are all algebraic aggregates —
    * df' = df + df_inc, N' = N + N_inc, Σdl' = Σdl + Σdl_inc — so the
    * serve run equals a from-scratch full-corpus rebuild bit-for-bit
    * (the oracle is q58's full-corpus SQL verbatim). This is the
    * retrieval family's maintain leg: unlike the LSH index (frozen hot
    * lists, an approximation the oracle must re-prove per corpus), a
    * lexical index has NO approximation frontier — the exactness is
    * structural.
    *
    * Cost shape: maintain ∝ increment (one tokenize + two
    * increment-sized aggregates); serve probes the bucketed postings
    * for the ≤ |query| terms (bucket-pruned + predicate-pushdown read —
    * posting lists, not the corpus), unions the increment's postings for
    * those terms, and scores ≤ Σ posting-list rows. */
  def bm25Incremental(s: SparkSession, d: String,
      table: String = Bm25PostingsTable,
      tag: Option[String] = None): DataFrame = {
    val docs = Tables.documents(s, d)
    // memoized cut (round 16): same floor() boundary discipline, derived
    // once per (sfDir, table) instead of one in-plan corpus agg per run
    val cut = graft.schema.Cuts.documents(s, d)
    val snap = docs.filter(col("doc_id") < cut)
    val inc = docs.filter(col("doc_id") >= cut)
    writeBm25SnapshotIndex(s, snap, table, tag)
    // ---- maintain phase: everything below is increment-sized
    val incTok = inc
      .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
      .persist() // two consumers: delta postings + delta moments
    val incPost = incTok
      .select(col("doc_id"), size(col("tk")).as("dl"),
        explode(col("tk")).as("t"))
      .groupBy(col("t"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .persist() // two consumers: delta df + the serve-probe union
    val incStats = incTok.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk"))).as("sum_dl"))
    bm25ServeMerged(s, table, incPost, incStats)
  }

  /** The shared serve phase of the maintained BM25 index: snapshot index
    * tables ∪ increment deltas, every statistic merged algebraically,
    * scored with [[bm25Weight]]. `incPost` is the increment's aggregated
    * (t, doc_id, tf, dl) postings; `incStats` its (n_docs, sum_dl)
    * moment row(s) — MULTIPLE rows sum cleanly, which is what lets the
    * streaming twin (q188) feed one moment row per micro-batch. Used by
    * q187 (batch increment) and q188 (streamed increment), so the two
    * maintain legs cannot drift. */
  private[graft] def bm25ServeMerged(s: SparkSession, table: String,
      incPost: DataFrame, incStats: DataFrame): DataFrame = {
    val dfMerged = s.table(s"${table}_df")
      .filter(col("t").isin(QueryTerms: _*))
      .unionByName(incPost.filter(col("t").isin(QueryTerms: _*))
        .groupBy(col("t")).agg(count(lit(1)).as("df")))
      .groupBy(col("t")).agg(sum(col("df")).as("df"))
    val statsMerged = s.table(s"${table}_stats")
      .unionByName(incStats)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      // Σdl and N are exact longs; ONE double division — the identical
      // IEEE value Spark's avg(dl) and DuckDB's avg produce from the
      // same integers (integer-valued doubles ≤ 2^53 sum exactly)
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    // ---- serve phase: bucket-pruned posting-list probe + delta union
    val probe = s.table(table).filter(col("t").isin(QueryTerms: _*))
      .unionByName(incPost.filter(col("t").isin(QueryTerms: _*)))
    probe.join(broadcast(dfMerged), Seq("t"))
      .crossJoin(broadcast(statsMerged))
      .select(col("doc_id"), bm25Weight(k1 = 1.2, b = 0.75).as("w"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  /** The BM25 delta store's single slot root (round 19 — VERDICT r18
    * #5): postings rows and the moment row share one kind-tagged slot,
    * so each micro-batch pays ONE keyed write and ONE fold check
    * instead of two of each (q212's profile: the per-batch pair of
    * write jobs plus the twin fold machinery was the bulk of its 65
    * warm jobs; postings and moments always land and fold together, so
    * nothing is lost by co-locating them). Kind 1 = posting
    * (t, doc_id, dl, tf), kind 2 = moment (n_docs, sum_dl); the unused
    * columns of each kind are null. */
  private[graft] def bm25DeltaRoot(store: String): String = s"$store/delta"

  /** One micro-batch's index delta (q188): the batch's aggregated
    * postings AND its moment row land in ONE kind-tagged slot
    * `store/delta/b<batchId>` — OVERWRITE per batch id, so a replayed
    * micro-batch rewrites its own delta instead of double-counting it
    * (the q112 versioned-store rule in its append-free form: each batch
    * owns a keyed slot, and retry is idempotent by construction). */
  private[graft] def appendBm25Delta(batch: DataFrame, store: String,
      batchId: Long,
      threshold: Int = SlotStore.DefaultCompactSlots): Unit = {
    val tok = batch
      .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
      .persist()
    try {
      // keyed slot write + threshold fold (round 17, VERDICT r16 #3):
      // postings deltas are disjoint by batch and moment rows are
      // additive, so folding earlier slots into one artifact is a pure
      // relayout — the serve's union is algebraically unchanged.
      // `threshold` is caller-tunable so the q212 compaction leg can
      // force folds inside a short demo stream (threshold 2, ≥6
      // batches) while q188 keeps the default.
      val post = tok
        .select(col("doc_id"), size(col("tk")).as("dl"),
          explode(col("tk")).as("t"))
        .groupBy(col("t"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .select(lit(1).as("kind"), col("t"), col("doc_id"), col("dl"),
          col("tf"), lit(null).cast("long").as("n_docs"),
          lit(null).cast("long").as("sum_dl"))
      val stats = tok
        .agg(count(lit(1)).as("n_docs"), sum(size(col("tk"))).as("sum_dl"))
        .select(lit(2).as("kind"), lit(null).cast("string").as("t"),
          lit(null).cast("long").as("doc_id"),
          lit(null).cast("int").as("dl"), lit(null).cast("long").as("tf"),
          col("n_docs"), col("sum_dl"))
      SlotStore.writeSlot(post.unionByName(stats),
        bm25DeltaRoot(store), batchId, threshold)
    } finally { tok.unpersist(); () }
  }

  /** Read back every micro-batch delta under `store` (q188 serve side):
    * (postings, moment rows) split back out of the kind-tagged slots —
    * the newest compact artifact plus the live slot tail (SlotStore).
    * Empty-safe so a zero-batch stream still serves the bare
    * snapshot. */
  private[graft] def readBm25Deltas(s: SparkSession,
      store: String): (DataFrame, DataFrame) = {
    SlotStore.read(s, bm25DeltaRoot(store)) match {
      case Some(d) =>
        (d.filter(col("kind") === 1)
          .select(col("t"), col("doc_id"), col("dl"), col("tf")),
          d.filter(col("kind") === 2)
            .select(col("n_docs"), col("sum_dl")))
      case None =>
        (s.range(0).select(lit("").as("t"), lit(0L).as("doc_id"),
          lit(0).as("dl"), lit(0L).as("tf")),
          s.range(0).select(lit(0L).as("n_docs"), lit(0L).as("sum_dl")))
    }
  }

  val catalog: Seq[Q] = Seq(

    // ---- TF-IDF scoring of documents against a query-term set:
    // score(d) = Σ_t tf(t,d) · ln(N / df(t)). Integer tf/df/N feed exact
    // IEEE ln/mul on both engines; the per-doc sum is ≤ |QueryTerms| values,
    // rounded to 6 dp. df and N are vocabulary/corpus-level aggregates
    // cross-joined as broadcast single-row/short frames — no collect.
    Q("q57_tfidf",
      (s, d) => {
        val tf = termFreqs(s, d).filter(col("t").isin(QueryTerms: _*))
        val dfT = tf.groupBy(col("t"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val n = Tables.documents(s, d)
          .agg(count(lit(1)).as("n_docs"))
        tf.join(broadcast(dfT), Seq("t"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("t"),
            (col("tf") * log(col("n_docs").cast("double") / col("df")))
              .as("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_terms"),
            round(sum(col("w")), 6).as("tfidf"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text),
                  '[a-z0-9]+')) AS t
                FROM documents),
              tf AS (
                SELECT doc_id, t, count(*) AS tf FROM tok
                WHERE t IN ('spark','vector','stream','hash','merge')
                GROUP BY doc_id, t),
              df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
              n AS (SELECT count(*) AS n_docs FROM documents)
              SELECT tf.doc_id, CAST(count(*) AS INTEGER) AS n_terms,
                round(sum(tf.tf * ln(n.n_docs::DOUBLE / df.df)), 6) AS tfidf
              FROM tf JOIN df USING (t) CROSS JOIN n
              GROUP BY tf.doc_id ORDER BY tf.doc_id""")),

    // ---- BM25 (k1=1.2, b=0.75) ranking against the same query-term set:
    // adds document-length normalization — idf(t) · tf·(k1+1) /
    // (tf + k1·(1 - b + b·dl/avgdl)), idf = ln((N - df + ½)/(df + ½) + 1).
    // avgdl is an exact integer-sum average, identical in both engines.
    // Top-20 by score with doc_id tiebreak = deterministic output.
    Q("q58_bm25",
      (s, d) => bm25Run(s, d),
      Some(Bm25Sql)),

    // ---- hybrid retrieval via reciprocal-rank fusion (q88): the
    // standard two-tower serving pattern — a lexical run (q58's BM25
    // top-20, formula verbatim) and a vector run (cosine against a query
    // document's embedding, top-20) fused by RRF:
    // score(d) = Σ_runs 1/(60 + rank_d) over the runs that retrieved d.
    // RRF needs only the RANKS, which makes it the cross-engine-exact
    // fusion (no score normalization to disagree on): both runs round
    // scores to 6 dp BEFORE ranking and break ties by doc_id, so ranks —
    // and therefore the fused scores — are bit-identical in DuckDB.
    // Scale posture: each run is its own bounded top-N (TakeOrdered /
    // index probe at scale); fusion touches ≤ Σ N rows. doc_id ≡ vec_id
    // by testdata construction (TESTDATA.md).
    Q("q88_hybrid_rrf",
      (s, d) => {
        val kRrf = 60
        // lexical run — [[bm25Run]], the same relation q58 returns
        val lex = rankBounded(bm25Run(s, d), "bm25", "doc_id")
          .select(col("doc_id"), col("rank").as("r_lex"))
        // vector run — cosine against doc 7's embedding, corpus scored
        // in place against the broadcast single-row query (q40's shape)
        val e = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("emb"))
        val q = e.filter(col("vec_id") === 7).select(col("emb").as("q_emb"))
        val cosRun = e.filter(col("vec_id") =!= 7)
          .crossJoin(broadcast(q))
          .select(col("vec_id").as("doc_id"),
            round(VectorOps.cosine(col("emb"), col("q_emb")), 6).as("cos"))
          .orderBy(col("cos").desc, col("doc_id").asc)
          .limit(20)
        val vec = rankBounded(cosRun, "cos", "doc_id")
          .select(col("doc_id"), col("rank").as("r_vec"))
        lex.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            round(
              coalesce(lit(1.0) / (lit(kRrf) + col("r_lex")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(kRrf) + col("r_vec")), lit(0.0)),
              6).as("rrf"),
            col("r_lex"), col("r_vec"))
          .orderBy(col("rrf").desc, col("doc_id").asc)
          .limit(10)
      },
      Some("""WITH tok AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text),
                  '[a-z0-9]+')) AS t
                FROM documents),
              dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
              tf AS (
                SELECT doc_id, t, count(*) AS tf FROM tok
                WHERE t IN ('spark','vector','stream','hash','merge')
                GROUP BY doc_id, t),
              df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
              stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
              bm AS (
                SELECT tf.doc_id,
                  round(sum(
                    ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
                    (tf.tf * 2.2) /
                    (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl::DOUBLE / stats.avgdl))
                  ), 6) AS bm25
                FROM tf JOIN df USING (t) JOIN dl USING (doc_id)
                CROSS JOIN stats
                GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
              lex AS (SELECT doc_id, row_number() OVER
                  (ORDER BY bm25 DESC, doc_id ASC) AS r_lex FROM bm),
              q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings
                WHERE vec_id = 7),
              coss AS (
                SELECT vec_id AS doc_id,
                  round(list_dot_product(embedding::DOUBLE[], q.q_emb) /
                    (sqrt(list_dot_product(embedding::DOUBLE[],
                       embedding::DOUBLE[])) *
                     sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cos
                FROM embeddings CROSS JOIN q WHERE vec_id <> 7
                ORDER BY cos DESC, doc_id ASC LIMIT 20),
              vec AS (SELECT doc_id, row_number() OVER
                  (ORDER BY cos DESC, doc_id ASC) AS r_vec FROM coss),
              f AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
                  r_lex, r_vec
                FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
              SELECT doc_id,
                round(coalesce(1.0 / (60 + r_lex), 0) +
                      coalesce(1.0 / (60 + r_vec), 0), 6) AS rrf,
                r_lex, r_vec
              FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10""")),

    // ---- unigram-LM quality score (the pretraining "perplexity filter"
    // in its simplest closed form): p(t) = corpus freq / total tokens;
    // doc score = mean over doc tokens of -ln p(t). High = rare-token-heavy
    // (gibberish candidates), low = stopword-heavy. One explode feeds both
    // the model (term → freq, vocabulary-sized, broadcast) and the scoring
    // pass; the model "trains" and scores in a single plan, no collect.
    Q("q59_unigram_quality",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("t"))
        val model = tok.groupBy(col("t")).agg(count(lit(1)).as("freq"))
        val total = tok.agg(count(lit(1)).as("total"))
        tok.join(broadcast(model), Seq("t"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"),
            (-log(col("freq").cast("double") / col("total"))).as("nll"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_tok"),
            round(avg(col("nll")), 6).as("avg_nll"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text),
                  '[a-z0-9]+')) AS t
                FROM documents),
              model AS (SELECT t, count(*) AS freq FROM tok GROUP BY t),
              total AS (SELECT count(*) AS total FROM tok)
              SELECT tok.doc_id, CAST(count(*) AS INTEGER) AS n_tok,
                round(avg(-ln(model.freq::DOUBLE / total.total)), 6) AS avg_nll
              FROM tok JOIN model USING (t) CROSS JOIN total
              GROUP BY tok.doc_id ORDER BY tok.doc_id""")),

    // ---- interpolated bigram-LM quality score (q94): the next rung up
    // from q59's unigram filter and the honest closed-form sketch of
    // CCNet-style perplexity filtering (there a KenLM n-gram model; here
    // a bigram model trained on the corpus itself, Jelinek-Mercer
    // interpolated with the unigram model: p(t2|t1) = 0.7·c(t1 t2)/c(t1)
    // + 0.3·c(t2)/N — never zero on corpus-internal bigrams, and every
    // probability is a ratio of integer counts so Spark and DuckDB do
    // identical IEEE arithmetic). Doc score = mean −ln p over its bigram
    // positions; high = improbable-sequence-heavy (gibberish/boilerplate
    // candidates). Scale posture: bigrams form per-doc via a lead()
    // window that reuses the guard's doc_id distribution (no extra
    // shuffle — the q84 pattern); both models are vocabulary-shaped
    // aggregates (vocab² bigrams at worst) and broadcast; scoring is
    // map-side. At web scale the bigram table outgrows broadcast and the
    // scoring joins degrade to shuffled hash joins on the token pair —
    // same plan, no rewrite.
    Q("q94_bigram_quality",
      (s, d) => bigramQuality(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
                  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
                FROM documents),
              tok AS (SELECT doc_id, unnest(ts) AS t FROM t),
              bi AS (SELECT doc_id, unnest(list_transform(
                  range(1, len(ts)),
                  i -> struct_pack(t1 := ts[i], t2 := ts[i+1]))) AS b
                FROM t),
              bif AS (SELECT doc_id, b.t1 AS t, b.t2 AS t2 FROM bi),
              uni AS (SELECT t, count(*) AS c1 FROM tok GROUP BY t),
              bim AS (SELECT t, t2, count(*) AS c2 FROM bif GROUP BY t, t2),
              total AS (SELECT count(*) AS total FROM tok)
              SELECT bif.doc_id, CAST(count(*) AS INTEGER) AS n_bi,
                round(avg(-ln(0.7 * bim.c2 / u1.c1 +
                              0.3 * u2.c1 / total.total)), 6) AS avg_nll
              FROM bif
              JOIN bim USING (t, t2)
              JOIN uni u1 ON bif.t = u1.t
              JOIN uni u2 ON bif.t2 = u2.t
              CROSS JOIN total
              GROUP BY bif.doc_id ORDER BY bif.doc_id""")),

    // ---- HELD-OUT bigram-LM scoring (q151): q94 trains and scores on
    // the same corpus — fine for in-corpus outlier ranking, but the
    // deployed perplexity gate trains on YESTERDAY's snapshot and scores
    // TODAY's arrivals, where unseen tokens/bigrams are the norm, not the
    // exception. Model: snapshot-only unigram/bigram counts (the q121
    // 80% cut); score: Jelinek-Mercer over the snapshot bigram plus a
    // Laplace-floored unigram back-off — p(t2|t1) = 0.7·c(t1t2)/c(t1)
    // + 0.3·(c(t2)+1)/(N+V) — so an increment bigram the snapshot never
    // saw still gets positive mass (coalesce(0) on the missing joins)
    // and every probability stays a ratio of integer counts, IEEE-exact
    // cross-engine. Scale: the models are vocabulary-shaped aggregates
    // built ONCE per snapshot (at web scale: written tables, the scoring
    // joins degrade from broadcast to shuffled hash on the token pair —
    // same plan); per-shard scoring cost ∝ increment bigrams. The score
    // is the gate most large pipelines actually run on arriving shards.
    Q("q151_heldout_lm",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val t = docs.select(col("doc_id"), TextOps.toks(col("text")).as("ts"))
        val snapTok = t.filter(col("doc_id") < cut)
          .select(explode(col("ts")).as("t"))
        val uni = snapTok.groupBy(col("t")).agg(count(lit(1)).as("c1"))
        val bim = t.filter(col("doc_id") < cut)
          .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
            i => struct(element_at(col("ts"), i).as("t1"),
              element_at(col("ts"), (i + 1).cast("int")).as("t2"))))
            .as("b"))
          .groupBy(col("b.t1").as("t1"), col("b.t2").as("t2"))
          .agg(count(lit(1)).as("c12"))
        val totals = snapTok.agg(count(lit(1)).as("n_total"),
          countDistinct(col("t")).as("vocab"))
        val incBi = t.filter(col("doc_id") >= cut)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("ts")) - 1),
              i => struct(element_at(col("ts"), i).as("t1"),
                element_at(col("ts"), (i + 1).cast("int")).as("t2"))))
              .as("b"))
          .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
        incBi
          .join(bim, Seq("t1", "t2"), "left_outer")
          .join(uni.select(col("t").as("t1"), col("c1")), Seq("t1"),
            "left_outer")
          .join(uni.select(col("t").as("t2"), col("c1").as("c2")),
            Seq("t2"), "left_outer")
          .crossJoin(broadcast(totals))
          .select(col("doc_id"),
            (lit(0.7) * coalesce(col("c12") / col("c1"), lit(0.0)) +
              lit(0.3) * (coalesce(col("c2"), lit(0L)) + lit(1L)) /
                (col("n_total") + col("vocab"))).as("p"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_bi"),
            round(avg(-log(col("p"))), 6).as("avg_nll"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8)
                AS BIGINT) AS cut FROM documents),
              t AS (SELECT doc_id,
                  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
                FROM documents),
              stok AS (SELECT unnest(ts) AS t FROM t, cut
                WHERE doc_id < cut.cut),
              uni AS (SELECT t, count(*) AS c1 FROM stok GROUP BY t),
              sbi AS (SELECT unnest(list_transform(range(1, len(ts)),
                  i -> struct_pack(t1 := ts[i], t2 := ts[i+1]))) AS b
                FROM t, cut WHERE doc_id < cut.cut),
              bim AS (SELECT b.t1 AS t1, b.t2 AS t2, count(*) AS c12
                FROM sbi GROUP BY 1, 2),
              totals AS (SELECT count(*) AS n_total,
                  count(DISTINCT t) AS vocab FROM stok),
              ibi AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                  i -> struct_pack(t1 := ts[i], t2 := ts[i+1]))) AS b
                FROM t, cut WHERE doc_id >= cut.cut),
              ib AS (SELECT doc_id, b.t1 AS t1, b.t2 AS t2 FROM ibi),
              scored AS (SELECT ib.doc_id,
                  0.7 * coalesce(bim.c12 * 1.0 / u1.c1, 0.0) +
                  0.3 * (coalesce(u2.c1, 0) + 1) * 1.0 /
                    (totals.n_total + totals.vocab) AS p
                FROM ib
                LEFT JOIN bim ON ib.t1 = bim.t1 AND ib.t2 = bim.t2
                LEFT JOIN uni u1 ON ib.t1 = u1.t
                LEFT JOIN uni u2 ON ib.t2 = u2.t
                CROSS JOIN totals)
              SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bi,
                round(avg(-ln(p)), 6) AS avg_nll
              FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ---- frequent token pairs, A-priori style (q171): the
    // frequent-itemset member of the mining family (q49 counts
    // singletons, q99 mines event transitions — this mines CO-OCCURRENCE
    // within documents, the basis of taxonomy/compound discovery and
    // stop-phrase lists). A-priori's downward-closure is the scale
    // argument: only pairs of FREQUENT singletons (df ≥ 10% of docs)
    // ever become candidates, so the per-doc pair fanout is bounded by
    // the frequent-vocabulary size, not the raw vocabulary — at web
    // scale the frequent set is small by construction (the q35 df-cap
    // posture inverted: keep the head, not the tail). One distinct
    // (doc, token) relation feeds both the df count (shuffles token
    // partials) and the doc-keyed self-join; support counts
    // partial-aggregate. Top 20 by support, ties by (t1, t2).
    Q("q171_frequent_pairs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val docTok = docs.select(col("doc_id"),
            explode(array_distinct(expr(
              "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))).as("t"))
        // bounded driver action (the q44c cut-rule precedent): one scalar
        // count decides the support threshold
        val nDocs = docs.count()
        val frequent = docTok.groupBy(col("t"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") * 10 >= nDocs)
          .select(col("t"))
        val ft = docTok.join(broadcast(frequent), Seq("t"))
        ft.select(col("doc_id"), col("t").as("t1"))
          .join(ft.select(col("doc_id"), col("t").as("t2")), Seq("doc_id"))
          .filter(col("t1") < col("t2"))
          .groupBy(col("t1"), col("t2"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("t1"), col("t2"))
          .limit(20)
      },
      Some("""WITH dt AS (SELECT doc_id, unnest(list_distinct(
                  regexp_extract_all(lower(text), '[a-z0-9]+'))) AS t
                FROM documents),
              nd AS (SELECT count(*) AS n FROM documents),
              freq AS (SELECT t FROM dt, nd GROUP BY t, nd.n
                       HAVING count(*) * 10 >= n),
              ft AS (SELECT doc_id, t FROM dt WHERE t IN
                       (SELECT t FROM freq)),
              p AS (SELECT a.t AS t1, b.t AS t2
                FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t)
              SELECT t1, t2, count(*) AS support FROM p
              GROUP BY t1, t2
              ORDER BY support DESC, t1, t2 LIMIT 20""")),

    // ---- association rules (q173): q171's pairs promoted to DIRECTED
    // rules a→b with the two standard strengths — confidence
    // sup(a,b)/sup(a) (how often b follows from a) and lift
    // conf/(sup(b)/N) (how much more often than chance). Both are
    // ratios of exact integer supports over the same frequent-pair
    // relation (one extra broadcast join against the singleton
    // supports), so the mining cost is q171's and the rule derivation
    // is vocabulary-bounded. Top 20 rules by (lift, conf) with lexical
    // tie-break; ratios floor-quantized (midpoint discipline).
    Q("q173_association_rules",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val docTok = docs.select(col("doc_id"),
            explode(array_distinct(expr(
              "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))).as("t"))
        // bounded driver action (q171's precedent)
        val nDocs = docs.count()
        val singles = docTok.groupBy(col("t"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") * 10 >= nDocs)
        val ft = docTok.join(broadcast(singles.select(col("t"))), Seq("t"))
        val pairs = ft.select(col("doc_id"), col("t").as("t1"))
          .join(ft.select(col("doc_id"), col("t").as("t2")), Seq("doc_id"))
          .filter(col("t1") =!= col("t2")) // directed: both orientations
          .groupBy(col("t1"), col("t2"))
          .agg(count(lit(1)).as("support"))
        pairs
          .join(broadcast(singles.select(col("t").as("t1"),
            col("df").as("df1"))), Seq("t1"))
          .join(broadcast(singles.select(col("t").as("t2"),
            col("df").as("df2"))), Seq("t2"))
          .select(col("t1").as("antecedent"), col("t2").as("consequent"),
            col("support"),
            (floor(col("support") / col("df1").cast("double") * 10000)
              / 10000).as("confidence"),
            (floor(col("support") * nDocs /
              (col("df1") * col("df2")).cast("double") * 10000)
              / 10000).as("lift"))
          .orderBy(col("lift").desc, col("confidence").desc,
            col("antecedent"), col("consequent"))
          .limit(20)
      },
      Some("""WITH dt AS (SELECT doc_id, unnest(list_distinct(
                  regexp_extract_all(lower(text), '[a-z0-9]+'))) AS t
                FROM documents),
              nd AS (SELECT count(*) AS n FROM documents),
              freq AS (SELECT t, count(*) AS df FROM dt, nd
                       GROUP BY t, nd.n HAVING count(*) * 10 >= n),
              ft AS (SELECT doc_id, t FROM dt WHERE t IN
                       (SELECT t FROM freq)),
              p AS (SELECT a.t AS t1, b.t AS t2, count(*) AS support
                FROM ft a JOIN ft b
                  ON a.doc_id = b.doc_id AND a.t <> b.t
                GROUP BY 1, 2)
              SELECT t1 AS antecedent, t2 AS consequent, support,
                floor(support * 1.0 / f1.df * 10000) / 10000
                  AS confidence,
                floor(support * nd.n * 1.0 / (f1.df * f2.df) * 10000)
                  / 10000 AS lift
              FROM p JOIN freq f1 ON p.t1 = f1.t
                JOIN freq f2 ON p.t2 = f2.t
                CROSS JOIN nd
              ORDER BY lift DESC, confidence DESC, antecedent, consequent
              LIMIT 20""")),

    // ---- incremental BM25 index maintenance (q187): the retrieval
    // family's maintain leg — the written postings index (q58's run is
    // the build-from-scratch formulation, q107/q108 the streaming
    // serves) maintained under an increment and served without touching
    // snapshot text. See [[bm25Incremental]] for why the maintenance is
    // EXACT (every BM25 corpus statistic is an algebraic aggregate) —
    // which is why the oracle is q58's full-corpus SQL verbatim: the
    // incrementally-served top-20 must equal a from-scratch rebuild
    // bit-for-bit, and the driver hash-checks that it does.
    Q("q187_bm25_incremental",
      (s, d) => bm25Incremental(s, d, tag = bm25Tag(d)),
      Some(Bm25Sql))
  )
}
