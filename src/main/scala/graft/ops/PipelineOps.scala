package graft.ops

import graft.Q
import graft.expr.IdSetExprs
import graft.schema.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline composition operators — the steps that sit
  * BETWEEN the primitives the rest of the catalog provides: near-dup pair
  * detection → [[connectedComponents]] cluster resolution (pick one doc
  * per duplicate cluster); corpus → deterministic stratified
  * train/valid/test split; raw docs → composed quality-filter verdicts.
  *
  * Scale posture: cluster resolution is iterative min-label propagation —
  * each round is one key-equi join + partial-agg min, all shuffles on the
  * node id, intermediate labels persisted and the previous round
  * explicitly unpersisted (bounded memory, bounded lineage: every round is
  * materialized by its convergence count, so nothing recomputes the chain).
  * Rounds needed = component diameter — near-dup clusters are shallow
  * (duplicates of a common original), so this converges in 2-3 rounds; a
  * general billion-edge graph would use the alternating large/small-star
  * variant of the same join shape.
  */
object PipelineOps {

  /** Connected components by iterative min-label propagation.
    *
    * @param edges undirected edge list, columns (a, b)
    * @return (node, cluster_id) — cluster_id = min node id in the component
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      driverGateEdges: Int = Gates.DriverEdges): DataFrame =
    RunScope.keyed("PipelineOps.connectedComponents") {
    val cast = edges.select(col("a").cast("long"), col("b").cast("long"))
    val spark = edges.sparkSession
    // Size-gated hybrid (round 12, [[Gates.DriverEdges]]): one bounded
    // collect of the INPUT edges decides the path and, below the gate,
    // feeds the driver [[unionFind]].
    Gates.collectBounded(cast, driverGateEdges).map { es =>
      import spark.implicits._
      spark.createDataset(
          unionFind(es.iterator.map(r => (r.getLong(0), r.getLong(1)))).toSeq)
        .toDF("node", "cluster_id")
    }.getOrElse {
      // Checkpoint the input first, at full parallelism (under the loop's
      // 4-partition width q45's upstream join once ran on 4 tasks, the
      // round-3 regression): it then runs once however often it is read.
      val in = RunScope.checkpoint(cast)
      // The label table is O(nodes-with-duplicates), tiny relative to the
      // corpus — run the iterative shuffles at a partition count sized to
      // IT (same principle as the streaming state stores), restoring the
      // session setting afterwards. At billion-edge scale this would
      // instead be left to AQE coalescing.
      graft.LocalSpark.withConf(spark, "spark.sql.shuffle.partitions" -> "4") {
        // every round joins the symmetric edges: built once, from `in`
        val sym = RunScope.checkpoint(
          in.union(in.select(col("b").as("a"), col("a").as("b"))).distinct())
        connectedComponentsImpl(sym, maxIter)
      }
    }
  }

  /** The driver union-find of both driver paths ([[connectedComponents]]
    * below its gate, [[mergeDeltaIntoLabels]] below its gate): every node
    * of `edges` to its component's minimum id. Orientation- and
    * duplicate-blind; with min-root union the labeling is the min-label
    * propagation fixpoint EXACTLY (PipelineOpsSpec compares it with the
    * distributed loop). */
  private[graft] def unionFind(
      edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // union under the SMALLER root: both roots are their sets' minima,
      // so the merged root is the component minimum
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }

  private def connectedComponentsImpl(sym: DataFrame,
      maxIter: Int): DataFrame = {
    // Each round references the previous labels TWICE (neighbor pull +
    // self), so a bare persist would double the LOGICAL plan per round —
    // exponential tree growth even though the data is cached.
    // localCheckpoint materializes eagerly AND truncates lineage, keeping
    // every round's plan O(1); the checkpoint blocks are O(nodes) and live
    // for the loop (they back the returned result, so they must not be
    // freed mid-computation).
    // round 0 fused into initialization: with lbl(x)=x, the first
    // propagation is just min(self, min neighbor id) — one agg, no join
    // `labelsCkpt` is the DIRECTLY-checkpointed frame of the current
    // round (the one whose RDD blocks can be released); `labels` may be
    // a projection over it, which RunScope.release could not see
    // through.
    var labelsCkpt = RunScope.checkpoint(sym.groupBy(col("a").as("node"))
      .agg(min(col("b")).as("nbr_min"))
      .select(col("node"), least(col("node"), col("nbr_min")).as("lbl")))
    var labels: DataFrame = labelsCkpt
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // each node pulls the min label among its neighbors, keeps the min
      // of that and its own — one shuffle-on-node join + partial-agg min
      val nbrMin = sym
        .join(labels.withColumnRenamed("node", "nbr"), col("b") === col("nbr"))
        .groupBy(col("a").as("node")).agg(min(col("lbl")).as("nbr_lbl"))
      val next = RunScope.checkpoint(labels.withColumnRenamed("lbl", "prev")
        .join(nbrMin, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("prev"), coalesce(col("nbr_lbl"), col("prev"))).as("lbl"),
          col("prev")))
      changed = next.filter(col("lbl") =!= col("prev")).count()
      // the superseded round's node-sized blocks, freed now rather than
      // with the run's scope
      RunScope.release(labelsCkpt)
      labelsCkpt = next
      labels = next.select(col("node"), col("lbl"))
      iter += 1
    }
    labels.withColumnRenamed("lbl", "cluster_id")
  }

  /** The SHARED full-corpus dup-cluster labels — the closure over
    * [[TextOps.corpusLshPairs]] — written once per (corpus, threshold,
    * dfCap) and probed by every downstream consumer: q45's gated
    * production path, q45b, canonical-doc selection (q85), and the
    * leakage-safe split (q86). Cluster resolution is a snapshot artifact
    * exactly like the LSH index: at 100 TB the labeling is computed when
    * a corpus snapshot lands and reused by every curation step that needs
    * "which dup class is this doc in", not recomputed per step. Schema:
    * (node, cluster_id), cluster_id = min doc_id of the component. */
  private[graft] val CorpusLabelsTable = "graft_corpus_dup_labels"

  def corpusDupLabels(s: SparkSession, d: String): DataFrame = {
    ArtifactCache.once(CorpusLabelsTable,
        TextOps.corpusLshPairsTag(d).map(_ + "|labels")) {
      val pairs = TextOps.corpusLshPairs(s, d)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Tables.resetManagedTable(s, CorpusLabelsTable)
      connectedComponents(pairs)
        .write.mode("overwrite").saveAsTable(CorpusLabelsTable)
    }
    s.table(CorpusLabelsTable)
  }

  /** q144: incremental duplicate-cluster MAINTENANCE — the
    * maintain-incrementally member the clustering pillar was missing
    * (q34c maintains the PAIR feed, q44c the IVF index, q128/q139 the
    * mergeable aggregates; this maintains the CLUSTER LABELS).
    * Yesterday's corpus has its banded LSH index, frozen hot-shingle
    * stats, AND per-doc cluster labels written (`table`, `table`_hot,
    * `table`_labels); today's increment must be folded in WITHOUT
    * re-clustering the corpus.
    *
    * Mechanics: (1) the increment bands alone under the frozen hot list
    * and probes the written index for snapshot×increment candidates, plus
    * its own internal band self-pairs; survivors verify exactly
    * ([[TextOps.deltaPairsAgainstIndex]]). (2) the delta edges contract
    * through the stored labels and close ([[mergeDeltaIntoLabels]]), so
    * merged labels equal the from-scratch run's labels EXACTLY — the
    * oracle is q45's recursive transitive closure over exact pairs of the
    * ENTIRE corpus, shared verbatim. Below their size gates both steps
    * run on the driver: a warm op is a few small collects plus the serve
    * action, and persists and checkpoints nothing. Cost: probe + verify ∝
    * increment, closure ∝ delta edges, relabel ∝ touched clusters; the
    * written artifacts are never rebuilt.
    *
    * Snapshot and increment fingerprint lazily; the increment and the
    * candidate lookups read the unfanned documents scan (below the gate
    * the increment is at most a few thousand docs, one task's banding).
    * A warm run (ArtifactCache hit on the shared index + labels)
    * therefore tokenizes only the increment and the candidates, and
    * never caches corpus shingles (measured: the persisted-input
    * formulation re-cached them up to three times per run, 11.2 s vs
    * 5.5 s at sf0.1). */
  def incrementalDupClusters(s: SparkSession, d: String,
      jaccardThreshold: Double, dfCap: Int): DataFrame = {
    val (docs, scan) = Tables.documentsAndScan(s, d)
    // memoized cut (round 16): same floor() boundary rule, derived once
    // per (sfDir, table) instead of one in-plan corpus agg per run
    val cut = graft.schema.Cuts.documents(s, d)
    // shared-artifact tags (ArtifactCache): the index is the one
    // q34c/q109/q146/q148 probe; the labels additionally depend on the
    // verify threshold, so it joins the tag
    val tag = TextOps.snapshotLshTag(d)
    incrementalDupClustersFrom(s, docs.filter(col("doc_id") < cut),
      scan.filter(col("doc_id") >= cut), jaccardThreshold, dfCap,
      TextOps.SnapshotLshTable, indexTag = tag,
      labelsTag = tag.map(t => s"$t|j$jaccardThreshold"),
      lookupText = Some(scan))
  }

  /** [[incrementalDupClusters]] over explicit snapshot/increment
    * (doc_id, text) relations — the testable core (PipelineOpsSpec asserts
    * ≡ from-scratch clustering of the union on planted merge shapes, and
    * the driver path ≡ the relational one).
    * Candidates are looked up in `lookupText`, by default the union. */
  private[graft] def incrementalDupClustersFrom(s: SparkSession,
      snap: DataFrame, inc: DataFrame, jaccardThreshold: Double,
      dfCap: Int, table: String, indexTag: Option[String] = None,
      labelsTag: Option[String] = None,
      lookupText: Option[DataFrame] = None): DataFrame =
    RunScope.keyed("PipelineOps.incrementalDupClustersFrom") {
    val text = lookupText.getOrElse(snap.unionByName(inc))
    // The INCREMENT is read once, by its banding, so it is not cached.
    // The SNAPSHOT fingerprints persist only inside the cold index build,
    // so a warm run (ArtifactCache hit on both artifacts) never
    // materializes corpus-wide shingles.
    // ---- build-once phase (the q34c demo concession: the snapshot's
    // artifacts are written in the same run; production wrote them when
    // the snapshot itself was ingested). Both artifacts are ArtifactCache-
    // memoized under content tags, so family members sharing them
    // (q34c/q109/q146/q148 the index; q146 the labels) build once per JVM.
    TextOps.writeSnapshotLshIndex(s, TextOps.fingerprints(snap), dfCap,
      table, indexTag)
    ArtifactCache.once(s"${table}_labels", labelsTag) {
      val snapPairs = TextOps
        .pairsFromBandedIndex(s.table(table), text, jaccardThreshold)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Tables.resetManagedTable(s, s"${table}_labels")
      connectedComponents(snapPairs)
        .write.mode("overwrite").saveAsTable(s"${table}_labels")
    }

    // ---- maintain phase: everything below is increment-sized. ONE
    // candidate set, ONE verify (round 12), via the shared delta-pair
    // machinery ([[TextOps.deltaPairsAgainstIndex]], factored round 15
    // for q210's triangle maintainer): cross candidates (index probe)
    // and increment-internal candidates, verified once. Below the gate
    // the edges come back as a local relation, which the merge reads
    // without a job.
    val edges = TextOps
      .deltaPairsAgainstIndex(s, table, TextOps.fingerprints(inc), text,
        jaccardThreshold)
      .select(col("id_a"), col("id_b"))

    // ---- contraction + serve: the shared delta-merge algebra — see
    // [[mergeDeltaIntoLabels]]. Untouched clusters pass through
    // label-stable; at scale the merged label table is the upsert applied
    // back to `table`_labels. One range shuffle on cluster_id serves both
    // the count and the order (a hash shuffle for the count and a range
    // shuffle for the order are two exchanges, and one more job).
    mergeDeltaIntoLabels(s.table(s"${table}_labels"), edges)
      .repartitionByRange(col("cluster_id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("cluster_id"))
  }

  /** q168/q169's shared dimension-version derivation: base segments
    * effective 1990, every 4th customer re-segments 1997, every 8th
    * again 1999 — deterministic in both engines. Consecutive no-op
    * versions are suppressed (none arise from this synthesis, but the
    * rule is part of SCD2's contract). Output: (key, segment, ef). */
  private[graft] def scd2Dim(customer: DataFrame): DataFrame = {
    def ts(v: String) = lit(java.sql.Timestamp.valueOf(s"$v 00:00:00"))
    val base = customer.select(col("c_custkey").as("key"),
      col("c_mktsegment").as("segment"), ts("1990-01-01").as("ef"))
    val v2 = customer.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("key"),
        concat(col("c_mktsegment"), lit("_V2")).as("segment"),
        ts("1997-01-01").as("ef"))
    val v3 = customer.filter(col("c_custkey") % 8 === 0)
      .select(col("c_custkey").as("key"),
        concat(col("c_mktsegment"), lit("_V3")).as("segment"),
        ts("1999-06-01").as("ef"))
    val w = Window.partitionBy(col("key")).orderBy(col("ef"))
    base.unionByName(v2).unionByName(v3)
      .withColumn("prev", lag(col("segment"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("segment"))
      .drop("prev")
  }

  /** The matching DuckDB CTE prefix (ends with `kept`). */
  private[graft] val Scd2Sql =
    """WITH allv AS (
         SELECT c_custkey AS key, c_mktsegment AS segment,
           TIMESTAMP '1990-01-01' AS ef FROM customer
         UNION ALL
         SELECT c_custkey, c_mktsegment || '_V2', TIMESTAMP '1997-01-01'
           FROM customer WHERE c_custkey % 4 = 0
         UNION ALL
         SELECT c_custkey, c_mktsegment || '_V3', TIMESTAMP '1999-06-01'
           FROM customer WHERE c_custkey % 8 = 0),
       f AS (SELECT *, lag(segment) OVER
           (PARTITION BY key ORDER BY ef) AS prev FROM allv),
       kept AS (SELECT key, segment, ef FROM f
         WHERE prev IS NULL OR prev <> segment)
       """

  /** q168's history with validity intervals; also q170's (streamed
    * history ≡ batch SCD2 build). */
  private[graft] val Scd2HistorySql = Scd2Sql +
    """SELECT key, segment, strftime(ef, '%Y-%m-%d') AS valid_from,
              strftime(lead(ef) OVER (PARTITION BY key ORDER BY ef),
                '%Y-%m-%d') AS valid_to,
              lead(ef) OVER (PARTITION BY key ORDER BY ef) IS NULL
                AS is_current
           FROM kept ORDER BY key, valid_from"""

  /** q168's served history: each version's [valid_from, valid_to) as
    * yyyy-MM-dd strings and whether it is current; shared with q170. */
  private[graft] def scd2Intervals(hist: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ef"))
    hist.select(col("key"), col("segment"),
        date_format(col("ef"), "yyyy-MM-dd").as("valid_from"),
        date_format(lead(col("ef"), 1).over(w), "yyyy-MM-dd")
          .as("valid_to"),
        lead(col("ef"), 1).over(w).isNull.as("is_current"))
      .orderBy(col("key"), col("valid_from"))
  }

  /** q155/q165's shared oracle: the from-scratch dataset card. q165
    * must reproduce it from merged state — incremental ≡ from-scratch. */
  private[graft] val DatasetCardSql =
    """WITH perdoc AS (SELECT lang, source,
                length(text) AS chars,
                len(string_split_regex(trim(text), '\s+')) AS toks,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
              FROM documents),
              cells AS (SELECT lang, source, count(*) AS n_docs,
                sum(chars) AS total_chars, sum(toks) AS total_tokens,
                count(DISTINCT h) AS n_distinct
              FROM perdoc GROUP BY lang, source)
              SELECT lang, source, n_docs,
                CAST(total_chars AS BIGINT) AS total_chars,
                CAST(total_tokens AS BIGINT) AS total_tokens,
                floor((1.0 - n_distinct * 1.0 / n_docs) * 10000) / 10000
                  AS dup_rate,
                floor(total_chars * 1.0 /
                  (sum(total_chars) OVER ()) * 10000) / 10000
                  AS char_share
              FROM cells ORDER BY lang, source"""

  /** Per-doc card features (q155/q165): chars, whitespace tokens, and the
    * q31-normalization content hash. Map-side; the hash shuffles as 32
    * hex chars, never text. */
  private[graft] def cardPerDoc(docs: DataFrame): DataFrame =
    docs.select(
      col("lang"), col("source"),
      length(col("text")).cast("long").as("chars"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))

  /** The q155 report over aggregated cells (lang, source, n_docs,
    * total_chars, total_tokens, n_distinct): ratios + corpus char share
    * via re-aggregating the persisted tiny card (no partition-less
    * window, no second corpus scan). */
  private[graft] def cardReport(cells: DataFrame): DataFrame = {
    val p = cells.persist()
    val total = p.agg(sum(col("total_chars")).as("corpus_chars"))
    p.crossJoin(broadcast(total))
      .select(col("lang"), col("source"), col("n_docs"),
        col("total_chars"), col("total_tokens"),
        (floor((lit(1.0) - col("n_distinct") /
          col("n_docs").cast("double")) * 10000) / 10000).as("dup_rate"),
        (floor(col("total_chars") /
          col("corpus_chars").cast("double") * 10000) / 10000)
          .as("char_share"))
      .orderBy(col("lang"), col("source"))
  }

  /** The SHARED ER block index of the customer base (q160 builds/probes,
    * q164's streaming gate probes) and its content tag per testdata dir. */
  private[graft] val ErBlockIndexTable = "graft_er_block_index"
  private[graft] def erBlockTag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "customer", "er-prefix15-suffix5")

  /** q159/q160/q164's shared blocking: both passes (15-char prefix,
    * 5-char suffix) tagged and unioned — (pass, nk, bk, id, name). */
  private[graft] def erKeyed(df: DataFrame): DataFrame =
    df.select(lit(1).as("pass"), col("nk"),
        substring(col("name"), 1, 15).as("bk"), col("id"), col("name"))
      .union(df.select(lit(2).as("pass"), col("nk"),
        expr("substr(name, length(name) - 4, 5)").as("bk"),
        col("id"), col("name")))

  /** Matched ER pairs between two keyed sides: same-block candidates
    * scored with the q159 rule, deduped across passes. `l`-side ids must
    * be the smaller ones (snapshot < increment by construction). */
  private[graft] def erMatches(l: DataFrame, r: DataFrame): DataFrame =
    l.as("x").join(r.as("y"),
        col("x.pass") === col("y.pass") &&
          col("x.nk") === col("y.nk") &&
          col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id"))
      .filter(levenshtein(col("x.name"), col("y.name")) <= 1 &&
        length(col("x.name")) =!= length(col("y.name")))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  /** The delta-merge algebra shared by every maintain-incrementally
    * clustering member (q144 one-shot text, q146 streaming text, q149
    * embedding groups, q160 entity resolution): CONTRACT the delta edges
    * through the stored labels — each old endpoint collapses to its
    * cluster label (or itself when previously unclustered), so the
    * closure's node set is {touched labels ∪ touched singletons ∪ new
    * docs}, delta-sized, never corpus-sized — run the min-label closure
    * on the contracted graph only, then emit the fully merged
    * (node, cluster_id) table: old members ride their (possibly
    * re-mapped) label, nodes new to the table take their closure label.
    * Labels are min member ids and contraction preserves component
    * minima (an old label IS its cluster's min; singleton/new nodes stand
    * for themselves), so the merged table equals a from-scratch
    * clustering EXACTLY.
    *
    * Size-gated like [[connectedComponents]]: one bounded collect of the
    * edges picks the path. Below the gate (every warm op of the
    * family) the contraction and the closure run on the driver — the
    * touched endpoints' stored labels are one collect, the closure is
    * [[unionFind]] — and the result is the stored labels broadcast-joined
    * to the driver's relabel map plus a local relation of the nodes new
    * to the table. That path persists and checkpoints nothing. Above the
    * gate the relational contraction and [[connectedComponents]] run,
    * deriving the edges twice more, in its bounded collect and its
    * checkpoint (the gated collect read them first).
    *
    * The driver path reads "new to the table" as "an endpoint without a
    * stored label": every stored cluster_id is itself a node of the
    * table (closures emit their min member, and a merge keeps it), which
    * every label table here is built to hold.
    *
    * @param lbl   stored labels (node, cluster_id)
    * @param edges delta edges (id_a, id_b), any orientation — old-new
    *              and new-new mixed freely (both endpoints contract)
    */
  private[graft] def mergeDeltaIntoLabels(lbl: DataFrame, edges: DataFrame,
      driverGateEdges: Int = Gates.DriverEdges): DataFrame =
    Gates.collectBounded(
        edges.select(col("id_a").cast("long"), col("id_b").cast("long")),
        driverGateEdges)
      .map(es => mergeOnDriver(lbl,
        es.toSeq.map(r => (r.getLong(0), r.getLong(1)))))
      .getOrElse(mergeRelational(lbl, edges))

  private def mergeOnDriver(lbl: DataFrame,
      edges: Seq[(Long, Long)]): DataFrame = {
    val spark = lbl.sparkSession
    import spark.implicits._
    val ends = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    val stored: Map[Long, Long] =
      if (ends.isEmpty) Map.empty
      else lbl.filter(IdSetExprs.isIn(col("node"), ends))
        .select(col("node"), col("cluster_id")).as[(Long, Long)]
        .collect().toMap
    def contract(x: Long): Long = stored.getOrElse(x, x)
    val relabel = unionFind(
      edges.iterator.map { case (a, b) => (contract(a), contract(b)) })
    val moved = relabel.filter { case (n, l) => n != l }.toSeq
      .toDF("olbl", "nlbl")
    val fresh = (ends -- stored.keySet).toSeq.map(n => (n, relabel(n)))
      .toDF("node", "cluster_id")
    lbl.join(broadcast(moved), col("cluster_id") === col("olbl"),
        "left_outer")
      .select(col("node"),
        coalesce(col("nlbl"), col("cluster_id")).as("cluster_id"))
      .unionByName(fresh)
  }

  private def mergeRelational(lbl: DataFrame, edges: DataFrame): DataFrame = {
    // contract BOTH endpoints (round 12): an endpoint with a stored label
    // collapses to it (the label IS its cluster's min, so contraction
    // preserves component minima), an unlabeled endpoint stands for
    // itself — edge orientation therefore no longer matters and callers
    // feed ONE unordered delta-edge stream (cross ∪ self), which is what
    // lets the incremental paths verify their candidate sets once
    val contracted = edges
      .join(lbl.select(col("node").as("id_a"), col("cluster_id").as("ca")),
        Seq("id_a"), "left_outer")
      .join(lbl.select(col("node").as("id_b"), col("cluster_id").as("cb")),
        Seq("id_b"), "left_outer")
      .select(coalesce(col("ca"), col("id_a")).as("a"),
        coalesce(col("cb"), col("id_b")).as("b"))
    // above its gate connectedComponents derives the delta pairs
    // (banding, index probe, candidate verify) in its bounded collect and
    // once more in the checkpoint its rounds read
    val relabel = connectedComponents(contracted)
      .select(col("node"), col("cluster_id").as("nlbl"))
    val fromOld = lbl
      .join(relabel.withColumnRenamed("node", "olbl"),
        col("cluster_id") === col("olbl"), "left_outer")
      .select(col("node"),
        coalesce(col("nlbl"), col("cluster_id")).as("cluster_id"))
    val fromNew = relabel
      .join(lbl.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("nlbl").as("cluster_id"))
    fromOld.unionByName(fromNew)
  }

  /** Snapshot build phase shared by q146's entry and its spec: write the
    * banded LSH index + frozen hot list for `snap` (doc_id, text), cluster
    * the snapshot from its own index, and record the labels as version 0
    * of the versioned label store (q112's store layout). */
  private[graft] def buildClusterSnapshotStore(s: SparkSession,
      snap: DataFrame, dfCap: Int, table: String, labelStore: String,
      jaccardThreshold: Double, indexTag: Option[String] = None,
      labelsTag: Option[String] = None): Unit =
    RunScope.keyed("PipelineOps.buildClusterSnapshotStore") {
    // index + labels are the SAME artifacts q144 builds — memoized under
    // the same content tags (ArtifactCache), so whichever family member
    // runs first this JVM pays the build. The versioned store's v0 is a
    // copy of the (small, clustered-nodes-only) label table, because the
    // stream folds new versions next to it per micro-batch.
    TextOps.writeSnapshotLshIndex(s, TextOps.fingerprints(snap), dfCap,
      table, indexTag)
    ArtifactCache.once(s"${table}_labels", labelsTag) {
      Tables.resetManagedTable(s, s"${table}_labels")
      connectedComponents(TextOps
          .pairsFromBandedIndex(s.table(table), snap, jaccardThreshold)
          .select(col("id_a").as("a"), col("id_b").as("b")))
        .write.mode("overwrite").saveAsTable(s"${table}_labels")
    }
    val labels = s.table(s"${table}_labels")
    labels.coalesce(labelVersionWidth(labels))
      .write.mode("overwrite").parquet(s"$labelStore/v0")
  }

  /** Write width of a label version: one file per
    * `spark.sql.files.maxPartitionBytes` of the label data it derives
    * from, at least one — not the shuffle width (4-32 KB files every
    * later batch re-opens, guide §6) and not a fixed single file. `src`
    * is a file scan: its size comes from the file listing, no job. */
  private def labelVersionWidth(src: DataFrame): Int = {
    val bytes = src.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = src.sparkSession.sessionState.conf.filesMaxPartitionBytes
    (bytes / target).max(1).min(Int.MaxValue).toInt
  }

  /** One micro-batch of cluster-label maintenance — q144's maintain phase
    * as the STREAMING fold (q146). Differences from the one-shot
    * incremental path, both forced by unbounded arrival:
    *
    *  - the "corpus so far" is the snapshot index PLUS every EARLIER
    *    batch's bands, so a batch-B doc that near-dups a batch-A doc
    *    (A < B) still pairs up: each batch appends its own bands to the
    *    band store (partition `b<batchId>`, overwritten on replay) after
    *    probing everything before it;
    *  - labels live in a q112-style VERSIONED store: batch B contracts
    *    its delta graph through the newest labels version ≤ B and writes
    *    the fully-merged map as v(B+1), so a retried batch re-derives
    *    from the same base and rewrites its own version instead of
    *    double-merging.
    *
    * The contraction-preserves-min argument (see
    * [[incrementalDupClusters]]) applies inductively batch over batch, so
    * after the last batch the served labels equal a from-scratch
    * clustering of snapshot ∪ all batches EXACTLY — q45's whole-corpus
    * oracle, verbatim, is the correctness statement. Per-batch cost:
    * banding + probe ∝ batch, closure ∝ delta edges, relabel ∝ touched
    * clusters; only the candidates are fingerprinted for verification,
    * from the corpus text relation `allText` (batch docs are corpus rows
    * too). `batch` and `allText` are (doc_id, text).
    */
  private[graft] def foldBatchIntoClusterStore(s: SparkSession,
      batch: DataFrame, allText: DataFrame, table: String, bandStore: String,
      labelStore: String, batchId: Long, jaccardThreshold: Double): Unit =
    RunScope.keyed("PipelineOps.foldBatchIntoClusterStore") {
    val bands = RunScope.own(
      TextOps.bandedSignaturesFrozenHot(TextOps.fingerprints(batch),
          s.table(s"${table}_hot"))
        .persist()) // three consumers: cross probe, self candidates, append
    val prior = s.table(table)
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id"))
      .unionByName(streamBandsBefore(s, bandStore, batchId))
    // ONE candidate set, ONE verify — the q144 maintain-phase shape
    // (cross and batch-internal legs are disjoint: cross pairs have a
    // prior endpoint)
    val crossCand = prior
      .select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(bands.select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id").as("id_b")), Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val cand = RunScope.own(crossCand
      .unionByName(TextOps.candidatesFromBandedIndex(bands))
      .persist()) // feeds the id-set prune + both verify joins
    val edges = TextOps.verifyJaccardCandidates(cand,
        TextOps.lookupForCandidates(allText, cand), jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    val base = Upsert.versionsOf(s, labelStore).filter(_ <= batchId).max
    val lbl = s.read.parquet(s"$labelStore/v$base")
    // the merged version is the base version plus a delta-sized change,
    // so it is written at the base's width
    mergeDeltaIntoLabels(lbl, edges).coalesce(labelVersionWidth(lbl))
      .write.mode("overwrite").parquet(s"$labelStore/v${batchId + 1}")
    // keyed slot write + threshold fold (round 17, VERDICT r16 #3): the
    // band store was the worst slot-accretion site — every batch LISTS
    // and UNIONS all earlier slots, so unbounded slot count meant
    // per-batch probe cost growing with stream lifetime
    SlotStore.writeSlot(
      bands.select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id")),
      bandStore, batchId)
  }

  /** Bands appended by batches strictly before `batchId` (empty relation
    * when none) — the replay rule: a retried batch never sees its own
    * earlier append. Compact-aware (SlotStore): reads the folded
    * artifact plus the live tail, never an unbounded slot list. */
  private def streamBandsBefore(s: SparkSession, bandStore: String,
      batchId: Long): DataFrame =
    SlotStore.read(s, bandStore, beforeId = batchId)
      .map(_.select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id")))
      .getOrElse(s.range(0).select(lit(0).as("band"), lit(0L).as("bucket"),
        lit(0L).as("doc_id")))

  /** Gopher-style per-doc quality verdicts (token-count bounds, mean word
    * length, stopword presence, symbol ratio) + the composed keep flag.
    * Pure map-side built-ins over (doc_id, text) — safe on a stream (no
    * shuffle, no state), which is exactly how q67 runs it. Kept verbatim
    * in sync with [[QualityFilterSql]]. */
  private[graft] def qualityVerdicts(df: DataFrame): DataFrame =
    df.withColumn("tk", TextOps.toks(col("text")))
      .withColumn("n_tok", size(col("tk")))
      .select(
        col("doc_id"),
        col("n_tok").between(15, 10000).as("wc_ok"),
        (length(array_join(col("tk"), "")) /
          greatest(col("n_tok"), lit(1)).cast("double"))
          .between(3.0, 10.0).as("mwl_ok"),
        (size(filter(col("tk"), t =>
          t === "the" || t === "a" || t === "of" || t === "and")) > 0)
          .as("stop_ok"),
        (length(regexp_replace(col("text"), "[\\sa-zA-Z0-9]", ""))
          / length(col("text")).cast("double") < 0.1).as("sym_ok"))
      .withColumn("keep",
        col("wc_ok") && col("mwl_ok") && col("stop_ok") && col("sym_ok"))

  /** q47's exact oracle; also q67's (stream ≡ batch by construction). */
  private[graft] val QualityFilterSql: String =
    """WITH t AS (SELECT doc_id, text,
        regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      FROM documents),
      r AS (SELECT doc_id,
        len(tk) BETWEEN 15 AND 10000 AS wc_ok,
        length(array_to_string(tk, '')) * 1.0 /
          greatest(len(tk), 1) BETWEEN 3.0 AND 10.0 AS mwl_ok,
        len(list_filter(tk, x -> x IN ('the','a','of','and'))) > 0
          AS stop_ok,
        length(regexp_replace(text, '[\sa-zA-Z0-9]', '', 'g')) * 1.0
          / length(text) < 0.1 AS sym_ok
      FROM t)
      SELECT doc_id, wc_ok, mwl_ok, stop_ok, sym_ok,
        wc_ok AND mwl_ok AND stop_ok AND sym_ok AS keep
      FROM r ORDER BY doc_id"""

  /** Tokenizer APPLICATION (q110, VERDICT r10 #5): encode each doc with
    * the corpus-trained merge table — the missing third leg of the
    * tokenize (q32) → train (q84) → APPLY loop a training-data pipeline
    * actually runs to budget its token counts.
    *
    * Greedy left-to-right pair merging is formulated RELATIONALLY so both
    * engines compute it exactly: a position is `matched` when its
    * adjacent-token pair is in the merge table; greedy non-overlapping
    * selection takes alternate positions within each maximal run of
    * consecutive matched positions, so merges-per-run = ceil(len/2) — a
    * run-group (pos - row_number) plus one aggregate, no sequential scan,
    * no UDF. Per-doc outputs: raw/encoded token counts and the OOV rate
    * against the merge table's symbol set.
    *
    * Scale shape: ONE tokenize+posexplode pass persisted and shared by
    * training and application; the merge table (topN rows by
    * construction) and its symbol vocabulary BROADCAST into the matched
    * semi-join and the OOV anti-join; the windows partition by doc_id
    * (parallel); the only corpus-sized shuffle is the training
    * aggregation's (pair, partial-count) stream — at 100 TB the merge
    * table would be trained once and the application side alone reruns
    * per corpus snapshot, entirely map-side but for the per-doc window.
    */
  def bpeEncodeStats(docs: DataFrame, topN: Int): DataFrame = {
    val pos = tokenPositions(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = adjacentPairs(pos)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = trainMergesFromPairs(pairs, topN)
    encodeFromPositions(docs, pos, pairs, merges)
  }

  /** The training half of [[bpeEncodeStats]], exposed so the streaming
    * twin (q114) can train ONCE on a snapshot, freeze the merge table,
    * and apply it per micro-batch — the q44c/q109 frozen-artifact
    * posture for the tokenizer family. */
  def trainMerges(docs: DataFrame, topN: Int): DataFrame =
    trainMergesFromPairs(adjacentPairs(tokenPositions(docs)), topN)

  /** The application half: encode `docs` against a FROZEN merge table
    * (any (pair) relation — freshly trained or read back from a written
    * artifact). Pure per-doc work given the broadcast merge table. */
  def encodeWithMerges(docs: DataFrame, merges: DataFrame): DataFrame = {
    val pos = tokenPositions(docs)
    encodeFromPositions(docs, pos, adjacentPairs(pos), merges)
  }

  private def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(TextOps.toks(col("text"))).as(Seq("pos", "tok")))

  private def adjacentPairs(pos: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.withColumn("nxt", lead(col("tok"), 1).over(byDoc))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("tok"), col("nxt")).as("pair"))
  }

  private def trainMergesFromPairs(pairs: DataFrame, topN: Int): DataFrame =
    pairs.groupBy(col("pair")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("pair").asc).limit(topN)
      .select(col("pair"))

  private def encodeFromPositions(docs: DataFrame, pos: DataFrame,
      pairs: DataFrame, merges: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val nMerges = pairs.join(broadcast(merges), Seq("pair"), "left_semi")
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("grp", col("pos") - col("rn"))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(floor((col("len") + lit(1)) / lit(2))).as("n_merges"))
    val vocab = merges
      .select(explode(split(col("pair"), " ")).as("tok")).distinct()
    val oov = pos.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
    docs.select(col("doc_id"),
        size(TextOps.toks(col("text"))).cast("long").as("n_tok"))
      .join(nMerges, Seq("doc_id"), "left_outer")
      .join(oov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_merges"), lit(0L)).as("n_merges"),
        (col("n_tok") - coalesce(col("n_merges"), lit(0L))).as("n_enc"),
        // floor-quantized, NOT round(): n_oov/n_tok is an exact rational
        // that can land on a .00005 midpoint where Spark HALF_UP and
        // DuckDB disagree (the q111 doc-419 class — e.g. 1 OOV in 32
        // tokens = 0.03125); floor of the identical double is tie-free
        when(col("n_tok") === 0, lit(0.0))
          .otherwise(floor(coalesce(col("n_oov"), lit(0L)) /
            col("n_tok").cast("double") * 10000) / 10000).as("oov_rate"))
  }

  /** The q76/q112 deterministic changelog derivation from an
    * orders-shaped (key, price) snapshot — ONE definition so the batch
    * merge, the streaming versioned-store twin, and both entries' "same
    * CTE" oracles cannot drift apart: deletes for key%10=0, two
    * conflicting updates for key%10=1 (latest seq must win), an update
    * for key%10=2, inserts of fresh keys for key%10=3. */
  private[graft] def synthOrdersChangelog(snap: DataFrame): DataFrame = {
    def part(m: Int) = snap.filter(col("key") % 10 === m)
    part(0)
      .select(col("key"), col("price"), lit("D").as("op"), lit(1L).as("seq"))
      .unionByName(part(1).select(col("key"),
        (col("price") + 500).as("price"), lit("U").as("op"),
        lit(1L).as("seq")))
      .unionByName(snap.filter(col("key") % 10 === 1 || col("key") % 10 === 2)
        .select(col("key"), (col("price") + 1000).as("price"),
          lit("U").as("op"), lit(2L).as("seq")))
      .unionByName(part(3).select((col("key") + 100000000L).as("key"),
        lit(42.0).as("price"), lit("I").as("op"), lit(1L).as("seq")))
  }

  /** Melt the drift features — token-count bin (width 32, capped at 15)
    * and the language categorical — into (…, feature, bin) rows. Any
    * non-(text, lang) input columns (e.g. a baseline/current marker) are
    * carried through. ONE rule for the batch report (q115) and the
    * streaming gate (q116). */
  private[graft] def driftFeatures(docs: DataFrame): DataFrame = {
    val carried = docs.columns.toSeq.diff(Seq("text", "lang")).map(col)
    val f = docs.select(carried :+
      least(floor(size(TextOps.toks(col("text"))) / lit(32)), lit(15))
        .cast("long").cast("string").as("tok_bin") :+ col("lang"): _*)
    f.select(carried :+ lit("tok_bin").as("feature") :+
        col("tok_bin").as("bin"): _*)
      .unionByName(f.select(carried :+ lit("lang").as("feature") :+
        col("lang").as("bin"): _*))
  }

  /** PSI report of `current` (melted (feature, bin) rows) against a
    * baseline PROFILE ((feature, bin, cb) counts — freshly aggregated or
    * read back from a written artifact): full-outer support union,
    * epsilon-floored shares (1e-6), floor-quantized psi (4dp — the q111
    * tie lesson), drifted at the standard 0.2 threshold. The profile and
    * per-feature totals broadcast; the only row-scaled work is counting
    * `current`. */
  private[graft] def psiReport(baseProfile: DataFrame,
      current: DataFrame): DataFrame = {
    val cc = current.groupBy(col("feature"), col("bin"))
      .agg(count(lit(1)).as("cc"))
    // persisted: feeds both the share join and its own totals rollup
    val counts = baseProfile
      .join(cc, Seq("feature", "bin"), "full_outer")
      .select(col("feature"), col("bin"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("cc"), lit(0L)).as("cc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.groupBy(col("feature"))
      .agg(sum(col("cb")).as("nb"), sum(col("cc")).as("nc"))
    counts.join(broadcast(totals), Seq("feature"))
      .select(col("feature"),
        greatest(col("cb") / col("nb").cast("double"), lit(1e-6)).as("p"),
        greatest(col("cc") / col("nc").cast("double"), lit(1e-6)).as("q"))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_bins"),
        (floor(sum((col("q") - col("p")) * log(col("q") / col("p"))) *
          10000) / 10000).as("psi"))
      .withColumn("drifted", col("psi") > 0.2)
      .orderBy(col("feature"))
  }

  /** Shared data-contract rules over an orders batch (q118 batch report /
    * q126 streaming gate — ONE rule set, two engine paths). Single-table
    * rules ride one conditional aggregate pass (map-side partials, a 1-row
    * result); the referential rule broadcast-anti-joins the customer dim.
    * `includeUnique=false` for per-micro-batch use: key uniqueness is the
    * one rule that is NOT additive across batches (cross-batch dup pairs
    * need the q121 written-index posture, not a per-batch count). NULL
    * semantics: a NULL never counts as an enum/range violation (SQL
    * three-valued logic, identical in both engines) — nulls are the
    * not-null rule's job. */
  private[graft] def orderContractReport(o: DataFrame, customer: DataFrame,
      includeUnique: Boolean): DataFrame = {
    val enumPri = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val agg = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_null"),
      (count(col("o_orderkey")) - countDistinct(col("o_orderkey")))
        .as("v_dup"),
      sum(when(!col("o_orderstatus").isin("O", "F"), 1L).otherwise(0L))
        .as("v_enum"),
      sum(when(col("o_totalprice") <= 0.0 ||
        col("o_totalprice") > 400000.0, 1L).otherwise(0L)).as("v_price"),
      sum(when(col("o_orderdate") < lit("1995-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2001-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("v_date"),
      sum(when(!col("o_orderpriority").isin(enumPri: _*), 1L)
        .otherwise(0L)).as("v_pri"))
    val fk = o.join(broadcast(customer.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_fk"))
    val uniqueRow = if (includeUnique) "'orderkey_unique', v_dup," else ""
    agg.crossJoin(broadcast(fk))
      .select(col("n"), expr(
        s"""stack(${if (includeUnique) 7 else 6},
           'custkey_fk', v_fk,
           'orderdate_range', v_date,
           'orderkey_not_null', v_null,
           $uniqueRow
           'priority_enum', v_pri,
           'status_enum', v_enum,
           'totalprice_range', v_price) as (rule, n_violations)"""))
      .select(col("rule"), col("n").as("n_checked"),
        col("n_violations"), (col("n_violations") === 0L).as("pass"))
  }

  /** q45's from-scratch oracle: exact ≥0.5-Jaccard pairs over the WHOLE
    * documents table closed with a recursive transitive closure — shared
    * verbatim by q45 (exact formulation), q45b (LSH production twin) and
    * q144 (incremental maintenance), because all three must produce the
    * same clusters. */
  private[graft] val DupClustersSql =
    raw"""WITH RECURSIVE t AS (
              SELECT doc_id, ${TextOps.TrigramShinglesSql} AS sh
              FROM documents),
              e AS (SELECT doc_id, unnest(sh) AS s FROM t),
              sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
              inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
                FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5),
              edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              tc(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT tc.a, e2.b FROM tc JOIN edges e2 ON tc.b = e2.a),
              lbl AS (SELECT a AS node, least(a, min(b)) AS cluster_id
                      FROM tc GROUP BY a)
              SELECT cluster_id, count(*) AS n_docs
              FROM lbl GROUP BY cluster_id ORDER BY cluster_id"""

  /** q111's fixed-weight logistic quality head, factored so q147 can rank
    * by the same score: per doc (doc_id, source, n_tok, logit) with the
    * RAW logit — every feature a ratio of integer counts, the linear form
    * left-associated, so the double is bit-identical cross-engine;
    * callers quantize (floor, never round — the q111 midpoint lesson). */
  private[graft] def qualityLogitRaw(docs: DataFrame): DataFrame = docs
    .withColumn("tk", TextOps.toks(col("text")))
    .withColumn("n_tok", size(col("tk")).cast("long"))
    .withColumn("f_len",
      least(col("n_tok"), lit(500L)) / lit(500.0))
    .withColumn("f_mwl",
      length(array_join(col("tk"), "")) /
        greatest(col("n_tok"), lit(1L)).cast("double"))
    .withColumn("f_stop",
      size(filter(col("tk"), t =>
        t === "the" || t === "a" || t === "of" || t === "and")) /
        greatest(col("n_tok"), lit(1L)).cast("double"))
    .withColumn("f_sym",
      when(length(col("text")) === 0, lit(0.0))
        .otherwise(
          length(regexp_replace(col("text"), "[\\sa-zA-Z0-9]", "")) /
            length(col("text")).cast("double")))
    .withColumn("logit",
      lit(-2.0) + lit(2.5) * col("f_len") + lit(0.3) * col("f_mwl") +
        lit(4.0) * col("f_stop") - lit(8.0) * col("f_sym"))

  /** Token-budget selection (q147): keep each source's best docs — by the
    * q111 quality head — until the source's token budget is spent. The
    * selection RULE is a prefix: order a source's docs by (logit desc,
    * doc_id asc) and keep a doc iff the running token sum through it is
    * ≤ budget (monotone, so the kept set is a prefix — deterministic, no
    * knapsack search).
    *
    * The IMPLEMENTATION is not a per-source global sort (the q79/q101
    * lesson — a 100-TB source cannot sort on one partition): scores
    * histogram into 128 fixed bins (bin is a monotone function of the
    * quantized logit, so bin-major order IS score order), the
    * (source × bin) token table — tiny, sources × 128 rows — locates each
    * source's boundary bin, bins strictly inside the budget keep
    * everything with no ordering at all, and ONLY the boundary bin's
    * occupants rank within themselves to finish the budget. Work:
    * map-side scoring + one (source,bin) aggregate + a sort bounded by
    * one bin's occupancy per source. */
  private[graft] def tokenBudgetSelect(docs: DataFrame,
      budgetShare: Double): DataFrame = {
    val scored = qualityLogitRaw(docs)
      .select(col("doc_id"), col("source"), col("n_tok"),
        (floor(col("logit") * 10000) / 10000).as("logit"))
      // logit ∈ (-10, 4.8] by the weight bounds; 128 bins over [-10, 6)
      .withColumn("bin",
        least(greatest(floor((col("logit") + lit(10.0)) * lit(8.0))
          .cast("int"), lit(0)), lit(127)))
      .persist() // consumers: budget agg, bin agg, full-bin keep, boundary
    val budgets = scored.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("total_tokens"),
        ceil(sum(col("n_tok")) * lit(budgetShare)).cast("long").as("budget"),
        count(lit(1)).as("n_total_docs"))
    val wdesc = Window.partitionBy(col("source")).orderBy(col("bin").desc)
    val cum = scored.groupBy(col("source"), col("bin"))
      .agg(sum(col("n_tok")).as("btok"))
      .withColumn("cum_before",
        coalesce(sum(col("btok")).over(
          wdesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(budgets.select(col("source"), col("budget")), Seq("source"))
    val keptFull = scored
      .join(cum.filter(col("cum_before") + col("btok") <= col("budget"))
        .select(col("source"), col("bin")), Seq("source", "bin"),
        "left_semi")
      .select(col("source"), col("doc_id"), col("n_tok"))
    val wb = Window.partitionBy(col("source"), col("bin"))
      .orderBy(col("logit").desc, col("doc_id").asc)
    val keptBoundary = scored
      .join(cum.filter(col("cum_before") <= col("budget") &&
          col("cum_before") + col("btok") > col("budget"))
        .select(col("source"), col("bin"), col("cum_before"),
          col("budget")), Seq("source", "bin"))
      .withColumn("cum_in",
        sum(col("n_tok")).over(wb.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_before") + col("cum_in") <= col("budget"))
      .select(col("source"), col("doc_id"), col("n_tok"))
    keptFull.unionByName(keptBoundary)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("kept_tokens"))
      .join(budgets, Seq("source"))
      .select(col("source"), col("n_total_docs"), col("total_tokens"),
        col("budget"), col("n_kept"), col("kept_tokens"),
        (floor(col("kept_tokens") * lit(10000.0) / col("total_tokens")) /
          10000).as("kept_share"))
      .orderBy(col("source"))
  }

  /** q207's written snapshot artifact: the q206 bin table for the
    * doc_id < 80%-cut snapshot, built once per (JVM, corpus). */
  private[graft] val PackTable = "graft_pack_bins"
  private[graft] def packTag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|pack256x8")

  private[graft] def writePackSnapshot(s: SparkSession, d: String): Unit =
    ArtifactCache.once(PackTable, packTag(d)) {
      val cut = graft.schema.Cuts.documents(s, d)
      Tables.resetManagedTable(s, PackTable)
      // the packing parameters ride IN the artifact (VERDICT r15 #2):
      // a fold seeded from this store must run under the same sharding
      // and capacity, and before round 16 that contract lived in
      // call-site comments only — readPackStore now requires the match
      packSequences(
          Tables.documents(s, d).filter(col("doc_id") < cut),
          capacity = 256, nShards = 8)
        .withColumn("n_shards", lit(8L))
        .withColumn("capacity", lit(256L))
        .write.mode("overwrite").saveAsTable(PackTable)
    }

  /** Read a written pack-bin store, REQUIRING its self-described packing
    * parameters to match the caller's fold parameters (VERDICT r15 #2:
    * previously the nShards/capacity contract rode call-site comments,
    * so a mismatched caller produced silently-wrong bins). The check is
    * one bounded 1-row action over a bin-table-sized store; an EMPTY
    * store (no rows to describe) passes vacuously — its fold seeds every
    * shard with an empty open bin, correct under any sharding. */
  private[graft] def readPackStore(stored: DataFrame, capacity: Int,
      nShards: Int): DataFrame = {
    require(stored.columns.contains("n_shards") &&
        stored.columns.contains("capacity"),
      "pack store is untagged: expected self-describing n_shards/capacity " +
        s"columns, found [${stored.columns.mkString(", ")}]")
    val t = stored.agg(max(col("n_shards")), max(col("capacity"))).head
    if (!t.isNullAt(0))
      require(t.getLong(0) == nShards && t.getLong(1) == capacity,
        s"pack store was packed under n_shards=${t.getLong(0)}, " +
          s"capacity=${t.getLong(1)}; caller folds with n_shards=$nShards, " +
          s"capacity=$capacity")
    stored.drop("n_shards", "capacity")
  }

  /** Incremental sequence packing (q207): fold ONLY the increment's docs,
    * seeding each shard's fold with the stored OPEN bin (the snapshot's
    * last bin per shard). Greedy streaming packing is a left fold in
    * doc_id order, and the increment is exactly the order-suffix
    * (doc_id ≥ cut), so fold(snapshot ++ increment) =
    * fold-from-state(increment) seeded with fold(snapshot)'s final
    * accumulator — an EXACT identity, not an approximation: the merged
    * bin table equals a from-scratch q206 repack byte-for-byte (the
    * oracle re-derives it over the full corpus). Carried state per shard
    * is ONE (bin, n_docs, tok) row — the open bin; closed bins are
    * immutable and pass through. The increment-only fold never touches
    * snapshot text. Precondition: every shard has at least one snapshot
    * doc (true by construction here — the 80% cut of a doc_id-dense
    * corpus populates all `doc_id % 8` classes; a general deployment
    * would seed absent shards with an empty open bin). */
  private[graft] def packIncrement(s: SparkSession, d: String,
      capacity: Int): DataFrame = {
    writePackSnapshot(s, d)
    val cut = graft.schema.Cuts.documents(s, d)
    val inc = Tables.documents(s, d).filter(col("doc_id") >= cut)
    // readPackStore REQUIRES the store's self-described sharding and
    // capacity to match this fold's parameters (VERDICT r15 #2)
    packFoldFrom(readPackStore(s.table(PackTable), capacity, nShards = 8),
      inc, capacity, nShards = 8)
  }

  /** The state-seeded packing fold shared by q207 (one-shot increment)
    * and q208 (per-micro-batch): continue each shard's greedy fold from
    * the stored OPEN bin over `docs`' (doc_id-ordered) token counts and
    * return the full merged bin table. Exact by the fold-suffix identity
    * (see [[packIncrement]]) as long as `docs` is an order-suffix of the
    * corpus relative to `stored` and `nShards` matches the sharding the
    * store was packed under (encoded in the pack tag — ADVICE r14 #4:
    * it is a caller-threaded parameter, not a hard-coded constant).
    *
    * An increment shard ABSENT from the stored state (a sparse snapshot,
    * or a modulus widened between runs) is seeded with an EMPTY open bin
    * (bin 0, 0 docs, 0 tokens) via the full-outer state join instead of
    * being silently dropped — the fold's first doc then always lands in
    * that seed bin (a bin takes at least one doc, [[packSequences]]'s
    * rule), so fresh-shard output is byte-identical to a from-scratch
    * pack of that shard. */
  private[graft] def packFoldFrom(stored: DataFrame, docs: DataFrame,
      capacity: Int, nShards: Int): DataFrame = {
    val incDs = docs
      .select((col("doc_id") % nShards).as("shard"),
        struct(col("doc_id"),
          size(TextOps.toks(col("text"))).cast("long").as("tk")).as("d"))
      .groupBy(col("shard"))
      .agg(array_sort(collect_list(col("d"))).as("ds"))
    val lastW = Window.partitionBy(col("shard")).orderBy(col("bin").desc)
    val open = stored.withColumn("_rn", row_number().over(lastW))
      .filter(col("_rn") === 1)
      .select(col("shard"), col("bin").as("bin0"),
        col("n_docs").as("nd0"), col("n_tokens").as("tok0"))
    // seed the fold with the open bin; new bin ids continue from bin0.
    // A shard with no increment docs folds an EMPTY list — the init (its
    // stored open bin) passes through unchanged, same code path. The
    // n_docs > 0 guard on the overflow test makes an EMPTY seed bin
    // absorb its first doc unconditionally (never emitting a 0-doc bin);
    // a real open bin always has n_docs ≥ 1, so its behavior is
    // unchanged.
    val reopened = open.join(incDs, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("bin0"), lit(0L)).as("bin0"),
        coalesce(col("nd0"), lit(0L)).as("nd0"),
        coalesce(col("tok0"), lit(0L)).as("tok0"), col("ds"))
      .select(col("shard"), col("bin0"), posexplode(expr(
        s"""aggregate(
              coalesce(ds, CAST(array() AS ARRAY<STRUCT<doc_id: BIGINT, tk: BIGINT>>)),
              array(named_struct('n_docs', nd0, 'tok', tok0)),
              (acc, x) -> CASE
                WHEN element_at(acc, -1).n_docs > 0L
                 AND element_at(acc, -1).tok + x.tk > ${capacity}L
                THEN concat(acc, array(named_struct('n_docs', 1L, 'tok', x.tk)))
                ELSE concat(slice(acc, 1, size(acc) - 1),
                  array(named_struct(
                    'n_docs', element_at(acc, -1).n_docs + 1L,
                    'tok', element_at(acc, -1).tok + x.tk)))
              END)""")).as(Seq("pos", "b")))
      .select(col("shard"), (col("bin0") + col("pos")).as("bin"),
        col("b.n_docs").as("n_docs"), col("b.tok").as("n_tokens"))
    // aliased to break the stored→open self-join attribute ambiguity
    val openKeys = open.select(col("shard").as("_shard"), col("bin0"))
    val closed = stored.join(openKeys,
        stored("shard") === col("_shard") && stored("bin") < col("bin0"))
      .select(stored("shard"), col("bin"), col("n_docs"), col("n_tokens"))
    closed
      .unionByName(reopened)
      .select(col("shard"), col("bin").cast("long").as("bin"),
        col("n_docs"), col("n_tokens"),
        expr(s"n_tokens * 10000L div ${capacity}L").as("fill_bp"))
      .orderBy(col("shard"), col("bin"))
  }

  /** q206/q207/q208's shared oracle — the full-corpus greedy fold as a
    * recursive CTE (one rule, three engine postures). LAZY: referenced
    * from the catalog during object init (the q191 lesson). */
  private[graft] lazy val PackMaintSql =
    """WITH RECURSIVE s AS (
         SELECT doc_id % 8 AS shard,
           row_number() OVER (PARTITION BY doc_id % 8
             ORDER BY doc_id) AS rn,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tk
         FROM documents),
       r AS (
         SELECT shard, rn, tk, 0 AS bin, tk AS fill
         FROM s WHERE rn = 1
         UNION ALL
         SELECT s.shard, s.rn, s.tk,
           CASE WHEN r.fill + s.tk > 256 THEN r.bin + 1
                ELSE r.bin END,
           CASE WHEN r.fill + s.tk > 256 THEN s.tk
                ELSE r.fill + s.tk END
         FROM r JOIN s ON s.shard = r.shard AND s.rn = r.rn + 1)
       SELECT CAST(shard AS BIGINT) AS shard,
         CAST(bin AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tk) AS BIGINT) AS n_tokens,
         CAST((sum(tk) * 10000) // 256 AS BIGINT) AS fill_bp
       FROM r GROUP BY 1, 2 ORDER BY shard, bin"""

  /** One micro-batch of packing maintenance (q208): q207's fold against
    * a q112-style VERSIONED bin store — batch B folds from the newest
    * committed version ≤ B and publishes v(B+1) under the atomic
    * commit-marker protocol, so a RETRIED batch re-derives from the same
    * base and rewrites its own version instead of double-folding (the
    * bin table is file-count-sized, so full-table versions are cheap;
    * production would version only the per-shard open bins and append
    * closed ones). */
  private[graft] def foldPackBatch(batch: DataFrame, store: String,
      batchId: Long, capacity: Int, nShards: Int): Unit = {
    val s = batch.sparkSession
    val base = Upsert.versionsOf(s, store).filter(_ <= batchId).max
    packFoldFrom(
        readPackStore(s.read.parquet(s"$store/v$base"), capacity, nShards),
        batch, capacity, nShards)
      // re-tag the published version: the store stays self-describing
      // across the whole version chain, not just v0
      .withColumn("n_shards", lit(nShards.toLong))
      .withColumn("capacity", lit(capacity.toLong))
      .write.mode("overwrite").parquet(s"$store/v${batchId + 1}")
    Upsert.touchCommitMarker(s, s"$store/v${batchId + 1}")
  }

  /** Sequence packing (q206): shard on doc_id, then fold each shard's
    * (doc_id-ordered) token counts into fixed-`capacity` bins with the
    * streaming first-fit-contiguous rule — a new bin opens when the next
    * doc would overflow; an oversized doc occupies its own bin. The fold
    * is a codegen'd `aggregate` HOF over the shard's collected doc list
    * (array_sort on the (doc_id, tk) struct pins the order collect_list
    * doesn't guarantee); the accumulator is the per-bin (n_docs, tok)
    * summary array — bins-per-shard-sized, bounded by shardTokens /
    * capacity. Output: (shard, bin, n_docs, n_tokens, fill_bp). */
  def packSequences(docs: DataFrame, capacity: Int,
      nShards: Int): DataFrame =
    docs
      .select((col("doc_id") % nShards).as("shard"),
        struct(col("doc_id"),
          size(TextOps.toks(col("text"))).cast("long").as("tk")).as("d"))
      .groupBy(col("shard"))
      .agg(array_sort(collect_list(col("d"))).as("ds"))
      .select(col("shard"), posexplode(expr(
        s"""aggregate(ds,
              CAST(array() AS ARRAY<STRUCT<n_docs: BIGINT, tok: BIGINT>>),
              (acc, x) -> CASE
                WHEN size(acc) = 0 OR element_at(acc, -1).tok + x.tk > ${capacity}L
                THEN concat(acc, array(named_struct('n_docs', 1L, 'tok', x.tk)))
                ELSE concat(slice(acc, 1, size(acc) - 1),
                  array(named_struct(
                    'n_docs', element_at(acc, -1).n_docs + 1L,
                    'tok', element_at(acc, -1).tok + x.tk)))
              END)""")).as(Seq("bin", "b")))
      .select(col("shard"), col("bin").cast("long").as("bin"),
        col("b.n_docs").as("n_docs"), col("b.tok").as("n_tokens"),
        expr(s"b.tok * 10000L div ${capacity}L").as("fill_bp"))
      .orderBy(col("shard"), col("bin"))

  /** q76's changelog merge over orders; also q112's. */
  private[graft] val CdcMergeSql =
    """WITH snap AS (SELECT o_orderkey AS key, o_totalprice AS price
                FROM orders),
              changes AS (
                SELECT key, price, 'D' AS op, 1 AS seq FROM snap
                  WHERE key % 10 = 0
                UNION ALL SELECT key, price + 500, 'U', 1 FROM snap
                  WHERE key % 10 = 1
                UNION ALL SELECT key, price + 1000, 'U', 2 FROM snap
                  WHERE key % 10 IN (1, 2)
                UNION ALL SELECT key + 100000000, 42.0, 'I', 1 FROM snap
                  WHERE key % 10 = 3),
              latest AS (SELECT key, price, op FROM (
                  SELECT *, row_number() OVER
                    (PARTITION BY key ORDER BY seq DESC) AS rn FROM changes)
                WHERE rn = 1),
              merged AS (
                SELECT s.key, s.price FROM snap s
                  WHERE s.key NOT IN (SELECT key FROM latest)
                UNION ALL SELECT key, price FROM latest WHERE op <> 'D')
              SELECT count(*) AS n_rows, round(sum(price), 2) AS total
              FROM merged"""

  /** q115's PSI drift report; also q116's. */
  private[graft] val DriftPsiSql =
    """WITH cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8)
                  AS BIGINT) AS cut FROM documents),
              feat AS (SELECT doc_id >= cut.cut AS cur,
                  CAST(least(CAST(floor(
                    len(regexp_extract_all(lower(text), '[a-z0-9]+')) / 32)
                    AS BIGINT), 15) AS VARCHAR) AS tok_bin,
                  lang
                FROM documents, cut),
              melted AS (
                SELECT cur, 'tok_bin' AS feature, tok_bin AS bin FROM feat
                UNION ALL
                SELECT cur, 'lang' AS feature, lang AS bin FROM feat),
              counts AS (SELECT feature, bin,
                  sum(CASE WHEN cur THEN 0 ELSE 1 END) AS cb,
                  sum(CASE WHEN cur THEN 1 ELSE 0 END) AS cc
                FROM melted GROUP BY feature, bin),
              totals AS (SELECT feature, sum(cb) AS nb, sum(cc) AS nc
                         FROM counts GROUP BY feature),
              shares AS (SELECT c.feature,
                  greatest(c.cb * 1.0 / t.nb, 1e-6) AS p,
                  greatest(c.cc * 1.0 / t.nc, 1e-6) AS q
                FROM counts c JOIN totals t ON c.feature = t.feature)
              SELECT feature, count(*) AS n_bins,
                floor(sum((q - p) * ln(q / p)) * 10000) / 10000 AS psi,
                floor(sum((q - p) * ln(q / p)) * 10000) / 10000 > 0.2
                  AS drifted
              FROM shares GROUP BY feature ORDER BY feature"""

  /** q78's train/eval 5-gram contamination report; also q117's. */
  private[graft] val ContaminationSql =
    """WITH tk AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                FROM documents),
              grams AS (
                SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                       t[i+3] || ' ' || t[i+4])) AS gram
                FROM tk WHERE len(t) >= 5),
              train AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 2 = 0),
              shared AS (
                SELECT doc_id, count(DISTINCT gram) AS n_shared
                FROM grams WHERE doc_id % 2 = 1
                  AND gram IN (SELECT gram FROM train)
                GROUP BY doc_id)
              SELECT d.doc_id, coalesce(s.n_shared, 0) AS n_shared,
                coalesce(s.n_shared, 0) > 0 AS contaminated
              FROM documents d LEFT JOIN shared s USING (doc_id)
              WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id"""

  /** q159's entity clusters; also q160's (incremental ≡ from-scratch). */
  private[graft] val EntityResolutionSql =
    """WITH RECURSIVE base AS (SELECT c_custkey AS id,
                c_nationkey AS nk, c_name AS name FROM customer),
              var AS (SELECT id + 10000000 AS id, nk,
                substr(name, 1, CAST(id % 8 + 10 AS INTEGER) - 1) ||
                substr(name, CAST(id % 8 + 10 AS INTEGER) + 1) AS name
                FROM base WHERE id % 5 = 0),
              allr AS (SELECT * FROM base UNION ALL SELECT * FROM var),
              b1 AS (SELECT nk, substr(name, 1, 15) AS bk, id, name
                FROM allr),
              b2 AS (SELECT nk, substr(name, length(name) - 4, 5) AS bk,
                id, name FROM allr),
              cand AS (
                SELECT x.id AS ia, y.id AS ib, x.name AS na, y.name AS nb
                FROM b1 x JOIN b1 y ON x.nk = y.nk AND x.bk = y.bk
                  AND x.id < y.id
                UNION
                SELECT x.id, y.id, x.name, y.name
                FROM b2 x JOIN b2 y ON x.nk = y.nk AND x.bk = y.bk
                  AND x.id < y.id),
              m AS (SELECT DISTINCT ia, ib FROM cand
                WHERE levenshtein(na, nb) <= 1
                  AND length(na) <> length(nb)),
              edges AS (SELECT ia AS a, ib AS b FROM m
                        UNION SELECT ib, ia FROM m),
              tc(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT tc.a, e2.b FROM tc JOIN edges e2 ON tc.b = e2.a),
              lbl AS (SELECT a AS node, least(a, min(b)) AS cluster_id
                      FROM tc GROUP BY a)
              SELECT cluster_id, count(*) AS n_records
              FROM lbl GROUP BY cluster_id ORDER BY cluster_id"""

  val catalog: Seq[Q] = Seq(

    // ---- CDC changelog application (q76): MERGE INTO semantics without a
    // table format — Upsert.applyChangelog compacts the changelog to the
    // latest op per key (one window shuffle), deletes drop, upserts
    // replace, untouched snapshot rows pass an anti-join against the
    // BROADCAST compacted keys (the snapshot never shuffles). The
    // changelog here is synthesized deterministically from orders itself —
    // deletes for key%10=0, two conflicting updates for key%10=1 (latest
    // seq wins — exercised on purpose), an update for key%10=2, inserts of
    // fresh keys for key%10=3 — so the oracle can state the identical CTE.
    Q("q76_cdc_merge",
      (s, d) => {
        val snap = Tables.orders(s, d)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
        val changes = synthOrdersChangelog(snap)
        Upsert.applyChangelog(snap, changes, Seq("key"), "op", "seq")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("price")), 2).as("total"))
      },
      Some(CdcMergeSql)),

    // ---- SCD Type-2 dimension history (q168): the warehouse-classic
    // complement of q76's latest-wins merge — instead of OVERWRITING a
    // changed dimension row, keep every version with a validity interval
    // (valid_from, valid_to, is_current), so facts can join the version
    // that was TRUE AT THEIR TIME (q169 does exactly that). Change feed
    // synthesized deterministically (q76's discipline): every 4th
    // customer re-segments in 1997, every 8th again in 1999 — so some
    // keys carry three versions. The build is two key-partitioned window
    // passes: suppress no-op changes (value ≡ its lane predecessor —
    // computed BEFORE interval derivation so a dropped no-op doesn't
    // leave a hole), then valid_to = the next surviving version's start.
    // One shuffle on the dimension key; interval columns emitted as
    // yyyy-MM-dd strings (the q127 DATE-type compare lesson).
    Q("q168_scd2_history",
      (s, d) => scd2Intervals(scd2Dim(Tables.customer(s, d))),
      Some(Scd2HistorySql)),

    // ---- point-in-time join (q169): the feature-store lookup over
    // q168's SCD2 history — each order joins the dimension version that
    // was valid AT o_orderdate, never the current one (joining current
    // is the classic feature-leakage bug: a 1996 order must see the
    // 1990 segment even if the customer re-segmented in 1997). Plan
    // shape: equality hash join on the key with the validity range as
    // residual condition; the dimension (versions ≈ 1.4× customers)
    // BROADCASTS, so the fact side never shuffles — at 100 TB of facts
    // this is a map-side lookup exactly like any dim join. Validity
    // intervals partition the timeline from 1990 onward, so every order
    // matches exactly one version (asserted by n_orders totalling the
    // fact count in spec).
    Q("q169_pit_join",
      (s, d) => {
        val w = Window.partitionBy(col("key")).orderBy(col("ef"))
        val dim = scd2Dim(Tables.customer(s, d))
          .withColumn("vt", lead(col("ef"), 1).over(w))
        Tables.orders(s, d)
          .join(broadcast(dim),
            col("o_custkey") === col("key") &&
              col("o_orderdate") >= col("ef") &&
              (col("vt").isNull || col("o_orderdate") < col("vt")))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("segment"))
      },
      Some(Scd2Sql +
        """, iv AS (SELECT key, segment, ef,
                lead(ef) OVER (PARTITION BY key ORDER BY ef) AS vt
              FROM kept)
           SELECT segment, count(*) AS n_orders
           FROM orders o JOIN iv ON o.o_custkey = iv.key
             AND o.o_orderdate >= iv.ef
             AND (iv.vt IS NULL OR o.o_orderdate < iv.vt)
           GROUP BY segment ORDER BY segment""")),

    // ---- versioned-store time travel + version diff (q122): q112's
    // versioned store read back AS OF each version, and consecutive
    // versions diffed — "what did batch B do to the table", the audit /
    // reproduce-a-training-run query a mutable store cannot answer. Two
    // changelog batches (batch 0: deletes + first update; batch 1: the
    // conflicting second update + inserts) apply through
    // applyChangelogVersioned into v1/v2; versionPathAsOf resolves each
    // historical read; versionDiff is one full-outer key join + a 1-row
    // conditional aggregate per transition. The store root is a per-run
    // temp dir (concurrent sessions can't collide). Oracle: DuckDB replays
    // both merges as CTEs and diffs them relationally.
    Q("q122_time_travel",
      (s, d) => {
        val root = RunScope.scratch("graft_timetravel_")
        val snap = Tables.orders(s, d)
          .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
        snap.write.mode("overwrite").parquet(s"$root/v0")
        def part(m: Int) = snap.filter(col("key") % 10 === m)
        val batch0 = part(0)
          .select(col("key"), col("price"), lit("D").as("op"), lit(1L).as("seq"))
          .unionByName(part(1).select(col("key"),
            (col("price") + 500).as("price"), lit("U").as("op"),
            lit(1L).as("seq")))
        val batch1 = snap
          .filter(col("key") % 10 === 1 || col("key") % 10 === 2)
          .select(col("key"), (col("price") + 1000).as("price"),
            lit("U").as("op"), lit(2L).as("seq"))
          .unionByName(part(3).select((col("key") + 100000000L).as("key"),
            lit(42.0).as("price"), lit("I").as("op"), lit(1L).as("seq")))
        Upsert.applyChangelogVersioned(s, root, batch0, Seq("key"),
          "op", "seq", batchId = 0L)
        Upsert.applyChangelogVersioned(s, root, batch1, Seq("key"),
          "op", "seq", batchId = 1L)
        def asOf(v: Long) =
          s.read.parquet(Upsert.versionPathAsOf(s, root, v))
        val d01 = Upsert.versionDiff(asOf(0), asOf(1), "key", "price")
          .select(lit(0L).as("from_v"), lit(1L).as("to_v"), col("*"))
        val d12 = Upsert.versionDiff(asOf(1), asOf(2), "key", "price")
          .select(lit(1L).as("from_v"), lit(2L).as("to_v"), col("*"))
        d01.unionByName(d12).orderBy(col("from_v"), col("change"))
      },
      Some("""WITH snap AS (SELECT o_orderkey AS key, o_totalprice AS price
                FROM orders),
              v1 AS (
                SELECT key, price FROM snap
                  WHERE key % 10 <> 0 AND key % 10 <> 1
                UNION ALL SELECT key, price + 500 FROM snap
                  WHERE key % 10 = 1),
              v2 AS (
                SELECT key, price FROM v1 WHERE key % 10 NOT IN (1, 2)
                UNION ALL SELECT s.key, s.price + 1000 FROM snap s
                  WHERE s.key % 10 IN (1, 2)
                UNION ALL SELECT key + 100000000, 42.0 FROM snap
                  WHERE key % 10 = 3),
              d01 AS (
                SELECT 0 AS from_v, 1 AS to_v, 'added' AS change,
                  count(*) FILTER (WHERE a.key IS NULL) AS n_keys,
                  coalesce(sum(b.price) FILTER (WHERE a.key IS NULL), 0)
                    AS price_delta
                FROM snap a FULL OUTER JOIN v1 b ON a.key = b.key
                UNION ALL
                SELECT 0, 1, 'changed',
                  count(*) FILTER (WHERE a.key IS NOT NULL
                    AND b.key IS NOT NULL AND a.price <> b.price),
                  coalesce(sum(b.price - a.price) FILTER (
                    WHERE a.key IS NOT NULL AND b.key IS NOT NULL
                    AND a.price <> b.price), 0)
                FROM snap a FULL OUTER JOIN v1 b ON a.key = b.key
                UNION ALL
                SELECT 0, 1, 'deleted',
                  count(*) FILTER (WHERE b.key IS NULL),
                  coalesce(sum(-a.price) FILTER (WHERE b.key IS NULL), 0)
                FROM snap a FULL OUTER JOIN v1 b ON a.key = b.key),
              d12 AS (
                SELECT 1, 2, 'added',
                  count(*) FILTER (WHERE a.key IS NULL),
                  coalesce(sum(b.price) FILTER (WHERE a.key IS NULL), 0)
                FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key
                UNION ALL
                SELECT 1, 2, 'changed',
                  count(*) FILTER (WHERE a.key IS NOT NULL
                    AND b.key IS NOT NULL AND a.price <> b.price),
                  coalesce(sum(b.price - a.price) FILTER (
                    WHERE a.key IS NOT NULL AND b.key IS NOT NULL
                    AND a.price <> b.price), 0)
                FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key
                UNION ALL
                SELECT 1, 2, 'deleted',
                  count(*) FILTER (WHERE b.key IS NULL),
                  coalesce(sum(-a.price) FILTER (WHERE b.key IS NULL), 0)
                FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key)
              SELECT CAST(from_v AS BIGINT) AS from_v,
                CAST(to_v AS BIGINT) AS to_v, change,
                CAST(n_keys AS BIGINT) AS n_keys,
                round(price_delta, 2) AS price_delta
              FROM (SELECT * FROM d01 UNION ALL SELECT * FROM d12)
              ORDER BY from_v, change""")),

    // ---- versioned-store retention vacuum (q205, VERDICT r13 #7): the
    // missing lifecycle half of q112/q122 — applyChangelogVersioned
    // stores grow one directory per batch forever, so production needs a
    // retention rule. Upsert.vacuumVersions keeps the newest `keepLast`
    // committed versions plus explicit PINS (reproducibility anchors —
    // "the table as training run X saw it"), deletes the rest, and
    // time-traveling below the oldest retained version afterwards FAILS
    // LOUDLY (versionPathAsOf's require; UpsertSpec proves the failure
    // mode). Here: v0..v3 built from orders with deterministic batches
    // (delete key%10=0, reprice key%10=1, insert clones of key%10=2),
    // vacuum(keepLast = 2, pinned = {1}) → retained {1, 2, 3}, v0 gone;
    // the report reads every RETAINED version through versionPathAsOf
    // and emits its exact row count and BIGINT cents sum. Oracle: DuckDB
    // replays the three merges as CTEs and states the same retained set.
    // Scale: vacuum is pure directory metadata (listStatus + delete) —
    // no data pass; the report's three scans are the demo's proof, not
    // the operator.
    Q("q205_version_vacuum",
      (s, d) => {
        val root = RunScope.scratch("graft_vacuum_")
        val snap = Tables.orders(s, d)
          .select(col("o_orderkey").as("key"),
            col("o_totalprice").as("price"))
        snap.write.mode("overwrite").parquet(s"$root/v0")
        def part(m: Int) = snap.filter(col("key") % 10 === m)
        Upsert.applyChangelogVersioned(s, root,
          part(0).select(col("key"), col("price"), lit("D").as("op"),
            lit(1L).as("seq")),
          Seq("key"), "op", "seq", batchId = 0L)
        Upsert.applyChangelogVersioned(s, root,
          part(1).select(col("key"), (col("price") + 100).as("price"),
            lit("U").as("op"), lit(1L).as("seq")),
          Seq("key"), "op", "seq", batchId = 1L)
        Upsert.applyChangelogVersioned(s, root,
          part(2).select((col("key") + 200000000L).as("key"),
            lit(7.0).as("price"), lit("I").as("op"), lit(1L).as("seq")),
          Seq("key"), "op", "seq", batchId = 2L)
        val retained = Upsert.vacuumVersions(s, root, keepLast = 2,
          pinned = Set(1L))
        retained.map { v =>
          s.read.parquet(Upsert.versionPathAsOf(s, root, v))
            .agg(lit(v).as("version"), count(lit(1)).as("n_rows"),
              sum(expr("CAST(round(price * 100) AS BIGINT)"))
                .as("price_cents"))
        }.reduce(_ unionByName _).orderBy(col("version"))
      },
      Some("""WITH snap AS (SELECT o_orderkey AS key,
                o_totalprice AS price FROM orders),
              v1 AS (SELECT key, price FROM snap WHERE key % 10 <> 0),
              v2 AS (SELECT key, price FROM v1 WHERE key % 10 <> 1
                UNION ALL SELECT key, price + 100 FROM v1
                  WHERE key % 10 = 1),
              v3 AS (SELECT key, price FROM v2
                UNION ALL SELECT key + 200000000, 7.0 FROM snap
                  WHERE key % 10 = 2),
              r AS (SELECT 1 AS version, count(*) AS n_rows,
                  sum(CAST(round(price * 100) AS BIGINT)) AS price_cents
                FROM v1
                UNION ALL SELECT 2, count(*),
                  sum(CAST(round(price * 100) AS BIGINT)) FROM v2
                UNION ALL SELECT 3, count(*),
                  sum(CAST(round(price * 100) AS BIGINT)) FROM v3)
              SELECT CAST(version AS BIGINT) AS version,
                CAST(n_rows AS BIGINT) AS n_rows,
                CAST(price_cents AS BIGINT) AS price_cents
              FROM r ORDER BY version""")),

    // ---- sequence packing for training batches (q206): the step between
    // a curated corpus and a GPU — documents are concatenated into
    // fixed-capacity token bins ("sequence packing", the efficiency trick
    // every large-model data pipeline runs so short documents don't waste
    // context-window padding). The packer is the standard STREAMING one:
    // docs in a deterministic order, a bin closes when the next doc would
    // overflow `capacity` (an oversized doc gets its own bin). Packing is
    // a sequential fold — inherently order-dependent — so the scalable
    // shape shards the corpus FIRST (hash on doc_id; at 100 TB, one shard
    // per output file) and folds WITHIN each shard: cross-shard
    // parallelism is free, the per-shard fold is a codegen'd `aggregate`
    // HOF over the shard's (doc_id, tokens) list, and shard size is
    // bounded by the sharding fan-out, not the corpus (the in-fold
    // array-rebuild makes the fold O(bins·docs) per shard — fine because
    // a shard is a file-sized unit by construction). Report: per (shard,
    // bin) doc count, token count, and fill ratio in basis points — the
    // packing-efficiency number the trick exists to maximize. Oracle:
    // DuckDB replays the identical fold as a recursive CTE.
    Q("q206_sequence_packing",
      (s, d) => packSequences(Tables.documents(s, d), capacity = 256,
        nShards = 8),
      Some(PackMaintSql)),

    // ---- incremental sequence packing (q207): q206's maintain posture.
    // Greedy streaming packing is a LEFT FOLD in doc_id order, and an
    // increment (doc_id ≥ the 80% cut) is exactly the order-suffix — so
    // fold(snapshot ++ increment) = fold-from-state(increment) seeded
    // with the snapshot fold's final accumulator. That makes incremental
    // packing an EXACT identity, not an approximation: the carried state
    // per shard is ONE open-bin row (the snapshot's last bin), closed
    // bins are immutable, and the merged table equals a from-scratch
    // q206 repack byte-for-byte — which the oracle proves by re-deriving
    // the FULL-corpus fold in SQL. Per-increment cost: tokenize + fold
    // the increment only; snapshot text is never touched (the q44c/q121
    // frozen-state posture, for packing).
    Q("q207_packing_maintain",
      (s, d) => packIncrement(s, d, capacity = 256),
      Some(PackMaintSql)),

    // ---- train/eval contamination check (q78): the decontamination step
    // of an LLM training pipeline — flag eval-split documents sharing any
    // exact 5-gram with the train split. One tokenize pass; the shuffle
    // carries (gram, doc_id) pairs; train grams are DISTINCT'd before the
    // semi-join so cost follows vocabulary, not corpus. At 100 TB the
    // train gram set is written once as a bucketed table (or a bloom
    // filter via q75's BloomExprs for a first pass) and every new eval
    // candidate probes it. Splits are doc_id parity — deterministic, so
    // the oracle states the identical SQL.
    Q("q78_contamination",
      (s, d) => {
        val k = 5
        val tk = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
        val grams = tk.select(col("doc_id"),
          explode(when(size(col("tk")) >= k,
            transform(sequence(lit(1), size(col("tk")) - (k - 1)), i =>
              concat_ws(" ", (0 until k).map(j =>
                element_at(col("tk"), i + j)): _*)))
            .otherwise(array())).as("gram"))
        val trainGrams = grams.filter(col("doc_id") % 2 === 0)
          .select(col("gram")).distinct()
        // bloom first-pass (SURVEY §9 / VERDICT r3 #6, q75's machinery
        // composed in): the train-gram set aggregates into one bounded
        // blob (partial per partition, merged once — no row shuffle);
        // eval grams that can't be in the train set die in a codegen'd
        // hash+test BEFORE the exact semi-join shuffles anything. No
        // false negatives, and false positives are removed by the
        // semi-join — output provably unchanged, which the unchanged
        // oracle asserts. The blob ships as a BROADCAST VARIABLE, not a
        // scalar subquery: a subquery result is inlined as a Literal into
        // every downstream task binary (the r5 audit's 1.9-2.7 MiB
        // "large task binary" warnings, all from this query), while a
        // broadcast reaches each executor once via torrent. At 100 TB the
        // blob is the reusable decontamination artifact: build once from
        // the train corpus, probe every new eval candidate against it.
        val bf = s.sparkContext.broadcast(
          graft.expr.BloomExprs.buildBloom(trainGrams, col("gram"), 1000000L))
        val shared = grams.filter(col("doc_id") % 2 === 1)
          .filter(graft.expr.BloomExprs.mightContainBroadcast(bf, col("gram")))
          .join(trainGrams, Seq("gram"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gram")).as("n_shared"))
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"))
          .join(shared, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(ContaminationSql)),

    // ---- written decontamination index (q117): q78's train-gram set as
    // a WRITTEN artifact — the q34b/q44b build-once posture for
    // decontamination. The train corpus's distinct 5-grams land ONCE in
    // a bucketBy(gram) table; every eval candidate batch then probes it
    // with a bucket-local semi-join: the train side (the big side at
    // 100 TB) never re-derives, never re-shuffles — only the eval grams
    // move, to the bucket layout (PipelineOpsSpec asserts exactly one
    // gram exchange in the probe plan). q78's broadcast bloom remains
    // the first-pass filter in front of this at scale; output and
    // oracle are q78's verbatim.
    Q("q117_contamination_indexed",
      (s, d) => {
        val k = 5
        val tk = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
        val grams = tk.select(col("doc_id"),
          explode(when(size(col("tk")) >= k,
            transform(sequence(lit(1), size(col("tk")) - (k - 1)), i =>
              concat_ws(" ", (0 until k).map(j =>
                element_at(col("tk"), i + j)): _*)))
            .otherwise(array())).as("gram"))
        val table = "graft_gram_index"
        // build-once memo (round 18): the train-gram index is read-only
        // after the build — the same maintainer policy as q34b/q44b
        ArtifactCache.once(table, graft.schema.Cuts.artifactTag(d, "documents", "even|gram5")) {
          Tables.resetManagedTable(s, table)
          grams.filter(col("doc_id") % 2 === 0)
            .select(col("gram")).distinct()
            .write.bucketBy(8, "gram").mode("overwrite").saveAsTable(table)
        }
        val shared = grams.filter(col("doc_id") % 2 === 1)
          .join(s.table(table), Seq("gram"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gram")).as("n_shared"))
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"))
          .join(shared, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(ContaminationSql)),

    // ---- sequence packing (q79): concat-and-chunk packing of tokenized
    // documents into fixed token-budget bins (context windows) — the
    // standard pretraining batch-prep step. Sharded: the running token
    // total is a window cumsum WITHIN a shard (doc_id % 8), never a global
    // window — exactly how a distributed packer works (each worker packs
    // its shard independently); output is the per-shard packing summary.
    Q("q79_sequence_packing",
      (s, d) => {
        val budget = 2048
        val byShard = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            size(TextOps.toks(col("text"))).as("n_tok"))
          .withColumn("end_tok", sum(col("n_tok")).over(byShard))
          .withColumn("bin",
            floor((col("end_tok") - col("n_tok")) / budget))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tok"),
            (max(col("bin")) + 1).as("n_bins"),
            round(sum(col("n_tok")) / ((max(col("bin")) + 1) * lit(budget.toDouble)), 6)
              .as("fill_ratio"))
          .orderBy(col("shard"))
      },
      Some("""WITH dl AS (
                SELECT doc_id, doc_id % 8 AS shard,
                  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
                FROM documents),
              packed AS (
                SELECT shard, n_tok,
                  CAST(floor((sum(n_tok) OVER (PARTITION BY shard
                    ORDER BY doc_id) - n_tok) / 2048) AS BIGINT) AS bin
                FROM dl)
              SELECT shard, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS total_tok,
                max(bin) + 1 AS n_bins,
                round(sum(n_tok) / ((max(bin) + 1) * 2048.0), 6) AS fill_ratio
              FROM packed GROUP BY shard ORDER BY shard""")),

    // ---- key-skew profile (q77): the diagnostic run BEFORE choosing a
    // skew mitigation (salting q18/q29, AQE skew-join) — per-key count
    // distribution of the fact table's join key: two-level aggregate
    // (per-key counts shuffle once on the key; the profile is a single-row
    // reduce of the count column).
    Q("q77_key_skew_profile",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"),
          round(avg(col("cnt")), 6).as("avg_cnt"),
          expr("percentile(cnt, 0.5)").as("p50"),
          expr("percentile(cnt, 0.99)").as("p99"),
          round(max(col("cnt")) / avg(col("cnt")), 4).as("skew_ratio")),
      Some("""WITH c AS (SELECT l_orderkey, count(*) AS cnt
                FROM lineitem GROUP BY l_orderkey)
              SELECT count(*) AS n_keys, max(cnt) AS max_cnt,
                round(avg(cnt), 6) AS avg_cnt,
                quantile_cont(cnt, 0.5) AS p50,
                quantile_cont(cnt, 0.99) AS p99,
                round(max(cnt) / avg(cnt), 4) AS skew_ratio
              FROM c""")),

    // ---- near-dup CLUSTER RESOLUTION: pair detection alone doesn't dedup
    // a corpus — pairs must be closed into clusters so exactly one doc per
    // cluster survives. Edges here are the exact-Jaccard ≥ 0.5 pairs (the
    // DuckDB-mirrorable formulation; production feeds the LSH pairs, which
    // q34 proves equal); the oracle recomputes the components with a
    // recursive transitive closure. cluster_id = min doc_id = the kept
    // representative.
    //
    // Both the pair detection AND the closure feed from SHARED written
    // artifacts ([[TextOps.corpusLshPairs]] / [[corpusDupLabels]]): four
    // catalog consumers (q45 gated path, q45b, q85, q86) need the same
    // (threshold 0.5, dfCap 16) corpus labeling, and each one's oracle
    // recomputes it independently from raw text, so sharing the artifact
    // changes economics, not semantics.
    //
    // GATED (VERDICT r10 #2): the exact inverted-index pair enumeration is
    // this query's REASON to exist at oracle scale — the driver's DuckDB
    // compare at sf0.01 (500 docs) must see components over exactly-computed
    // edges — but it is the deliberately-quadratic formulation whose
    // production twin is q45b. Above Gates.MaxRows docs the benched
    // plan feeds the same closure from the LSH candidate path instead
    // (identical output: q34 proves LSH pairs ≡ exact pairs on these tables
    // every round, and q45b shares this oracle verbatim), so the sf0.1 bench
    // measures cluster closure over sub-quadratic detection, not the oracle.
    Q("q45_dup_clusters",
      (s, d) => {
        val labels =
          if (Gates.verifyInPlan(Tables.documents(s, d))) {
            val sh = TextOps.docsWithShinglesHashed(s, d)
            connectedComponents(TextOps
              .exactJaccardPairsCapped(sh, 0.5, dfCap = 16)
              .select(col("id_a").as("a"), col("id_b").as("b")))
          } else corpusDupLabels(s, d)
        labels
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("cluster_id"))
      },
      Some(DupClustersSql)),

    // ---- the PRODUCTION dedup composition (SCALING.md's q45 caveat made
    // real): cluster resolution fed by the LSH candidate path instead of
    // the exact inverted-index join — detection cost ∝ band collisions,
    // not df² posting fanout. The oracle is q45's recursive transitive
    // closure over EXACT pairs, which this must equal because q34 proves
    // LSH pairs ≡ exact pairs on these tables every round (banding
    // P ≥ 0.97 at j ≥ 0.8 + full-set verification of candidates).
    Q("q45b_dup_clusters_lsh",
      (s, d) => corpusDupLabels(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("cluster_id")),
      Some(DupClustersSql)),

    // ---- incremental cluster maintenance (q144): q45b's clusters kept
    // CURRENT under an arriving increment without re-clustering the
    // corpus — see [[incrementalDupClusters]]. Same 80% doc_id cut as
    // q34c/q121/q44c; the oracle is the from-scratch recursive closure
    // over the WHOLE corpus (q45's SQL verbatim), so the contracted
    // delta-graph algebra must reproduce a full re-run's labels exactly.
    Q("q144_incremental_clusters",
      (s, d) => incrementalDupClusters(s, d, jaccardThreshold = 0.5,
        dfCap = 16),
      Some(DupClustersSql)),

    // ---- canonical-doc selection (q85): dedup's LAST step — pair
    // detection (q34/q35) and cluster closure (q45) decide WHICH docs are
    // duplicates; this decides which ONE survives. Representative =
    // argmax token count per cluster (content-richest copy), doc_id
    // tie-break — a per-cluster window over the (tiny) clustered-docs
    // set, not the corpus. The oracle recomputes clusters with q45's
    // recursive CTE and the same argmax.
    Q("q85_canonical_docs",
      (s, d) => {
        // labels from the SHARED written artifact (production LSH path;
        // q34 proves LSH ≡ exact pairs on these tables every round, and
        // the oracle independently recomputes exact pairs from raw text,
        // so any divergence fails the gate)
        val labels = corpusDupLabels(s, d)
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), size(TextOps.toks(col("text"))).as("n_tok"))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_tok").desc, col("doc_id").asc)
        labels.withColumnRenamed("node", "doc_id")
          .join(toks, Seq("doc_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cluster_id"), col("doc_id").as("kept_doc"),
            col("n_tok").as("kept_tok"))
          .orderBy(col("cluster_id"))
      },
      Some(raw"""WITH RECURSIVE t AS (
              SELECT doc_id, ${TextOps.TrigramShinglesSql} AS sh
              FROM documents),
              e AS (SELECT doc_id, unnest(sh) AS s FROM t),
              sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
              inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
                FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              prs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5),
              edges AS (SELECT id_a AS a, id_b AS b FROM prs
                        UNION SELECT id_b, id_a FROM prs),
              tc(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT tc.a, e2.b FROM tc JOIN edges e2 ON tc.b = e2.a),
              lbl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                      FROM tc GROUP BY a),
              scored AS (
                SELECT cluster_id, l.doc_id,
                  len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS n_tok
                FROM lbl l JOIN documents d ON l.doc_id = d.doc_id),
              ranked AS (
                SELECT *, row_number() OVER (PARTITION BY cluster_id
                  ORDER BY n_tok DESC, doc_id ASC) AS rn
                FROM scored)
              SELECT cluster_id, doc_id AS kept_doc,
                CAST(n_tok AS INTEGER) AS kept_tok
              FROM ranked WHERE rn = 1 ORDER BY cluster_id""")),

    // ---- leakage-safe train/valid/test split (q86): q46 splits by doc
    // hash, which can put two NEAR-DUPLICATES on opposite sides of the
    // train/eval boundary — exactly the contamination q78 exists to catch.
    // Splitting by the hash of the doc's dup-CLUSTER label (own id for
    // singletons) pins every duplicate class to one split BY CONSTRUCTION.
    // Same multiplicative hash as q46 (deterministic, growth-stable,
    // oracle-mirrorable); the label join is clustered-docs-sized and
    // broadcast-friendly.
    Q("q86_leakage_safe_split",
      (s, d) => {
        // shared labels artifact, like q45b/q85 (oracle-checked ≡ exact)
        val labels = corpusDupLabels(s, d)
          .withColumnRenamed("node", "doc_id")
        Tables.documents(s, d).select(col("doc_id"))
          .join(broadcast(labels), Seq("doc_id"), "left_outer")
          .withColumn("label", coalesce(col("cluster_id"), col("doc_id")))
          // width-safe multiplicative hash (ADVICE r4): reduce mod p BEFORE
          // multiplying — (label % p) · 2654435761 peaks at ~2.6e18 < 2^63,
          // so Spark and DuckDB compute the identical value for any Long
          // label, where the unreduced product silently wrapped in Spark
          // but raised a BIGINT-overflow error in DuckDB beyond ~3.4e9.
          // (x·c) mod p ≡ ((x mod p)·c) mod p, so buckets are unchanged.
          .withColumn("bucket",
            col("label") % 1000000007L * lit(2654435761L) % 1000000007L % 100)
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "valid").otherwise("test"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("label")).as("n_groups"))
          .orderBy(col("split"))
      },
      Some(raw"""WITH RECURSIVE t AS (
              SELECT doc_id, ${TextOps.TrigramShinglesSql} AS sh
              FROM documents),
              e AS (SELECT doc_id, unnest(sh) AS s FROM t),
              sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
              inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
                FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              prs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5),
              edges AS (SELECT id_a AS a, id_b AS b FROM prs
                        UNION SELECT id_b, id_a FROM prs),
              tc(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT tc.a, e2.b FROM tc JOIN edges e2 ON tc.b = e2.a),
              lbl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                      FROM tc GROUP BY a),
              lab AS (
                SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS label
                FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
              sp AS (
                SELECT doc_id, label, CASE
                  WHEN (label % 1000000007 * 2654435761) % 1000000007 % 100 < 80
                    THEN 'train'
                  WHEN (label % 1000000007 * 2654435761) % 1000000007 % 100 < 90
                    THEN 'valid'
                  ELSE 'test' END AS split
                FROM lab)
              SELECT split, count(*) AS n_docs,
                count(DISTINCT label) AS n_groups
              FROM sp GROUP BY split ORDER BY split""")),

    // ---- cross-source redundancy attribution (q185): WHERE does the
    // near-dup mass come from? Every near-dup pair attributes to its
    // docs' (source, source) combination — unordered, normalized
    // lexicographically — so diagonal cells meter a feed's
    // self-redundancy and off-diagonal cells meter overlap BETWEEN
    // feeds: the report that decides which crawl to deprioritize. Pure
    // consumer of the shared written pair artifact
    // ([[TextOps.corpusLshPairs]]): the pair table is collision-sized
    // (≪ corpus), so it BROADCASTS to both source-attribution joins and
    // the corpus side is two scans of the 2-column (doc_id, source)
    // projection — no corpus shuffle. Jaccard mass is summed in integer
    // basis points (round(j·10⁴)) per the cross-engine quantization rule.
    Q("q185_source_overlap",
      (s, d) => {
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val pairs = TextOps.corpusLshPairs(s, d)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard") * 10000, 0).cast("long").as("j_bp"))
        broadcast(pairs)
          .join(src.select(col("doc_id").as("id_a"),
            col("source").as("sa")), Seq("id_a"))
          .join(src.select(col("doc_id").as("id_b"),
            col("source").as("sb")), Seq("id_b"))
          .select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"), col("j_bp"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("j_bp")).as("j_bp_sum"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(raw"""WITH t AS (
                SELECT doc_id, ${TextOps.TrigramShinglesSql} AS sh
                FROM documents),
              e AS (SELECT doc_id, unnest(sh) AS s FROM t),
              sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
              inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
                FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              prs AS (
                SELECT id_a, id_b,
                  CAST(round(round(ni * 1.0 / (sa.sz + sb.sz - ni), 4)
                    * 10000, 0) AS BIGINT) AS j_bp
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5),
              attr AS (
                SELECT least(da.source, db.source) AS src_a,
                  greatest(da.source, db.source) AS src_b, j_bp
                FROM prs
                JOIN documents da ON da.doc_id = prs.id_a
                JOIN documents db ON db.doc_id = prs.id_b)
              SELECT src_a, src_b, count(*) AS n_pairs,
                CAST(sum(j_bp) AS BIGINT) AS j_bp_sum
              FROM attr GROUP BY src_a, src_b
              ORDER BY src_a, src_b""")),

    // ---- deterministic stratified train/valid/test split (80/10/10): the
    // split key is a multiplicative hash of doc_id, NOT a random() — so
    // the split is reproducible run-to-run, stable under corpus growth
    // (adding docs never moves an existing doc between splits), and
    // mirrorable by the oracle. Per-(lang, split) counts verify the
    // stratification.
    Q("q46_train_test_split",
      (s, d) => Tables.documents(s, d)
        // width-safe form, same rationale as q86's bucket hash
        .withColumn("bucket",
          col("doc_id") % 1000000007L * lit(2654435761L) % 1000000007L % 100)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "valid").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split")),
      Some("""SELECT lang, CASE
                WHEN (doc_id % 1000000007 * 2654435761) % 1000000007 % 100 < 80
                  THEN 'train'
                WHEN (doc_id % 1000000007 * 2654435761) % 1000000007 % 100 < 90
                  THEN 'valid'
                ELSE 'test' END AS split,
              count(*) AS n_docs
              FROM documents GROUP BY 1, 2 ORDER BY lang, split""")),

    // ---- reproducible per-domain subsampling (q89): the fixed-size
    // companion to q46's rate-based split — "give me exactly k docs per
    // source, the SAME k docs on any engine, any partitioning, any day".
    // Ranking by a content-independent hash (md5 of the key — bit-exact
    // across Spark and DuckDB, unlike xxhash64/rand) IS the reproducible
    // uniform draw; the per-source row_number window is partitioned
    // (parallel across sources) and Spark's InferWindowGroupLimit turns
    // the rk ≤ k filter into a per-partition partial top-k BEFORE the
    // shuffle (the same group-limit machinery TopKSpec proves), so only
    // ~k·n_partitions candidate rows move per source — not the corpus.
    // At 100 TB this is how eval/audit samples and distillation subsets
    // are drawn without a seed-coordination problem.
    Q("q89_hash_sample",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("hk"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string")).as("hk"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("source"), col("rk"), col("doc_id"))
          .orderBy(col("source"), col("rk"))
      },
      Some("""WITH h AS (SELECT doc_id, source,
                md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
              r AS (SELECT source, doc_id, row_number() OVER
                (PARTITION BY source ORDER BY hk, doc_id) AS rk FROM h)
              SELECT source, CAST(rk AS INTEGER) AS rk, doc_id
              FROM r WHERE rk <= 10 ORDER BY source, rk""")),

    // ---- weighted sample without replacement (q132): Efraimidis-
    // Spirakis A-ES — q89's reproducible-draw discipline GENERALIZED to
    // weights (sample docs ∝ length, the standard curriculum/eval-draw
    // shape). Each doc gets a deterministic uniform u ∈ (0,1] from md5
    // (the only numeric hash both engines share bit-exact: first 8 hex
    // chars → BIGINT), and the k docs with the LARGEST key ln(u)/w are
    // the weighted sample — provably equivalent to sequential weighted
    // draws without replacement (Efraimidis & Spirakis 2006). The key is
    // rounded at 9 dp BEFORE ranking so both engines rank identical
    // doubles (ln differs in the last ulp across libms; the q43 float
    // discipline), ties broken by doc_id. Execution is ONE PASS through
    // the bounded TopKByScore aggregate: every map task reduces its
    // slice to ≤ k candidates before the exchange — no window, no global
    // sort, shuffle = k·partitions rows at any corpus size. No seed
    // coordination: same corpus → same sample on any engine, any
    // partitioning, any day.
    Q("q132_weighted_sample",
      (s, d) => {
        val scored = Tables.documents(s, d).select(col("doc_id"),
            col("n_chars"),
            ((conv(substring(md5(col("doc_id").cast("string")), 1, 8),
              16, 10).cast("long") + 1L) / 4294967297.0).as("u"))
          .select(col("doc_id"), col("n_chars"),
            round(log(col("u")) / greatest(col("n_chars"), lit(1L)), 9)
              .as("key"))
        scored.agg(graft.expr.TopKAgg.topK(50)(col("key"), col("doc_id"))
            .as("sel"))
          .select(explode(col("sel")).as("s"))
          .select(col("s.id").as("doc_id"), col("s.score").as("key"))
          .join(scored.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
          .orderBy(col("key").desc, col("doc_id"))
      },
      Some("""WITH s AS (SELECT doc_id, n_chars,
                round(ln((CAST('0x' ||
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                    + 1) / 4294967297.0)
                  / greatest(n_chars, 1), 9) AS key
              FROM documents)
              SELECT doc_id, key, n_chars FROM s
              ORDER BY key DESC, doc_id LIMIT 50""")),

    // ---- vocabulary building (tokenizer training's first pass): corpus-
    // wide token frequencies, top 100 by count. One explode → partial+final
    // count agg (the shuffle carries (token, partial count), not text) →
    // global top-k via TakeOrderedAndProject (no full sort).
    Q("q49_vocabulary",
      (s, d) => Tables.documents(s, d)
        .select(explode(TextOps.toks(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(100),
      Some("""SELECT t AS token, count(*) AS freq
              FROM (SELECT unnest(regexp_extract_all(lower(text),
                '[a-z0-9]+')) AS t FROM documents)
              GROUP BY t ORDER BY freq DESC, token ASC LIMIT 100""")),

    // ---- vocabulary coverage / OOV report (q106): the question a
    // tokenizer team asks of q49's vocabulary before freezing it — what
    // fraction of each language's token OCCURRENCES does the top-k vocab
    // cover? Top-10 by (freq desc, token asc) — the tie-break makes the
    // cut deterministic and cross-engine exact; coverage ratios are
    // integer-count based. Shape: the vocab is TakeOrderedAndProject-
    // bounded (partial top-k per partition, k rows to the driver BY
    // CONSTRUCTION) and broadcasts into a map-side left join over the
    // token stream; the only corpus-wide shuffles carry (token) and
    // (lang) keys.
    Q("q106_vocab_coverage",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("lang"),
            explode_outer(TextOps.toks(col("text"))).as("t"))
          .filter(col("t").isNotNull)
        val vocab = tok.groupBy(col("t"))
          .agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("t").asc)
          .limit(10)
          .select(col("t"), lit(1).as("in_v"))
        tok.join(broadcast(vocab), Seq("t"), "left_outer")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("in_v").isNotNull, 1L).otherwise(0L))
              .as("n_covered"))
          .select(col("lang"), col("n_tok"), col("n_covered"),
            round(col("n_covered") / col("n_tok"), 4).as("coverage"))
          .orderBy(col("lang"))
      },
      Some("""WITH tok AS (SELECT lang,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
                FROM documents),
              v AS (SELECT t FROM (
                      SELECT t, count(*) AS freq FROM tok GROUP BY 1
                      ORDER BY freq DESC, t ASC LIMIT 10))
              SELECT tok.lang, count(*) AS n_tok,
                CAST(count(v.t) AS BIGINT) AS n_covered,
                round(count(v.t) * 1.0 / count(*), 4) AS coverage
              FROM tok LEFT JOIN v ON tok.t = v.t
              GROUP BY 1 ORDER BY 1""")),

    // ---- boilerplate-contamination score (q82): the RefinedWeb-style
    // corpus-level heuristic — a doc whose distinct trigrams are mostly
    // CORPUS-HOT (df > 10% of docs) is boilerplate/template matter, not
    // content. Hot-gram detection is a partial-agg over the posting stream
    // (shuffle carries distinct grams, not text — the q34 df-cap shape);
    // the hot set is corpus-bounded-small and broadcasts into the per-doc
    // count join; corpus size enters as a scalar subquery, so the 10%
    // threshold is scale-relative, not a magic absolute.
    Q("q82_boilerplate_score",
      (s, d) => {
        val sh = TextOps.docsWithShinglesHashed(s, d)
        val posts = sh.select(col("doc_id"), explode(col("sh")).as("g"))
        val nDocs = sh.agg(count(lit(1)).as("n")).scalar()
        val hot = posts.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") > lit(0.1) * nDocs)
          .select(col("g"))
        val hotPerDoc = posts.join(broadcast(hot), Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hot"))
        sh.select(col("doc_id"), size(col("sh")).as("n_grams"))
          .join(hotPerDoc, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hot"), lit(0L)).as("n_hot"))
          .withColumn("hot_ratio", round(col("n_hot") /
            greatest(col("n_grams"), lit(1)).cast("double"), 6))
          .withColumn("keep", col("n_hot") /
            greatest(col("n_grams"), lit(1)).cast("double") < 0.5)
          .orderBy(col("doc_id"))
      },
      Some(raw"""WITH t AS (
              SELECT doc_id, ${TextOps.TrigramShinglesSql} AS sh
              FROM documents),
              e AS (SELECT doc_id, unnest(sh) AS g FROM t),
              hot AS (SELECT g FROM e GROUP BY g
                      HAVING count(*) > 0.1 * (SELECT count(*) FROM t)),
              h AS (SELECT doc_id, count(*) AS n_hot FROM e
                    WHERE g IN (SELECT g FROM hot) GROUP BY doc_id)
              SELECT t.doc_id, CAST(len(sh) AS INTEGER) AS n_grams,
                CAST(coalesce(n_hot, 0) AS BIGINT) AS n_hot,
                round(coalesce(n_hot, 0) /
                  greatest(len(sh), 1)::DOUBLE, 6) AS hot_ratio,
                coalesce(n_hot, 0) /
                  greatest(len(sh), 1)::DOUBLE < 0.5 AS keep
              FROM t LEFT JOIN h ON t.doc_id = h.doc_id
              ORDER BY t.doc_id""")),

    // ---- domain-mixture sampling weights (q83): the data-mixing step of
    // pretraining — per-domain (lang) token counts → multinomial sampling
    // weights with α = 0.5 smoothing (XLM-R's exponent: upweights
    // low-resource domains relative to their raw share). Two tiny
    // aggregates enter as broadcast scalars; everything is one pass over
    // the corpus. At 100 TB this IS the job that decides the sampler's
    // per-shard draw probabilities.
    Q("q83_domain_mixture",
      (s, d) => {
        val per = Tables.documents(s, d)
          .select(col("lang"), size(TextOps.toks(col("text"))).as("n"))
          .groupBy(col("lang")).agg(sum(col("n")).as("tok"))
        val tot = per.agg(sum(col("tok")).as("tot"))
        val withP = per.crossJoin(broadcast(tot))
          .withColumn("p", col("tok") / col("tot"))
          .withColumn("w_raw", sqrt(col("p")))
        val z = withP.agg(sum(col("w_raw")).as("z"))
        withP.crossJoin(broadcast(z))
          .select(col("lang"), col("tok"),
            round(col("p"), 6).as("p"),
            round(col("w_raw") / col("z"), 6).as("weight"))
          .orderBy(col("lang"))
      },
      Some("""WITH per AS (
                SELECT lang, CAST(sum(len(regexp_extract_all(lower(text),
                  '[a-z0-9]+'))) AS BIGINT) AS tok
                FROM documents GROUP BY lang),
              t AS (SELECT CAST(sum(tok) AS BIGINT) AS tot FROM per),
              w AS (SELECT lang, tok, tok / (tot * 1.0) AS p,
                      sqrt(tok / (tot * 1.0)) AS w_raw FROM per, t),
              z AS (SELECT sum(w_raw) AS z FROM w)
              SELECT lang, tok, round(p, 6) AS p,
                round(w_raw / z, 6) AS weight
              FROM w, z ORDER BY lang""")),

    // ---- mixture resampling (q91): q83 computes the α=0.5-smoothed
    // target weights; this MATERIALIZES them — the actual doc selection
    // that builds the training mix. Budget = half the corpus docs,
    // reallocated across langs by smoothed weight (low-resource langs
    // upsampled toward rate 1.0 = keep all, high-resource downsampled),
    // each doc accepted iff its q46-style multiplicative-hash bucket
    // (integer arithmetic — bit-exact on any engine) falls under the
    // lang's rate cut. Deterministic: same corpus → same kept SET under
    // any partitioning of the DOC side (acceptance depends only on
    // integer hash arithmetic and the per-lang cut) — the id_sum column
    // makes the oracle verify the set, not just its size. Cross-engine
    // caveat, stated honestly: sqrt/div are exactly-specified IEEE-754,
    // but z = Σ w_raw is a floating-point SUM whose addition order is
    // engine-internal, so the floor'd cut could in principle differ by
    // one ulp's worth across engines if rate·10⁴ sits exactly on an
    // integer; at lang cardinality (≤ tens of terms) and with
    // irrational (sqrt-derived) rates this has never fired, and the
    // driver's oracle gate re-proves set equality on the fixed corpora
    // every round. Scale: two lang-cardinality aggregates broadcast;
    // the selection itself is one map-side filter — no corpus shuffle.
    Q("q91_mixture_resample",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            (col("doc_id") % 1000000007L * lit(2654435761L)
              % 1000000007L % 10000).as("bucket"))
        val per = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
        val tot = per.agg(sum(col("n_in")).as("tot"))
        val w = per.crossJoin(broadcast(tot))
          .withColumn("w_raw", sqrt(col("n_in") / col("tot")))
        val z = w.agg(sum(col("w_raw")).as("z"))
        val rates = w.crossJoin(broadcast(z))
          .withColumn("rate", least(lit(1.0),
            lit(0.5) * col("tot") * (col("w_raw") / col("z")) / col("n_in")))
          .select(col("lang"), col("n_in"),
            floor(col("rate") * 10000).as("cut"))
        docs.join(broadcast(rates), Seq("lang"))
          .filter(col("bucket") < col("cut"))
          .groupBy(col("lang"), col("n_in"), col("cut"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
          .select(col("lang"), col("n_in"),
            round(col("cut") / 10000.0, 4).as("rate"),
            col("n_kept"), col("id_sum"))
          .orderBy(col("lang"))
      },
      Some("""WITH docs AS (
                SELECT doc_id, lang,
                  (doc_id % 1000000007 * 2654435761) % 1000000007 % 10000
                    AS bucket
                FROM documents),
              per AS (SELECT lang, count(*) AS n_in FROM docs GROUP BY lang),
              t AS (SELECT sum(n_in) AS tot FROM per),
              w AS (SELECT lang, n_in, sqrt(n_in / (tot * 1.0)) AS w_raw,
                      tot FROM per, t),
              z AS (SELECT sum(w_raw) AS z FROM w),
              rates AS (
                SELECT lang, n_in,
                  CAST(floor(least(1.0,
                    0.5 * tot * (w_raw / z) / n_in) * 10000) AS BIGINT)
                    AS cut
                FROM w, z)
              SELECT r.lang, r.n_in,
                round(r.cut / 10000.0, 4) AS rate,
                count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS id_sum
              FROM docs d JOIN rates r ON d.lang = r.lang
              WHERE d.bucket < r.cut
              GROUP BY r.lang, r.n_in, r.cut
              ORDER BY r.lang""")),

    // ---- exact-quota stratified sample (q184): q91's rate cut keeps
    // ~rate·n_i docs per lang — fine for a training mix, wrong for eval
    // sets, which need EXACTLY quota_i rows per stratum ("1000 per
    // language", here 30% floored). Docs rank within their lang by the
    // q46 multiplicative hash (doc_id tie-break: the hash space has
    // collisions) and rank ≤ quota survives — deterministic given the
    // snapshot; the documented trade vs q91 is that corpus growth can
    // displace boundary ranks, where the rate cut never moves a kept doc.
    // Quota arithmetic is integer division (n·3 DIV 10) on BOTH engines —
    // no float boundary (ADVICE r11 #2's rule). Scale: one shuffle by
    // lang + a per-lang sort; lang cardinality is tiny but per-lang
    // volume skews, so at 100 TB the full within-stratum sort gives way
    // to a two-pass order statistic — approximate the quota-th hash with
    // a fixed-grid histogram (q139's machinery), then exact-scan only the
    // boundary bin. Same output, shuffle ∝ boundary bin.
    Q("q184_stratified_quota_sample",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          (col("doc_id") % 1000000007L * lit(2654435761L) % 1000000007L)
            .as("hk"))
        val per = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
          .withColumn("quota", expr("n_in * 3 DIV 10"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("hk"), col("doc_id"))
        docs.join(broadcast(per), Seq("lang"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= col("quota"))
          .groupBy(col("lang"), col("n_in"), col("quota"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
          .orderBy(col("lang"))
      },
      Some("""WITH docs AS (
                SELECT doc_id, lang,
                  (doc_id % 1000000007 * 2654435761) % 1000000007 AS hk
                FROM documents),
              per AS (SELECT lang, count(*) AS n_in,
                        count(*) * 3 // 10 AS quota
                      FROM docs GROUP BY lang),
              r AS (SELECT d.lang, d.doc_id, p.n_in, p.quota,
                      row_number() OVER (PARTITION BY d.lang
                        ORDER BY d.hk, d.doc_id) AS rk
                    FROM docs d JOIN per p ON d.lang = p.lang)
              SELECT lang, n_in, quota, count(*) AS n_kept,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
              FROM r WHERE rk <= quota
              GROUP BY lang, n_in, quota ORDER BY lang""")),

    // ---- importance-weighted data selection (q195): the DSIR recipe
    // (Data Selection via Importance Resampling, Xie et al. 2023) — pick
    // raw-corpus docs whose hashed-n-gram feature distribution looks
    // like a small TARGET set (here q90's benchmark docs, doc_id%50=0;
    // in production the high-quality seed corpus). The published shape
    // verbatim: tokens hash into B=256 buckets, each bucket gets the
    // log-likelihood ratio ln(p_target(b)/p_raw(b)) with +1 smoothing,
    // a doc's importance is the sum over its token occurrences, and the
    // top-N by weight become the selected training mix. Exactness: the
    // per-bucket log-ratio is quantized to integer MICRO-NATS once (256
    // values; a ratio of exact integer counts, the q115 psi discipline)
    // and doc scores are then BIGINT sums — partition-order-exact and
    // engine-exact, no float accumulation anywhere. Residual cross-engine
    // risk (ADVICE r12): the ln itself is computed independently by JVM
    // Math.log and DuckDB's libm; a 1-ulp divergence landing exactly on a
    // round()*1e6 half-way boundary would flip one bucket weight. The
    // argument is a ratio of small exact integers, so boundary landings
    // are measure-zero in practice — accepted under the q115 discipline;
    // if a fixture ever trips it, derive the weight by comparing
    // cross-multiplied integer counts instead of quantizing the log. Scale: the bucket
    // table is 256 rows (broadcast), doc scoring is map-side join +
    // one groupBy(doc_id) whose shuffle carries (doc_id, bucket) ids —
    // never text — and the final cut is TakeOrderedAndProject. The
    // corpus-sized work is one tokenize pass (persisted across its two
    // consumers: bucket counts and doc scoring).
    Q("q195_dsir_resample",
      (s, d) => {
        val b = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("t"))
          .select(col("doc_id"),
            (conv(substring(md5(col("t")), 1, 13), 16, 10).cast("long")
              % 256).as("bk"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cnt = b.groupBy(col("bk")).agg(
          sum(when(col("doc_id") % 50 === 0, 1L).otherwise(0L)).as("ct"),
          sum(when(col("doc_id") % 50 =!= 0, 1L).otherwise(0L)).as("cr"))
        val tot = cnt.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
        val w = cnt.crossJoin(broadcast(tot))
          .select(col("bk"),
            round(log(((col("ct") + 1) * (col("nr") + 256)).cast("double") /
              ((col("cr") + 1) * (col("nt") + 256)).cast("double")) * 1e6)
              .cast("long").as("w"))
        b.filter(col("doc_id") % 50 =!= 0)
          .join(broadcast(w), Seq("bk"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("w")).as("log_w_micro"))
          .orderBy(col("log_w_micro").desc, col("doc_id"))
          .limit(100)
      },
      Some("""WITH tok AS (SELECT doc_id,
                unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
              FROM documents),
              b AS (SELECT doc_id,
                CAST('0x' || substr(md5(t), 1, 13) AS BIGINT) % 256 AS bk
              FROM tok),
              cnt AS (SELECT bk,
                sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS ct,
                sum(CASE WHEN doc_id % 50 <> 0 THEN 1 ELSE 0 END) AS cr
              FROM b GROUP BY 1),
              tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnt),
              w AS (SELECT bk,
                CAST(round(ln(CAST((ct + 1) * (nr + 256) AS DOUBLE) /
                  CAST((cr + 1) * (nt + 256) AS DOUBLE)) * 1000000)
                  AS BIGINT) AS w
              FROM cnt, tot)
              SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(w) AS BIGINT) AS log_w_micro
              FROM b JOIN w USING (bk)
              WHERE doc_id % 50 <> 0
              GROUP BY doc_id
              ORDER BY log_w_micro DESC, doc_id LIMIT 100""")),

    // ---- BPE-style merge ranking (q84): tokenizer training's inner-loop
    // decision — count adjacent token pairs corpus-wide, rank merge
    // candidates by frequency. One posexplode + per-doc lead() window
    // (partitioned by doc — parallel), then partial+final count agg where
    // the shuffle carries (pair, partial) rows; global top-20 via
    // TakeOrderedAndProject. The real BPE loop re-runs this after each
    // merge; each iteration is this exact query shape.
    Q("q84_bpe_merge_rank",
      (s, d) => {
        val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(TextOps.toks(col("text"))).as(Seq("pos", "tok")))
          .withColumn("nxt", lead(col("tok"), 1).over(byDoc))
          .filter(col("nxt").isNotNull)
          .select(concat_ws(" ", col("tok"), col("nxt")).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("pair").asc)
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              pairs AS (
                SELECT unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS pair
                FROM t WHERE len(tk) >= 2)
              SELECT pair, count(*) AS freq FROM pairs
              GROUP BY pair ORDER BY freq DESC, pair ASC LIMIT 20""")),

    // ---- distribution drift report (q115): the monitoring check a
    // RECURRING pipeline runs before admitting a new batch — Population
    // Stability Index per feature between the baseline snapshot (docs
    // below the 80% cut, the q34c/q114 convention) and the current
    // arrivals. Two features melted into one (feature, bin) relation —
    // token-count bins (fixed width 32, capped) and the language
    // categorical — so ONE partial+final count aggregate feeds every
    // PSI; shares are epsilon-floored (1e-6, the published PSI practice)
    // so empty bins neither divide by zero nor blow up the log; psi is
    // floor-quantized to 4dp (the q111 tie lesson). drifted at the
    // standard 0.2 threshold. Shuffle carries (feature, bin, side)
    // counts — bins, not rows; at 100 TB the baseline's binned profile
    // would be the written artifact and only the arrivals re-count.
    Q("q115_drift_psi",
      (s, d) => {
        val cut = graft.schema.Cuts.documents(s, d)
        // persisted: the melt references the featurized relation in BOTH
        // union branches (the tokenize pass would otherwise run twice)
        val feat = driftFeatures(
          Tables.documents(s, d)
            .select((col("doc_id") >= cut).as("cur"),
              col("text"), col("lang")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        psiReport(
          feat.filter(!col("cur")).groupBy(col("feature"), col("bin"))
            .agg(count(lit(1)).as("cb")),
          feat.filter(col("cur")).select(col("feature"), col("bin")))
      },
      Some(DriftPsiSql)),

    // ---- tokenizer application (q110): greedy longest-match encoding of
    // every doc against the q84-trained merge table — see
    // [[bpeEncodeStats]] for the relational greedy formulation and the
    // broadcast/shuffle shape. The oracle replays the identical training
    // (same deterministic freq-desc/pair-asc top-20) and the identical
    // run-parity greedy rule in DuckDB, so counts and OOV rates are
    // cross-engine exact.
    Q("q110_bpe_encode",
      (s, d) => bpeEncodeStats(Tables.documents(s, d), topN = 20)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              px AS (SELECT doc_id, unnest(range(1, len(tk))) AS pos, tk
                     FROM t WHERE len(tk) >= 2),
              p AS (SELECT doc_id, pos,
                      tk[pos] || ' ' || tk[pos+1] AS pair FROM px),
              merges AS (SELECT pair FROM (
                SELECT pair, count(*) AS freq FROM p GROUP BY pair
                ORDER BY freq DESC, pair ASC LIMIT 20)),
              m AS (SELECT doc_id, pos,
                      row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                        AS rn
                    FROM p WHERE pair IN (SELECT pair FROM merges)),
              runs AS (SELECT doc_id, pos - rn AS grp, count(*) AS len
                       FROM m GROUP BY doc_id, pos - rn),
              mg AS (SELECT doc_id, sum((len + 1) // 2) AS n_merges
                     FROM runs GROUP BY doc_id),
              vocab AS (SELECT DISTINCT unnest(string_split(pair, ' '))
                          AS tok FROM merges),
              toks AS (SELECT doc_id, unnest(tk) AS tok FROM t),
              oov AS (SELECT doc_id, count(*) AS n_oov FROM toks
                      WHERE tok NOT IN (SELECT tok FROM vocab)
                      GROUP BY doc_id),
              base AS (SELECT doc_id, len(tk) AS n_tok FROM t)
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

    // ---- composed quality filter (Gopher-style heuristic rules: token
    // count bounds, mean word length, stopword presence, symbol ratio) —
    // per-doc rule verdicts plus the composed keep decision, all built-in
    // expressions evaluated in one pass over the scan. The rule transform
    // is [[qualityVerdicts]], shared verbatim with the streaming path
    // (q67) — one rule, two engine paths.
    Q("q47_quality_filter",
      (s, d) => qualityVerdicts(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some(QualityFilterSql)),

    // ---- learned quality filter (q111, VERDICT r10 #6): the standard
    // deployed filter shape — a logistic head over per-doc features —
    // alongside q47's hard rules and q94's LM scorer. Weights are FIXED
    // (hand-set in the spirit of published fastText/CCNet-style quality
    // heads; swapping in trained coefficients changes only the literals),
    // so scoring is one map-side pass: every feature is a ratio of
    // integer counts (cross-engine exact IEEE arithmetic), the logit is a
    // fixed left-associated linear form, and the sigmoid is the only
    // transcendental — emitted rounded to 4dp alongside the exact-rational
    // logit and the keep decision (logit > 0). No shuffle anywhere; at
    // 100 TB this scores wherever the scan runs.
    Q("q111_quality_logistic",
      (s, d) => qualityLogitRaw(Tables.documents(s, d))
        // floor-quantized to 4dp, NOT round(): the logit is an exact
        // rational whose decimal expansion can land exactly on a .00005
        // midpoint (sf0.01 doc 419 does), where Spark's HALF_UP and
        // DuckDB's tie rule disagree; floor of the identical double is
        // tie-free and engine-exact.
        .select(col("doc_id"), col("n_tok"),
          (floor(col("logit") * 10000) / 10000).as("logit"),
          (floor(lit(10000.0) / (lit(1.0) + exp(-col("logit")))) / 10000)
            .as("prob"),
          (col("logit") > 0).as("keep"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, text,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              f AS (SELECT doc_id,
                CAST(len(tk) AS BIGINT) AS n_tok,
                least(len(tk), 500) / 500.0 AS f_len,
                length(array_to_string(tk, '')) /
                  CAST(greatest(len(tk), 1) AS DOUBLE) AS f_mwl,
                len(list_filter(tk, x -> x IN ('the','a','of','and'))) /
                  CAST(greatest(len(tk), 1) AS DOUBLE) AS f_stop,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE length(regexp_replace(text,
                         '[\sa-zA-Z0-9]', '', 'g')) /
                       CAST(length(text) AS DOUBLE) END AS f_sym
              FROM t),
              l AS (SELECT doc_id, n_tok,
                -2.0 + 2.5 * f_len + 0.3 * f_mwl + 4.0 * f_stop
                  - 8.0 * f_sym AS logit
              FROM f)
              SELECT doc_id, n_tok,
                floor(logit * 10000) / 10000 AS logit,
                floor(10000.0 / (1.0 + exp(-logit))) / 10000 AS prob,
                logit > 0 AS keep
              FROM l ORDER BY doc_id""")),

    // ---- token-budget selection (q147): the curation step after scoring
    // — "spend this many training tokens per domain, best docs first"
    // (the mixture papers' budget knob made operational). Selection rule
    // and scale shape in [[tokenBudgetSelect]]; the oracle states the
    // rule in its naive form (per-source window cumsum over score order,
    // keep while ≤ budget), which the histogram-threshold implementation
    // must reproduce EXACTLY — bin-major order is score order because the
    // bin is a monotone function of the quantized logit.
    Q("q147_token_budget",
      (s, d) => tokenBudgetSelect(Tables.documents(s, d),
        budgetShare = 0.3),
      Some("""WITH t AS (SELECT doc_id, source, text,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              f AS (SELECT doc_id, source,
                CAST(len(tk) AS BIGINT) AS n_tok,
                least(len(tk), 500) / 500.0 AS f_len,
                length(array_to_string(tk, '')) /
                  CAST(greatest(len(tk), 1) AS DOUBLE) AS f_mwl,
                len(list_filter(tk, x -> x IN ('the','a','of','and'))) /
                  CAST(greatest(len(tk), 1) AS DOUBLE) AS f_stop,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE length(regexp_replace(text,
                         '[\sa-zA-Z0-9]', '', 'g')) /
                       CAST(length(text) AS DOUBLE) END AS f_sym
              FROM t),
              l AS (SELECT doc_id, source, n_tok,
                floor((-2.0 + 2.5 * f_len + 0.3 * f_mwl + 4.0 * f_stop
                  - 8.0 * f_sym) * 10000) / 10000 AS logit
              FROM f),
              b AS (SELECT source,
                CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                CAST(ceil(sum(n_tok) * 0.3) AS BIGINT) AS budget,
                count(*) AS n_total_docs
              FROM l GROUP BY source),
              c AS (SELECT l.*, sum(n_tok) OVER (PARTITION BY l.source
                  ORDER BY logit DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM l),
              k AS (SELECT c.source, count(*) AS n_kept,
                  CAST(sum(n_tok) AS BIGINT) AS kept_tokens
                FROM c JOIN b ON b.source = c.source
                WHERE cum <= budget GROUP BY c.source)
              SELECT b.source, b.n_total_docs, b.total_tokens, b.budget,
                k.n_kept, k.kept_tokens,
                floor(k.kept_tokens * 10000.0 / b.total_tokens) / 10000
                  AS kept_share
              FROM b JOIN k ON b.source = k.source ORDER BY b.source""")),

    // ---- length-bucket batching report (q150): the training-efficiency
    // twin of q79's packing — instead of concatenating docs into fixed
    // windows, group them into power-of-2 length buckets (the dynamic-
    // batching / bucketed-sampler shape every trainer ships) and meter
    // what each bucket pays in padding: per bucket, docs, real tokens,
    // padded slots (docs × bucket length, over-long docs truncate to the
    // 1024 cap), waste share — plus the naive everything-to-max baseline
    // the report exists to beat. Bucket choice is a CASE over fixed
    // integer boundaries (no float log2 — cross-engine exact at the
    // 2^k edges by construction); the whole thing is one map-side
    // projection + a 7-row aggregate, scoring wherever the scan runs.
    Q("q150_length_buckets",
      (s, d) => {
        val nTok = size(TextOps.toks(col("text"))).cast("long")
        val bucket = when(nTok <= 16L, 16L).when(nTok <= 32L, 32L)
          .when(nTok <= 64L, 64L).when(nTok <= 128L, 128L)
          .when(nTok <= 256L, 256L).when(nTok <= 512L, 512L)
          .otherwise(1024L)
        val per = Tables.documents(s, d)
          .select(nTok.as("n_tok"), bucket.as("bucket_len"))
          .select(col("bucket_len"),
            least(col("n_tok"), col("bucket_len")).as("kept_tok"))
        per.groupBy(col("bucket_len"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept_tok")).as("real_tokens"))
          .select(col("bucket_len"), col("n_docs"), col("real_tokens"),
            (col("n_docs") * col("bucket_len")).as("padded_slots"),
            (floor((col("n_docs") * col("bucket_len") - col("real_tokens"))
              * 10000.0 / (col("n_docs") * col("bucket_len"))) / 10000)
              .as("waste_share"),
            (floor((col("n_docs") * lit(1024L) - col("real_tokens"))
              * 10000.0 / (col("n_docs") * lit(1024L))) / 10000)
              .as("naive_waste_share"))
          .orderBy(col("bucket_len"))
      },
      Some("""WITH t AS (SELECT
                CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_tok
              FROM documents),
              b AS (SELECT n_tok,
                CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                     WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                     WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
                     ELSE 1024 END AS bucket_len,
                least(n_tok, CASE WHEN n_tok <= 16 THEN 16
                     WHEN n_tok <= 32 THEN 32 WHEN n_tok <= 64 THEN 64
                     WHEN n_tok <= 128 THEN 128 WHEN n_tok <= 256 THEN 256
                     WHEN n_tok <= 512 THEN 512 ELSE 1024 END) AS kept_tok
              FROM t),
              g AS (SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
                count(*) AS n_docs,
                CAST(sum(kept_tok) AS BIGINT) AS real_tokens
              FROM b GROUP BY 1)
              SELECT bucket_len, n_docs, real_tokens,
                n_docs * bucket_len AS padded_slots,
                floor((n_docs * bucket_len - real_tokens) * 10000.0 /
                  (n_docs * bucket_len)) / 10000 AS waste_share,
                floor((n_docs * 1024 - real_tokens) * 10000.0 /
                  (n_docs * 1024)) / 10000 AS naive_waste_share
              FROM g ORDER BY bucket_len""")),

    // ---- per-source corpus health report (q100): the one-screen summary
    // a pipeline team watches per ingest batch — per source: doc count,
    // distinct languages, mean token length, and the exact-dup rate
    // (share of docs whose full text occurs more than once WITHIN the
    // source). Shape: per-doc features derive map-side (md5 + token
    // count — the md5 shuffles as one 32-hex key per doc, never text),
    // the dup rate is a (source, hash) rollup, everything else one
    // source-sized aggregate; all ratios are integer-count based, so the
    // report is cross-engine exact.
    Q("q100_source_health",
      (s, d) => {
        val f = Tables.documents(s, d).select(col("source"), col("lang"),
          md5(col("text")).as("h"),
          size(TextOps.toks(col("text"))).cast("long").as("n_tok"))
        val dup = f.groupBy(col("source"), col("h"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n_docs"),
            sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
              .as("n_dup"))
        f.groupBy(col("source"))
          .agg(countDistinct(col("lang")).as("n_langs"),
            round(avg(col("n_tok")), 4).as("avg_tokens"))
          .join(dup, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_langs"),
            col("avg_tokens"),
            round(col("n_dup") / col("n_docs"), 4).as("dup_doc_rate"))
          .orderBy(col("source"))
      },
      Some("""WITH f AS (SELECT source, lang, md5(text) AS h,
                  len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS n_tok
                FROM documents),
              dup AS (SELECT source, h, count(*) AS c FROM f GROUP BY 1, 2),
              d2 AS (SELECT source, sum(c) AS n_docs,
                       sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup
                     FROM dup GROUP BY 1),
              b AS (SELECT source, count(DISTINCT lang) AS n_langs,
                      round(avg(n_tok), 4) AS avg_tokens
                    FROM f GROUP BY 1)
              SELECT b.source, CAST(d2.n_docs AS BIGINT) AS n_docs,
                b.n_langs, b.avg_tokens,
                round(d2.n_dup * 1.0 / d2.n_docs, 4) AS dup_doc_rate
              FROM b JOIN d2 USING (source) ORDER BY source""")),

    // ---- curriculum deciles (q101): order the corpus by a lexical-
    // diversity score (type-token ratio) and assign each doc its decile —
    // the curriculum-learning batch-schedule column. The naive form is a
    // global ORDER BY + ntile() window: one partition holding the corpus,
    // the exact shape this engine bans. Instead the rank comes from the
    // score HISTOGRAM: decile(d) = (#docs with score < d.score) * 10 div N.
    // The histogram is distinct-score-sized (partial-aggregated map-side,
    // then broadcast), the cumulative counts come from a broadcast
    // nested-loop self-join OVER THE HISTOGRAM (tiny × tiny), and the
    // final assignment is a map-side broadcast-hash join — the corpus is
    // never globally sorted and never collapses to one partition. Ties
    // share a decile by construction (same strict-< rank), which is also
    // what makes the rule deterministic and cross-engine exact: all
    // arithmetic after the 4-dp score round is integer.
    Q("q101_curriculum",
      (s, d) => {
        // persisted: consumed three times (histogram, N, assignment), and
        // the cache boundary stops the assignment join's inferred
        // isnotnull(score) from being pushed below the fan-out guard with
        // the whole tokenize chain inlined (the PlanAuditSpec rule)
        val f = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
          .select(col("doc_id"),
            when(size(col("tk")) === 0, lit(0.0))
              .otherwise(round(size(array_distinct(col("tk"))) /
                size(col("tk")).cast("double"), 4)).as("score"))
          .persist()
        val h = f.groupBy(col("score")).agg(count(lit(1)).as("c"))
        val n = f.agg(count(lit(1)).as("n"))
        val cdf = h.as("a")
          .join(broadcast(h.select(col("score").as("s2"), col("c").as("c2"))),
            col("s2") < col("a.score"), "left")
          .groupBy(col("a.score"))
          .agg(coalesce(sum(col("c2")), lit(0L)).as("cum_lt"))
          .crossJoin(broadcast(n))
          .select(col("score"),
            (expr("cum_lt * 10 div n") + 1).cast("int").as("decile"))
        f.join(broadcast(cdf), Seq("score"))
          .select(col("doc_id"), col("score"), col("decile"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
                  regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                FROM documents),
              f AS (SELECT doc_id,
                  CASE WHEN len(tk) = 0 THEN 0.0
                       ELSE round(len(list_distinct(tk)) * 1.0 / len(tk), 4)
                  END AS score
                FROM t),
              h AS (SELECT score, count(*) AS c FROM f GROUP BY 1),
              cdf AS (SELECT a.score, coalesce(sum(b.c), 0) AS cum_lt
                      FROM h a LEFT JOIN h b ON b.score < a.score
                      GROUP BY 1),
              n AS (SELECT count(*) AS n FROM f)
              SELECT f.doc_id, f.score,
                CAST((cdf.cum_lt * 10) // n.n + 1 AS INT) AS decile
              FROM f JOIN cdf USING (score) CROSS JOIN n
              ORDER BY f.doc_id""")),

    // ---- composed decontamination REPORT (q103): the three published
    // eval-contamination rules the catalog implements separately — exact
    // 5-gram membership (q78's rule), graded trigram overlap ≥ 0.5
    // (q90's), fuzzy near-dup jaccard ≥ 0.5 (q95's) — joined into the
    // one drop-list a pipeline team actually reviews, on one benchmark
    // convention (doc_id % 50 = 0). Composition, not re-implementation:
    // the trigram side reads the SHARED persisted fingerprint relation
    // (q35/q90's, CacheManager-deduped), the fuzzy side IS
    // TextOps.fuzzyDecontamFromBands over the shared written band index
    // (q95's exact-verified LSH path, round-14 shape), and the
    // 5-gram semi-join broadcasts the bench gram set (q78's bloom
    // pre-pass composes in front of it at 100 TB). Only flagged docs
    // emit — the report is contamination-sized, not corpus-sized.
    Q("q103_decontam_report",
      (s, d) => {
        val k = 5
        val benchSide = col("doc_id") % 50 === 0
        // The 5-gram side reads this persisted token relation; the
        // trigram side (bench3, ov) reads the shared persisted
        // fingerprints.
        val tks = RunScope.own(Tables.documents(s, d)
          .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val sh = TextOps.docsWithShinglesHashed(s, d)
        val bench3 = sh.filter(benchSide)
          .select(explode(col("sh")).as("s3")).distinct()
        val ov = sh.filter(!benchSide)
          .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
            explode_outer(col("sh")).as("s3"))
          .join(broadcast(bench3), Seq("s3"))
          .groupBy(col("doc_id"), col("n_sh"))
          .agg(count(lit(1)).as("n3"))
          .select(col("doc_id"),
            round(col("n3") / col("n_sh"), 4).as("overlap"))
        val grams = tks
          .select(col("doc_id"),
            explode_outer(when(size(col("tk")) >= k,
              array_distinct(transform(
                sequence(lit(1), size(col("tk")) - (k - 1)), i =>
                  concat_ws(" ", (0 until k).map(j =>
                    element_at(col("tk"), i + j)): _*))))
              .otherwise(array())).as("g"))
          .filter(col("g").isNotNull)
        val x5 = grams.filter(!benchSide)
          .join(grams.filter(benchSide).select(col("g")).distinct(),
            Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n5_shared"))
        // round 14: the fuzzy side probes the SHARED written full-corpus
        // band index instead of re-running the 96-hash signature sweep
        // (the q95 reroute); verification fingerprints only the candidates
        val fz = TextOps.fuzzyDecontamFromBands(
            TextOps.fullCorpusBandedIndex(s, d),
            Tables.load(s, d, "documents"), benchSide, threshold = 0.5)
          .select(col("doc_id"), col("max_jaccard"))
        tks.filter(!benchSide).select(col("doc_id"))
          .join(x5, Seq("doc_id"), "left_outer")
          .join(ov, Seq("doc_id"), "left_outer")
          .join(fz, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n5_shared"), lit(0L)).as("n5_shared"),
            coalesce(col("overlap"), lit(0.0)).as("overlap"),
            coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
          .withColumn("exact_hit", col("n5_shared") > 0)
          .withColumn("graded_hit", col("overlap") >= 0.5)
          .withColumn("fuzzy_hit", col("max_jaccard") >= 0.5)
          .filter(col("exact_hit") || col("graded_hit") || col("fuzzy_hit"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tks AS (SELECT doc_id,
                  regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                FROM documents),
              t AS (SELECT doc_id, list_distinct(list_transform(
                  range(1, len(tk)-1),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
                FROM tks),
              b3 AS (SELECT DISTINCT unnest(sh) AS s FROM t
                     WHERE doc_id % 50 = 0),
              e3 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
                     FROM t WHERE doc_id % 50 <> 0),
              ov AS (SELECT doc_id,
                       round(count(*) * 1.0 / n_sh, 4) AS overlap
                     FROM e3 JOIN b3 USING (s) GROUP BY doc_id, n_sh),
              g5 AS (SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, len(tk)-3),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] ||
                            ' ' || tk[i+3] || ' ' || tk[i+4]))) AS g
                     FROM tks WHERE len(tk) >= 5),
              b5 AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 50 = 0),
              x5 AS (SELECT doc_id, count(*) AS n5
                     FROM g5 JOIN b5 USING (g)
                     WHERE doc_id % 50 <> 0 GROUP BY 1),
              e AS (SELECT doc_id, unnest(sh) AS s FROM t),
              sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          count(*) AS ni
                        FROM e a JOIN e b ON a.s = b.s
                        WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
                        GROUP BY 1, 2),
              fz AS (SELECT id_a AS doc_id, round(max(j), 4) AS max_jaccard
                     FROM (SELECT id_a,
                             ni * 1.0 / (sa.sz + sb.sz - ni) AS j
                           FROM inter
                           JOIN sizes sa ON sa.doc_id = id_a
                           JOIN sizes sb ON sb.doc_id = id_b
                           WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5)
                     GROUP BY 1),
              r AS (SELECT c.doc_id,
                      CAST(coalesce(x5.n5, 0) AS BIGINT) AS n5_shared,
                      coalesce(ov.overlap, 0.0) AS overlap,
                      coalesce(fz.max_jaccard, 0.0) AS max_jaccard
                    FROM (SELECT doc_id FROM documents
                          WHERE doc_id % 50 <> 0) c
                    LEFT JOIN x5 USING (doc_id)
                    LEFT JOIN ov USING (doc_id)
                    LEFT JOIN fz USING (doc_id))
              SELECT doc_id, n5_shared, overlap, max_jaccard,
                n5_shared > 0 AS exact_hit,
                overlap >= 0.5 AS graded_hit,
                max_jaccard >= 0.5 AS fuzzy_hit
              FROM r
              WHERE n5_shared > 0 OR overlap >= 0.5 OR max_jaccard >= 0.5
              ORDER BY doc_id""")),

    // ---- data-contract validation (q118): the declarative batch-admission
    // check a pipeline pins for every feed (the Great-Expectations /
    // dbt-test shape): per named rule — rows checked, violations, verdict.
    // Rules over `orders`: key not-null + uniqueness, enum membership
    // (status contract deliberately tighter than the data so the report is
    // non-vacuous), value range, date range, and a cross-table referential
    // check (o_custkey ⊆ customer). One scan computes every single-table
    // rule as conditional partial aggregates (a 1-row aggregate — nothing
    // row-sized shuffles); the FK rule broadcast-anti-joins the dim and
    // adds one count. NULL semantics: a NULL never counts as an enum/range
    // violation (SQL three-valued logic, identical in both engines) — nulls
    // are the not-null rule's job. At 100 TB this is the cheapest full-scan
    // query a pipeline runs: every rule rides one pass, map-side.
    Q("q118_data_contract",
      (s, d) => orderContractReport(Tables.orders(s, d),
          Tables.customer(s, d), includeUnique = true)
        .orderBy(col("rule")),
      Some("""WITH a AS (SELECT count(*) AS n,
                count(*) FILTER (WHERE o_orderkey IS NULL) AS v_null,
                count(o_orderkey) - count(DISTINCT o_orderkey) AS v_dup,
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
                SELECT 'orderkey_unique', v_dup FROM a UNION ALL
                SELECT 'priority_enum', v_pri FROM a UNION ALL
                SELECT 'status_enum', v_enum FROM a UNION ALL
                SELECT 'totalprice_range', v_price FROM a)
              SELECT m.rule, a.n AS n_checked,
                CAST(m.v AS BIGINT) AS n_violations, m.v = 0 AS pass
              FROM m, a ORDER BY rule""")),

    // ---- dataset card (q155): the release-documentation artifact every
    // published training set ships (composition tables à la datasheets /
    // data cards) — the CONTENT complement of q142's shard manifests
    // (integrity) and q100's source health (operations). Per (lang,
    // source) cell: docs, chars, whitespace tokens (q32's tokenizer),
    // exact-dup rate under q31's normalization, and the cell's share of
    // corpus chars. One pass over documents: per-doc features derive
    // map-side (the md5 dup key shuffles as 32 hex chars, never text),
    // then one cell-count-sized aggregate; the corpus-total for the share
    // column re-aggregates the PERSISTED card (cells, not rows) and
    // broadcast-joins back — not a partition-less window (PlanAuditSpec
    // forbids those repo-wide) and not a second documents scan. Ratios
    // floor-quantized (midpoint discipline).
    Q("q155_dataset_card",
      (s, d) => cardReport(
        cardPerDoc(Tables.documents(s, d))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("chars")).as("total_chars"),
            sum(col("toks")).as("total_tokens"),
            countDistinct(col("h")).as("n_distinct"))),
      Some(DatasetCardSql)),

    // ---- incremental dataset card (q165): q155's maintain member. The
    // additive columns (docs, chars, tokens) merge trivially; the one
    // NON-additive column, the distinct-content count behind dup_rate,
    // is maintained exactly by storing the per-cell distinct hash set as
    // a table (32 hex chars per unique doc — the same artifact q121's
    // exact-dedup index already keeps, organized per cell): an
    // increment's contribution is |its own distinct hashes| minus those
    // already stored (one anti-join against the index), so the merged
    // card equals the from-scratch card EXACTLY — q155's oracle
    // verbatim is the statement. Cost ∝ increment + card size; the
    // snapshot's documents are never re-read (only its hash index is
    // probed). Production would also append the new hashes back to the
    // index; elided here because the demo's single increment never
    // probes twice.
    Q("q165_dataset_card_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        val stateT = "graft_card_state"; val hashT = "graft_card_hashes"
        // build-once memo (round 18): both snapshot-state tables are
        // read-only after the build (the increment probes hashT with an
        // anti-join and merges in-plan) — the q149-labels policy
        val cardTag = graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|card")
        ArtifactCache.once(stateT, cardTag) {
          graft.schema.Tables.resetManagedTable(s, stateT)
          graft.schema.Tables.resetManagedTable(s, hashT)
          val snapPD = cardPerDoc(docs.filter(col("doc_id") < cut))
            .persist()
          try {
            snapPD.groupBy(col("lang"), col("source"))
              .agg(count(lit(1)).as("n_docs"),
                sum(col("chars")).as("total_chars"),
                sum(col("toks")).as("total_tokens"),
                countDistinct(col("h")).as("n_distinct"))
              .write.mode("overwrite").saveAsTable(stateT)
            snapPD.select(col("lang"), col("source"), col("h")).distinct()
              .write.mode("overwrite").saveAsTable(hashT)
          } finally { snapPD.unpersist(); () }
        }
        // ADVICE r18 #3: hashT is built inside stateT's block above —
        // register it under the same content tag so invalidate/currentTag
        // see it and a future call site that memoizes hashT independently
        // cannot desynchronize the pair. (No-op body: the line directly
        // above guarantees both artifacts exist under cardTag whenever
        // this runs.)
        ArtifactCache.once(hashT, cardTag) { () }
        val incPD = cardPerDoc(docs.filter(col("doc_id") >= cut))
        val incCells = incPD.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("i_docs"),
            sum(col("chars")).as("i_chars"),
            sum(col("toks")).as("i_toks"))
        val incNew = incPD.select(col("lang"), col("source"), col("h"))
          .distinct()
          .join(s.table(hashT), Seq("lang", "source", "h"), "left_anti")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("i_new_distinct"))
        val merged = s.table(stateT)
          .join(incCells, Seq("lang", "source"), "full_outer")
          .join(incNew, Seq("lang", "source"), "full_outer")
          .select(col("lang"), col("source"),
            (coalesce(col("n_docs"), lit(0L)) +
              coalesce(col("i_docs"), lit(0L))).as("n_docs"),
            (coalesce(col("total_chars"), lit(0L)) +
              coalesce(col("i_chars"), lit(0L))).as("total_chars"),
            (coalesce(col("total_tokens"), lit(0L)) +
              coalesce(col("i_toks"), lit(0L))).as("total_tokens"),
            (coalesce(col("n_distinct"), lit(0L)) +
              coalesce(col("i_new_distinct"), lit(0L))).as("n_distinct"))
        cardReport(merged)
      },
      // q155's oracle verbatim: incremental ≡ from-scratch
      Some(DatasetCardSql)),

    // ---- entity resolution (q159): the record-linkage pipeline — the
    // classic data-engineering composition the dedup family's TEXT
    // members don't cover (shingles need prose; entity records are short
    // keyed strings). Shape: multi-pass BLOCKING (prefix block + suffix
    // block, unioned — a single prefix block misses edits inside the
    // prefix and vice versa) → bounded pair SCORING inside blocks
    // (levenshtein — both engines implement classic edit distance,
    // integer-exact) → connectedComponents over matched pairs for
    // transitive identity. The corpus has no native dirt, so variants
    // are planted IN-PLAN (the q153 dirty-oracle move): every 5th
    // customer gets a copy with one character deleted at an id-derived
    // position — both engines derive the identical perturbation. The
    // match rule (lev ≤ 1 AND lengths differ) keys on length-changing
    // edits because in this id-like namespace a substitution-neighbor
    // IS a different entity (Customer#...11 vs #...12); real deployments
    // swap in a domain scorer — the operator is the pipeline. Block-key
    // width IS the scale knob: a 12-char prefix degenerates on this
    // namespace (every record shares 'Customer#000' → per-nation cross
    // joins, measured 36 s at sf0.1); 15 chars discriminates to
    // thousand-groups and the curve flattens. The passes overlap on
    // recall: the suffix pass catches edits inside the prefix (deletion
    // at p ≤ 13 leaves the last-5 window intact over this zero-padded
    // region) and vice versa; edits at p ∈ {14,15} can evade both when
    // the shifted digits differ — a property of the blocking contract,
    // replayed identically by the oracle. At 100 TB oversized blocks get
    // df-capped exactly like the q35 posting lists; only (block key,
    // id, name) shuffles; CC runs on match-sized edges.
    Q("q159_entity_resolution",
      (s, d) => {
        val base = Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          col("c_name").as("name"))
        val variants = base.filter(col("id") % 5 === 0)
          .select((col("id") + 10000000L).as("id"), col("nk"),
            expr("""substr(name, 1, CAST(id % 8 + 10 AS INT) - 1) ||
                    substr(name, CAST(id % 8 + 10 AS INT) + 1)""")
              .as("name"))
        val all = base.union(variants)
        def blockPairs(bk: Column): DataFrame = {
          // width pinned (round 18): the self-join's shuffle carries a
          // few hundred KB of keys, so AQE coalesces it to 1-2 tasks —
          // but the stage's WORK is the within-block pair expansion +
          // per-pair levenshtein, invisible to byte-based sizing (the
          // q22 lesson). Explicit cores-derived width keeps the scoring
          // stage wide; both aliases share one exchange.
          val withKey = all.select(col("nk"), bk.as("bk"), col("id"),
            col("name"))
            .repartition(s.sparkContext.defaultParallelism,
              col("nk"), col("bk"))
          withKey.as("x").join(withKey.as("y"),
              col("x.nk") === col("y.nk") && col("x.bk") === col("y.bk")
                && col("x.id") < col("y.id"))
            .select(col("x.id").as("ia"), col("y.id").as("ib"),
              col("x.name").as("na"), col("y.name").as("nb"))
        }
        val cand = blockPairs(substring(col("name"), 1, 15))
          .union(blockPairs(expr("substr(name, length(name) - 4, 5)")))
        val matched = cand
          .filter(levenshtein(col("na"), col("nb")) <= 1 &&
            length(col("na")) =!= length(col("nb")))
          .select(col("ia").as("a"), col("ib").as("b")).distinct()
        connectedComponents(matched)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_records"))
          .orderBy(col("cluster_id"))
      },
      Some(EntityResolutionSql)),

    // (q164, the ER triangle's serve member, lives in StreamingOps and
    // probes the block index written here through [[erKeyed]]/[[erMatches]].)

    // ---- incremental entity resolution (q160): q159's maintain member
    // (the family rule: every build-once artifact gets a maintain path —
    // q34c, q44c, q144, q149, q158). The snapshot (clean records) blocks
    // ONCE into a written two-pass block index and resolves once into a
    // labels store; arriving records then block only THEMSELVES, probe
    // the index for cross candidates (the snapshot never re-blocks or
    // re-scores), and the verified matches contract through the stored
    // labels via the shared [[mergeDeltaIntoLabels]] algebra. Cost ∝
    // increment × block occupancy. Shares q159's oracle VERBATIM —
    // incremental ≡ from-scratch is the oracle statement (same blocking,
    // same rule, same transitive closure).
    Q("q160_entity_resolution_incremental",
      (s, d) => {
        val base = Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          col("c_name").as("name"))
        val inc = base.filter(col("id") % 5 === 0)
          .select((col("id") + 10000000L).as("id"), col("nk"),
            expr("""substr(name, 1, CAST(id % 8 + 10 AS INT) - 1) ||
                    substr(name, CAST(id % 8 + 10 AS INT) + 1)""")
              .as("name"))
        // build once: block index + snapshot labels store — both
        // ArtifactCache-memoized; q164's streaming gate probes the same
        // block index, so one of the two pays the build per JVM
        val idxTable = ErBlockIndexTable
        val lblTable = "graft_er_labels"
        val tag = erBlockTag(d)
        ArtifactCache.once(idxTable, tag) {
          graft.schema.Tables.resetManagedTable(s, idxTable)
          erKeyed(base).write.mode("overwrite").saveAsTable(idxTable)
        }
        ArtifactCache.once(lblTable, tag) {
          graft.schema.Tables.resetManagedTable(s, lblTable)
          connectedComponents(erMatches(erKeyed(base), erKeyed(base))
              .select(col("id_a").as("a"), col("id_b").as("b")))
            .write.mode("overwrite").saveAsTable(lblTable)
        }
        // maintain: increment blocks itself, probes the written index
        val incKeyed = erKeyed(inc)
        val cross = erMatches(s.table(idxTable), incKeyed)
        val self = erMatches(incKeyed, incKeyed)
        mergeDeltaIntoLabels(s.table(lblTable), cross.unionByName(self))
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_records"))
          .orderBy(col("cluster_id"))
      },
      // q159's oracle verbatim: incremental ≡ from-scratch
      Some(EntityResolutionSql)),

    // ---- end-to-end curation pipeline (q181): the composition a user
    // of this library actually ships — FOUR pillars in ONE lazy plan:
    // normalize (q153's codegen expression, on the raw text) → exact
    // dedup keep-first on the normalized content hash (q31/q121's key)
    // → learned quality filter (q111's logit head over the CLEANED
    // text) → benchmark decontamination (q78's exact 5-gram membership
    // against the doc_id<10 eval set). Per-stage survivor counts fall
    // out of ONE aggregate over per-doc flags, so the whole funnel is:
    // a map-side feature/normalize pass, one md5-key shuffle (dedup),
    // one gram semi-join against the BROADCAST benchmark gram set, and
    // a cell-sized report — no stage materializes an intermediate
    // corpus. The point is compositional correctness: every stage rule
    // is the oracle-exact one its standalone query proves, and the
    // composed DuckDB oracle replays the entire chain.
    Q("q181_curation_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") < 10)
        val corpus = docs.filter(col("doc_id") >= 10)
        val cleaned = corpus
          .withColumn("text",
            graft.expr.TextNormalize.textNormalize(col("text")))
        val scored = qualityLogitRaw(cleaned)
          .withColumn("h",
            md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
        def grams(df: DataFrame) = df.select(col("doc_id"),
          explode(when(size(col("tk")) >= 5,
            transform(sequence(lit(1), size(col("tk")) - 4), i =>
              concat_ws(" ", (0 until 5).map(j =>
                element_at(col("tk"), i + j)): _*)))
            .otherwise(array())).as("gram"))
        val benchGrams = grams(bench
            .withColumn("tk", TextOps.toks(col("text"))))
          .select(col("gram")).distinct()
        val contaminated = grams(scored)
          .join(broadcast(benchGrams), Seq("gram"))
          .select(col("doc_id")).distinct()
          .withColumn("contaminated", lit(true))
        val keeper = scored.groupBy(col("h"))
          .agg(min(col("doc_id")).as("keep_id"))
        scored.join(keeper, Seq("h"))
          .withColumn("keep_dedup", col("doc_id") === col("keep_id"))
          .join(contaminated, Seq("doc_id"), "left")
          .withColumn("contaminated",
            coalesce(col("contaminated"), lit(false)))
          .withColumn("final", col("keep_dedup") && col("logit") > 0 &&
            !col("contaminated"))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_raw"),
            sum(when(col("keep_dedup"), 1L).otherwise(0L)).as("n_dedup"),
            sum(when(col("keep_dedup") && col("logit") > 0, 1L)
              .otherwise(0L)).as("n_quality"),
            sum(when(col("final"), 1L).otherwise(0L)).as("n_final"),
            sum(when(col("final"), col("n_tok")).otherwise(0L))
              .as("tokens_final"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH corpus AS (SELECT doc_id, lang, source,
                trim(regexp_replace(regexp_replace(nfc_normalize(text),
                  '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                  '[ \t]+', ' ', 'g')) AS clean
                FROM documents WHERE doc_id >= 10),
              t AS (SELECT doc_id, lang, source, clean,
                regexp_extract_all(lower(clean), '[a-z0-9]+') AS tk,
                md5(regexp_replace(lower(trim(clean)), '\s+', ' ', 'g'))
                  AS h
                FROM corpus),
              f AS (SELECT doc_id, lang, source, h, tk,
                CAST(len(tk) AS BIGINT) AS n_tok,
                least(len(tk), 500) / 500.0 AS f_len,
                length(array_to_string(tk, '')) /
                  CAST(greatest(len(tk), 1) AS DOUBLE) AS f_mwl,
                len(list_filter(tk, x -> x IN ('the','a','of','and'))) /
                  CAST(greatest(len(tk), 1) AS DOUBLE) AS f_stop,
                CASE WHEN length(clean) = 0 THEN 0.0
                  ELSE length(regexp_replace(clean,
                      '[\sa-zA-Z0-9]', '', 'g')) /
                    CAST(length(clean) AS DOUBLE) END AS f_sym
                FROM t),
              l AS (SELECT doc_id, lang, source, h, tk, n_tok,
                -2.0 + 2.5 * f_len + 0.3 * f_mwl + 4.0 * f_stop
                  - 8.0 * f_sym AS logit
                FROM f),
              keep AS (SELECT h, min(doc_id) AS keep_id FROM l
                GROUP BY 1),
              bg AS (SELECT DISTINCT unnest(list_transform(
                  range(1, len(tk) - 3), i -> tk[i] || ' ' || tk[i+1] ||
                  ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))
                  AS gram
                FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+')
                    AS tk FROM documents WHERE doc_id < 10)
                WHERE len(tk) >= 5),
              cg AS (SELECT doc_id, unnest(list_transform(
                  range(1, len(tk) - 3), i -> tk[i] || ' ' || tk[i+1] ||
                  ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))
                  AS gram
                FROM l WHERE len(tk) >= 5),
              cont AS (SELECT DISTINCT doc_id FROM cg
                WHERE gram IN (SELECT gram FROM bg)),
              x AS (SELECT l.*,
                l.doc_id = k.keep_id AS keep_dedup,
                l.doc_id IN (SELECT doc_id FROM cont) AS contaminated
                FROM l JOIN keep k USING (h))
              SELECT lang, source, count(*) AS n_raw,
                CAST(sum(CASE WHEN keep_dedup THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dedup,
                CAST(sum(CASE WHEN keep_dedup AND logit > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                CAST(sum(CASE WHEN keep_dedup AND logit > 0
                  AND NOT contaminated THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_final,
                CAST(sum(CASE WHEN keep_dedup AND logit > 0
                  AND NOT contaminated THEN n_tok ELSE 0 END) AS BIGINT)
                  AS tokens_final
              FROM x GROUP BY 1, 2 ORDER BY 1, 2"""))
  )
}
