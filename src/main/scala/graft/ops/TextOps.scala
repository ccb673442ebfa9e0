package graft.ops

import graft.Q
import graft.expr.{HotShingles, IdSetExprs, MinHashExprs}
import graft.schema.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators for LLM-training-data pipelines over the
  * `documents` table: quality scoring, exact dedup, token counting,
  * language-ID heuristic, MinHash+LSH and SimHash near-dup, exact n-gram
  * Jaccard, winnowing fingerprints.
  *
  * Scale posture: everything is built-in expressions (whole-stage codegen,
  * no UDFs). The exact all-pairs Jaccard (q35) uses a shingle inverted
  * index — one shuffle on shingle, one on pair — and is the CORRECTNESS
  * oracle; at 100 TB you run the LSH path (q34): candidate generation
  * touches only (band, bucket) collisions, so cost scales with the number
  * of true near-dups, not with n². SimHash (q36) is the constant-space
  * alternative: 8 bytes/doc + pigeonhole chunk join.
  */
object TextOps {

  /** The DuckDB twin of [[shingles]] over [[toks]] of a row's `text`: its
    * distinct word trigrams, built by a lambda over `v`. Every oracle
    * that shingles text interpolates it: [[TrigramShinglesSql]] (lambda
    * `i`), or `k` in q148, whose query also aliases a table `i`.
    * Declared first: the oracles are strict vals of this and other
    * objects. */
  private[graft] def trigramShinglesSql(v: String): String =
    s"""list_distinct(list_transform(
         range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+'))-1),
         $v -> regexp_extract_all(lower(text), '[a-z0-9]+')[$v] || ' ' ||
              regexp_extract_all(lower(text), '[a-z0-9]+')[$v+1] || ' ' ||
              regexp_extract_all(lower(text), '[a-z0-9]+')[$v+2]))"""

  private[graft] val TrigramShinglesSql: String = trigramShinglesSql("i")

  /** Lowercased alphanumeric tokens; mirrors DuckDB
    * `regexp_extract_all(lower(text), '[a-z0-9]+')` exactly. */
  private[graft] def toks(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  /** Distinct word trigrams ("shingles"), 1-based element_at — mirrors the
    * DuckDB `list_transform(range(1, len-1), …)` formulation. */
  private[graft] def shingles(tokens: Column): Column =
    array_distinct(
      when(size(tokens) >= 3,
        transform(sequence(lit(1), size(tokens) - 2), i =>
          concat_ws(" ", element_at(tokens, i), element_at(tokens, i + 1),
            element_at(tokens, i + 2))))
        .otherwise(array()))

  /** Shingled documents as TEXT trigrams, PERSISTED — only for the sketch
    * families (HLL q191/q192, CMS q196/q197, KMV q198): their oracle-pinned
    * estimates are functions of the hashed shingle string, and q196 prints
    * shingle text. Every other shingle consumer uses [[fingerprints]].
    * Persisted for the reasons stated there: the sketch queries read this
    * relation from several subtrees, and without the barrier alias
    * substitution re-inlines tokenize+shingle into each. CacheManager
    * dedups by logical plan, so the family shares one copy per query.
    */
  private[graft] def docsWithShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), shingles(col("tk")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Distinct word-trigram fingerprints: xxhash64 of each token triple.
    * Tokens are split on non-alphanumerics, so triple identity equals
    * trigram-string identity. The fingerprint contract is stated on
    * [[fingerprints]]. */
  private[graft] def shinglesHashed(tokens: Column): Column =
    array_distinct(
      when(size(tokens) >= 3,
        transform(sequence(lit(1), size(tokens) - 2), i =>
          xxhash64(element_at(tokens, i), element_at(tokens, i + 1),
            element_at(tokens, i + 2))))
        .otherwise(array().cast("array<long>")))

  /** THE shingle builder of the near-duplicate family: any (doc_id, text)
    * relation to (doc_id, sh: array<long>), the doc's distinct trigram
    * fingerprints ([[shinglesHashed]]).
    *
    * Fingerprint contract: set sizes, intersections and df are exact up to
    * 2^-64 xxhash64 collisions; deterministic. Jaccard, containment,
    * overlap counts and MinHash signatures are functions of set identity
    * only, so every consumer that prints ids, counts or those ratios gets
    * the string-trigram answer up to that bound (the q31 xxhash64-dedup
    * precedent). Only the sketch families keep text ([[docsWithShingles]]).
    *
    * Tokens materialize before the shingle transform (two selects):
    * referencing the raw `split()` inside the shingle lambda re-tokenizes
    * per element (observed 10× at sf0.1). Callers that read the result
    * from several subtrees persist it: a join's inferred `isnotnull(sh)`
    * filter is pushed below the projection with alias substitution, and
    * without a barrier each side recomputes tokenize+shingle per row. */
  private[graft] def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), shinglesHashed(col("tk")).as("sh"))

  /** [[fingerprints]] of the whole (fanned-out) documents table, persisted:
    * the corpus-wide relation the exact-similarity family (q35/q186/q190,
    * q45's gated path) and the n-gram overlap counts (q82/q90/q66/q103)
    * share. Tokenize parallelism rides on Tables.documents' fan-out. */
  private[graft] def docsWithShinglesHashed(s: SparkSession,
      d: String): DataFrame =
    fingerprints(Tables.documents(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** `rel` restricted to the doc ids occurring in `cand`'s id_a/id_b (one
    * explode, undeduplicated: a semi-join ignores repeats). */
  private def candidateRows(rel: DataFrame, cand: DataFrame): DataFrame =
    rel.join(
      cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** The candidates' fingerprints for exact verification: `text` is a
    * (doc_id, text) relation, normally the unfanned documents scan
    * (`Tables.load(s, d, "documents")`) — a candidate-sized set gains
    * nothing from the fan-out. The candidate-id semi-join applies to the
    * text FIRST and only its survivors tokenize: Spark 4.1 does not push
    * a LeftSemi below the tokenize/shingle projections, so a semi-join on
    * an already-shingled relation tokenizes the whole corpus
    * (PlanHygieneSpec guards the order). PERSISTED: it feeds both verify
    * joins, and without the barrier alias substitution inlines the
    * tokenize+shingle chain into the verify's array expressions (the q35
    * hazard, re-measured as q34c at 44.8 s). Candidate-sized; owned by
    * the run's scope. */
  private[graft] def lookupForCandidates(text: DataFrame,
      cand: DataFrame): DataFrame =
    RunScope.keyed("TextOps.lookupForCandidates") {
      RunScope.own(fingerprints(candidateRows(text, cand)).persist())
    }

  // MinHash parameters: 96 hash functions, 32 bands × 3 rows.
  //
  // Round 13 re-tuning from a MEASURED miss: the previous 8 bands × 4
  // rows had per-pair recall 1-(1-j^4)^8 = 0.95 at j=0.75 — and at
  // sf0.1 the q34 sweep dropped a true j=0.8 pair (capped-j 0.75, docs
  // 1568/2466) on exactly that 5% tail, the first observed divergence
  // from the exact oracle at any SF. The corpus's j landscape is
  // bimodal (true pairs ≥ 0.8 full-set, background < 0.2, nothing in
  // [0.2, 0.5) at any SF — measured), so the banding is sized for
  // near-certain recall in the ≥ 0.7 capped-j zone rather than at the
  // 0.5 admission threshold: P(miss) = (1-j^3)^32 is 1.5e-6 at j=0.7
  // and 3e-8 at j=0.75, while background inflation stays candidate-
  // sized (j=0.05 pairs collide with p ≈ 4e-3; the exact verify stage
  // absorbs them). Cost: 3× hash work in the one detection sweep and
  // 4× banded-index rows — both shared-artifact builds, paid once.
  private val NumHashes = 96
  private val NumBands = 32
  private val RowsPerBand = NumHashes / NumBands

  /** The banding scheme every shared LSH artifact tag records
    * (ArtifactCache's contract, ADVICE r13 #1): the df cap, the MinHash
    * shape and the shingle representation, 64-bit trigram fingerprints
    * (their contract is stated on [[fingerprints]]). Band values depend on
    * all three, so a retune or a representation change forces a rebuild
    * instead of serving an index banded under the old scheme. */
  private val LshScheme =
    s"dfCap16|mh${NumHashes}x${NumBands}x$RowsPerBand|fp64"

  /** Exact all-pairs shingle-Jaccard ≥ 0.5 in DuckDB SQL — the oracle for
    * BOTH q35 (which computes exactly this) and q34 (whose LSH+verify
    * output provably equals it on this corpus). */
  private val ExactJaccardSql =
    raw"""WITH t AS (
       SELECT doc_id, ${TrigramShinglesSql} AS sh
       FROM documents),
       e AS (SELECT doc_id, unnest(sh) AS s FROM t),
       sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
         FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b,
         round(ni * 1.0 / (sa.sz + sb.sz - ni), 4) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5
       ORDER BY id_a, id_b"""

  /** PII seed-then-redact with verification flags: plant a synthetic
    * email + phone per doc, redact with typed placeholders, emit per-doc
    * proof the contacts are gone. Pure map-side built-ins — stateless on
    * a stream, which is how q68 runs the SAME Column tree (q38 is the
    * batch path). Kept verbatim in sync with [[PiiRedactSql]]. */
  private[graft] def piiRedactFlags(df: DataFrame): DataFrame = {
    val dirty = df.withColumn("text2",
      concat(col("text"), lit(" contact: user"), col("doc_id"),
        lit("@example.com or 555-"), lpad(col("doc_id") % 10000, 4, "0")))
    val clean = dirty.withColumn("redacted",
      regexp_replace(
        regexp_replace(col("text2"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{3}-\\d{4}\\b", "<PHONE>"))
    clean.select(
      col("doc_id"),
      col("redacted").contains("<EMAIL>").as("has_email_tag"),
      col("redacted").contains("<PHONE>").as("has_phone_tag"),
      col("redacted").rlike("@").as("residual_at"),
      (length(col("text2")) - length(col("text"))).as("appended_len"))
  }

  /** q38's exact oracle; also q68's (stream ≡ batch by construction). */
  private[graft] val PiiRedactSql: String =
    """SELECT doc_id, true AS has_email_tag, true AS has_phone_tag,
      false AS residual_at,
      CAST(length(' contact: user' || doc_id ||
        '@example.com or 555-' ||
        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
        AS INTEGER) AS appended_len
      FROM documents ORDER BY doc_id"""

  /** q90's graded eval-overlap rule in DuckDB SQL — the shared oracle for
    * the batch path (q90) and its streaming twin (q66): one rule, two
    * engine paths (the q80/q64 precedent). */
  private[graft] val NgramDecontamSql =
    raw"""WITH t AS (
       SELECT doc_id, ${TrigramShinglesSql} AS sh
       FROM documents),
       b AS (SELECT DISTINCT unnest(sh) AS s FROM t
             WHERE doc_id % 50 = 0),
       e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t),
       shared AS (
         SELECT doc_id, n_sh, count(*) AS n_shared
         FROM e JOIN b USING (s) GROUP BY 1, 2)
       SELECT doc_id, n_sh, n_shared,
         round(n_shared * 1.0 / n_sh, 4) AS overlap
       FROM shared WHERE n_shared * 1.0 / n_sh >= 0.5
       ORDER BY doc_id"""

  /** q90's per-doc rollup, shared with its streaming twin q66: one row
    * per (doc_id, n_sh) benchmark match in, the docs whose overlap
    * fraction reaches 0.5 out. */
  private[graft] def ngramOverlapReport(matches: DataFrame): DataFrame =
    matches.groupBy(col("doc_id"), col("n_sh"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") / col("n_sh") >= 0.5)
      .select(col("doc_id"), col("n_sh"), col("n_shared"),
        round(col("n_shared") / col("n_sh"), 4).as("overlap"))
      .orderBy(col("doc_id"))

  def catalog: Seq[Q] = catalog1 ++ catalog2 ++ catalog3

  /** q121's exact snapshot × increment pairs (the increment includes the
    * every-7th re-crawl); also its streaming twin q137's oracle. */
  private[graft] val ExactDedupIncSql =
    """WITH cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8)
                AS BIGINT) AS cut FROM documents),
              n AS (SELECT doc_id,
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
              FROM documents),
              snap AS (SELECT n.doc_id, t FROM n, cut
                WHERE n.doc_id < cut.cut),
              inc AS (
                SELECT n.doc_id, t FROM n, cut WHERE n.doc_id >= cut.cut
                UNION ALL
                SELECT doc_id + 1000000, t FROM snap WHERE doc_id % 7 = 0)
              SELECT s.doc_id AS snap_id, i.doc_id AS inc_id
              FROM snap s JOIN inc i ON s.t = i.t
              ORDER BY snap_id, inc_id"""

  /** q34c's exact snapshot × increment Jaccard pairs at 0.5; also its
    * streaming twin q109's oracle. */
  private[graft] val SnapshotCrossPairsSql =
    raw"""WITH t AS (
             SELECT doc_id, ${TrigramShinglesSql} AS sh
             FROM documents),
             cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8) AS BIGINT)
                       AS cut
                     FROM documents),
             e AS (SELECT doc_id, unnest(sh) AS s FROM t),
             sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
             inter AS (
               SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
               FROM e a JOIN e b ON a.s = b.s, cut
               WHERE a.doc_id < cut.cut AND b.doc_id >= cut.cut
               GROUP BY 1, 2)
             SELECT id_a, id_b,
               round(ni * 1.0 / (sa.sz + sb.sz - ni), 4) AS jaccard
             FROM inter
             JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
             WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5
             ORDER BY id_a, id_b"""

  private val catalog1: Seq[Q] = Seq(

    // ---- quality scoring: length/token/punct/stopword signals
    Q("q30_text_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("tk", toks(col("text")))
        .select(
          col("doc_id"), col("lang"),
          length(col("text")).as("n_chars"),
          size(col("tk")).as("n_tokens"),
          round(length(array_join(col("tk"), "")) /
            greatest(size(col("tk")), lit(1)).cast("double"), 4)
            .as("avg_token_len"),
          round(size(filter(col("tk"),
            t => t === "the" || t === "a" || t === "of" || t === "and"))
            / greatest(size(col("tk")), lit(1)).cast("double"), 4)
            .as("stopword_ratio"),
          round(length(regexp_replace(col("text"), "[\\sa-zA-Z0-9]", ""))
            / length(col("text")).cast("double"), 4).as("punct_ratio"),
          when(size(col("tk")) >= 40, lit("long"))
            .when(size(col("tk")) >= 15, lit("mid"))
            .otherwise(lit("short")).as("len_bucket"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT *, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents)
              SELECT doc_id, lang,
              CAST(length(text) AS INTEGER) AS n_chars,
              CAST(len(tk) AS INTEGER) AS n_tokens,
              round(length(array_to_string(tk, '')) * 1.0 /
                greatest(len(tk), 1), 4) AS avg_token_len,
              round(len(list_filter(tk, x -> x IN ('the','a','of','and')))
                * 1.0 / greatest(len(tk), 1), 4) AS stopword_ratio,
              round(length(regexp_replace(text, '[\sa-zA-Z0-9]', '', 'g'))
                * 1.0 / length(text), 4) AS punct_ratio,
              CASE WHEN len(tk) >= 40 THEN 'long'
                   WHEN len(tk) >= 15 THEN 'mid'
                   ELSE 'short' END AS len_bucket
              FROM t ORDER BY doc_id""")),

    // ---- exact dedup under re-crawl: union with self, dedup on a 64-bit
    // hash of the normalized text (whitespace-collapsed lowercase), per-lang
    // before/after counts. The shuffle ships (lang, 8-byte hash) per row —
    // never the documents themselves — which is the 100 TB shape (the text
    // column is projected away before the exchange; equality-by-hash is
    // exact up to 2^-64 collisions, and deterministic).
    Q("q31_exact_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val recrawl = docs.unionByName(docs)
          .select(col("lang"),
            xxhash64(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
              .as("text_hash"))
        // dedup PER LANG ("lang", "text_hash"), not globally: the same
        // normalized text can occur under two langs, and a global dedup
        // would drop it from one of them nondeterministically (caught by
        // the round-13 sf0.1 audit — 4 langs undercounted)
        recrawl.dropDuplicates("lang", "text_hash")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_unique"))
          .join(recrawl.groupBy(col("lang"))
            .agg(count(lit(1)).as("n_raw")), Seq("lang"))
          .orderBy(col("lang"))
      },
      Some("""WITH recrawl AS (
              SELECT * FROM documents UNION ALL SELECT * FROM documents)
              SELECT lang,
              count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                AS n_unique,
              count(*) AS n_raw
              FROM recrawl GROUP BY lang ORDER BY lang""")),

    // ---- q31's written-index posture (q121): the snapshot's content
    // hashes persisted ONCE as a hash-bucketed table, today's increment
    // (plus a simulated re-crawl of every 7th snapshot doc under fresh
    // ids — re-fetched pages are exactly what an exact-dedup gate exists
    // to catch) probed against it. Cost ∝ increment: the snapshot text is
    // never re-read or re-hashed, the probe join shuffles only the
    // increment's 8-byte hashes (the index side is pre-bucketed by
    // text_hash), and hash candidates are verified by exact text equality
    // so a 2^-64 hash collision cannot fabricate a pair. Completes the
    // build-once / probe-incrementally family (q34b/q34c for LSH,
    // q44b/q44c for IVF) for the exact-dedup pillar.
    Q("q121_exact_dedup_indexed",
      (s, d) => exactDedupIncremental(s, d)
        .orderBy(col("snap_id"), col("inc_id")),
      Some(ExactDedupIncSql)),

    // ---- crawl-delta report (q148): the first question a recurring
    // crawl pipeline asks of a new shard — "how much of this is actually
    // new?" Each increment doc (q121's increment construction: the top-
    // 20% slice plus a simulated re-crawl of every 7th snapshot doc)
    // classifies against the SNAPSHOT into exact-dup (q121's hash-index
    // probe, collision-proof text verify), near-dup (q34c's banded probe
    // under the frozen hot list, exact-jaccard ≥ 0.5 verify — exact dups
    // take precedence), or novel. Everything is existing build-once /
    // probe-incrementally machinery composed: both probes cost
    // ∝ increment, the snapshot never re-hashes or re-bands, and the
    // report is one increment-sized classification aggregate. The useful
    // output downstream: novel_share decides whether the shard is worth
    // processing; exact+near shares meter crawl redundancy over time.
    Q("q148_crawl_delta",
      (s, d) => {
        // PROJECTED to (doc_id, text) at the source (round 19, VERDICT
        // r18 #9 scan-pruning audit): the query consumes only ids and
        // text (hashing, shingling, counting), but the un-projected
        // union persisted — and its scans decoded — all five document
        // columns (ReadSchema carried lang/source/n_chars through every
        // one of the plan's documents scans). The explicit select is
        // the column-pruning barrier-breaker for the persist (guide
        // §2.3: project before opaque/cached consumers).
        val (fanned, scan) = Tables.documentsAndScan(s, d)
        val docs = fanned.select(col("doc_id"), col("text"))
        val cut = graft.schema.Cuts.documents(s, d)
        val snap = docs.filter(col("doc_id") < cut)
        // PERSISTED (round 18): the increment union is consumed by the
        // exact-index probe, its banding, the verify lookup and the final
        // share aggregate — unpersisted, each consumer
        // cloned both union legs into its plan and re-scanned documents
        // (6 scans of the table in the serve plan, 2 of them removable).
        // The cache is increment-sized.
        val inc = RunScope.own(docs.filter(col("doc_id") >= cut)
          .unionByName(snap.filter(col("doc_id") % 7 === 0)
            .withColumn("doc_id", col("doc_id") + lit(1000000L)))
          .persist())
        // both probes hit the SHARED snapshot artifacts (ArtifactCache):
        // the exact hash index q121/q137 also probe, and the banded LSH
        // index q34c/q109/q144/q146 also probe — built once per JVM
        writeExactHashIndex(s, snap, ExactHashTable, exactHashTag(d))
        val exactIds = probeExactHashIndex(s, inc, docs, ExactHashTable)
          .select(col("inc_id").as("doc_id")).distinct()
        // snapshot fingerprints stay LAZY (the cold index build persists
        // them itself); the increment is read once, by its banding. The
        // verify lookup fingerprints only the candidates, from the
        // unfanned snapshot scan plus the (persisted) increment text,
        // which carries the re-crawl ids
        writeSnapshotLshIndex(s, fingerprints(snap), dfCap = 16,
          SnapshotLshTable, snapshotLshTag(d))
        val crossCand = crossCandidates(s, SnapshotLshTable, fingerprints(inc))
        val snapText = scan.filter(col("doc_id") < cut)
          .select(col("doc_id"), col("text"))
        val nearIds = verifyJaccardCandidates(crossCand,
            lookupForCandidates(snapText.unionByName(inc), crossCand), 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        inc.select(col("doc_id"))
          .join(exactIds.withColumn("is_exact", lit(true)),
            Seq("doc_id"), "left_outer")
          .join(nearIds.withColumn("is_near", lit(true)),
            Seq("doc_id"), "left_outer")
          .select(
            coalesce(col("is_exact"), lit(false)).as("ex"),
            coalesce(col("is_near"), lit(false)).as("nr"))
          .agg(count(lit(1)).as("n_inc"),
            sum(when(col("ex"), 1L).otherwise(0L)).as("n_exact_dup"),
            sum(when(!col("ex") && col("nr"), 1L).otherwise(0L))
              .as("n_near_dup"),
            sum(when(!col("ex") && !col("nr"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("n_inc"), col("n_exact_dup"), col("n_near_dup"),
            col("n_novel"),
            (floor(col("n_exact_dup") * 10000.0 / col("n_inc")) / 10000)
              .as("exact_share"),
            (floor(col("n_near_dup") * 10000.0 / col("n_inc")) / 10000)
              .as("near_share"),
            (floor(col("n_novel") * 10000.0 / col("n_inc")) / 10000)
              .as("novel_share"))
      },
      Some(raw"""WITH cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8)
                AS BIGINT) AS cut FROM documents),
              nrm AS (SELECT doc_id,
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
                text
              FROM documents),
              snap AS (SELECT nrm.doc_id, t, text FROM nrm, cut
                WHERE nrm.doc_id < cut.cut),
              inc AS (
                SELECT nrm.doc_id, t, text FROM nrm, cut
                  WHERE nrm.doc_id >= cut.cut
                UNION ALL
                SELECT doc_id + 1000000, t, text FROM snap
                  WHERE doc_id % 7 = 0),
              ex AS (SELECT DISTINCT i.doc_id FROM inc i
                JOIN snap sp ON sp.t = i.t),
              ssh AS (SELECT doc_id, ${trigramShinglesSql("k")} AS sh
              FROM snap),
              ish AS (SELECT doc_id, ${trigramShinglesSql("k")} AS sh
              FROM inc),
              se AS (SELECT doc_id, unnest(sh) AS sg FROM ssh),
              ie AS (SELECT doc_id, unnest(sh) AS sg FROM ish),
              ssz AS (SELECT doc_id, len(sh) AS sz FROM ssh),
              isz AS (SELECT doc_id, len(sh) AS sz FROM ish),
              inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
                FROM se a JOIN ie b ON a.sg = b.sg GROUP BY 1, 2),
              near AS (SELECT DISTINCT id_b AS doc_id FROM inter
                JOIN ssz sa ON sa.doc_id = id_a
                JOIN isz sb ON sb.doc_id = id_b
                WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5),
              cls AS (SELECT i.doc_id,
                  i.doc_id IN (SELECT doc_id FROM ex) AS ex,
                  i.doc_id IN (SELECT doc_id FROM near) AS nr
                FROM inc i),
              agg AS (SELECT
                CAST(count(*) AS BIGINT) AS n_inc,
                CAST(count(*) FILTER (WHERE ex) AS BIGINT) AS n_exact_dup,
                CAST(count(*) FILTER (WHERE NOT ex AND nr) AS BIGINT)
                  AS n_near_dup,
                CAST(count(*) FILTER (WHERE NOT ex AND NOT nr) AS BIGINT)
                  AS n_novel
              FROM cls)
              SELECT n_inc, n_exact_dup, n_near_dup, n_novel,
                floor(n_exact_dup * 10000.0 / n_inc) / 10000 AS exact_share,
                floor(n_near_dup * 10000.0 / n_inc) / 10000 AS near_share,
                floor(n_novel * 10000.0 / n_inc) / 10000 AS novel_share
              FROM agg""")),

    // ---- secret/credential scanning + redaction (q123): the compliance
    // gate that keeps leaked API keys out of a training corpus (the
    // detect-secrets / trufflehog shape). Candidate = whitespace token ≥ 20
    // chars in a key-like charset; flagged = candidate that ALSO mixes
    // letters+digits and has distinct-char ratio ≥ 0.4 — the verdict is
    // pure integer arithmetic (counts and lengths), so both engines decide
    // identically with no float-threshold hazard (the q111 floor lesson,
    // avoided outright). Redaction rebuilds the doc with flagged tokens
    // replaced by [SECRET]; the oracle hashes the REDACTED TEXT itself
    // (md5 — same algorithm both engines), so an over- or under-redaction
    // of any single token flips that row. Secrets are planted
    // deterministically (doc_id % 13 → ' sk'+md5(doc_id) appended) so the
    // check is non-vacuous at every SF. Scale: entirely map-side built-ins
    // in one projection — no shuffle, no UDF; per-doc cost ∝ token count.
    Q("q123_secret_scan",
      (s, d) => {
        val scanText = when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" sk"),
            md5(col("doc_id").cast("string")))).otherwise(col("text"))
        val isCand = (t: Column) =>
          length(t) >= 20 && t.rlike("^[A-Za-z0-9+/=_-]+$")
        val isFlagged = (t: Column) => isCand(t) &&
          t.rlike("[A-Za-z]") && t.rlike("[0-9]") &&
          size(array_distinct(split(t, ""))) * 10 >= length(t) * 4
        Tables.documents(s, d)
          .withColumn("tk", split(trim(scanText), "\\s+"))
          .select(col("doc_id"),
            size(filter(col("tk"), isCand)).as("n_candidates"),
            size(filter(col("tk"), isFlagged)).as("n_flagged"),
            md5(array_join(transform(col("tk"), t =>
              when(isFlagged(t), lit("[SECRET]")).otherwise(t)), " "))
              .as("redact_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (SELECT doc_id,
                CASE WHEN doc_id % 13 = 0
                  THEN text || ' sk' || md5(CAST(doc_id AS VARCHAR))
                  ELSE text END AS text
              FROM documents),
              t AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS tk FROM s)
              SELECT doc_id,
                CAST(len(list_filter(tk, x -> length(x) >= 20
                  AND regexp_full_match(x, '[A-Za-z0-9+/=_-]+')))
                  AS INTEGER) AS n_candidates,
                CAST(len(list_filter(tk, x -> length(x) >= 20
                  AND regexp_full_match(x, '[A-Za-z0-9+/=_-]+')
                  AND regexp_matches(x, '[A-Za-z]')
                  AND regexp_matches(x, '[0-9]')
                  AND len(list_distinct(regexp_extract_all(x, '.'))) * 10
                    >= length(x) * 4)) AS INTEGER) AS n_flagged,
                md5(array_to_string(list_transform(tk, x ->
                  CASE WHEN length(x) >= 20
                    AND regexp_full_match(x, '[A-Za-z0-9+/=_-]+')
                    AND regexp_matches(x, '[A-Za-z]')
                    AND regexp_matches(x, '[0-9]')
                    AND len(list_distinct(regexp_extract_all(x, '.'))) * 10
                      >= length(x) * 4
                  THEN '[SECRET]' ELSE x END), ' ')) AS redact_md5
              FROM t ORDER BY doc_id""")),

    // ---- token counting: whitespace words vs BPE-ish regex pieces
    // (letter runs | digit runs | single punctuation)
    Q("q32_token_count",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"),
          length(col("text")).as("n_chars"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
              CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
                AS n_ws_tokens,
              CAST(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
              CAST(length(text) AS INTEGER) AS n_chars
              FROM documents ORDER BY doc_id""")),

    // ---- language-ID: stopword-set voting (n-gram-class heuristic).
    // Degenerate on this synthetic corpus (shared vocab → everything votes
    // 'en'), which the oracle still verifies; LangIdSpec exercises real
    // multilingual sentences.
    Q("q33_langid",
      (s, d) => {
        val tk = toks(col("text"))
        def hits(words: Seq[String]): Column =
          size(filter(tk, t => words.map(w => t === w).reduce(_ || _)))
        val en = hits(Seq("the", "a", "and", "of", "is"))
        val es = hits(Seq("el", "la", "de", "que", "y"))
        val de = hits(Seq("der", "die", "und", "das", "ist"))
        val fr = hits(Seq("le", "la", "et", "les", "des"))
        Tables.documents(s, d).select(
          col("doc_id"),
          en.as("en_hits"), es.as("es_hits"), de.as("de_hits"), fr.as("fr_hits"),
          when(greatest(en, es, de, fr) === 0, lit("und"))
            .when(en === greatest(en, es, de, fr), lit("en"))
            .when(es === greatest(en, es, de, fr), lit("es"))
            .when(de === greatest(en, es, de, fr), lit("de"))
            .otherwise(lit("fr")).as("lang_pred"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              v AS (SELECT doc_id,
                len(list_filter(tk, x -> x IN ('the','a','and','of','is'))) AS en_hits,
                len(list_filter(tk, x -> x IN ('el','la','de','que','y'))) AS es_hits,
                len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS de_hits,
                len(list_filter(tk, x -> x IN ('le','la','et','les','des'))) AS fr_hits
              FROM t)
              SELECT CAST(en_hits AS INTEGER) AS en_hits,
                CAST(es_hits AS INTEGER) AS es_hits,
                CAST(de_hits AS INTEGER) AS de_hits,
                CAST(fr_hits AS INTEGER) AS fr_hits, doc_id,
                CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0 THEN 'und'
                     WHEN en_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'en'
                     WHEN es_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'es'
                     WHEN de_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'de'
                     ELSE 'fr' END AS lang_pred
              FROM v ORDER BY doc_id""")),

    // ---- MinHash + LSH near-dup: signature → bands → bucket join →
    // verify candidates with exact Jaccard. The 100 TB path: candidate
    // pairs ∝ true near-dups. The LSH machinery (xxhash64 seed family) has
    // no DuckDB twin, but its OUTPUT does: because every surviving
    // candidate is verified with exact Jaccard, and this corpus's true
    // near-dup pairs sit far above the 0.5 threshold (band-collision
    // P ≥ 0.97 at j ≥ 0.8), the emitted pair set equals the exact
    // formulation's — so the oracle IS q35's exact-pairs SQL
    // (TextOpsSpec asserts the same equality on its own corpus).
    // dfCap=16 (SURVEY §9's stop-shingle knob, VERDICT r3 #5): candidate
    // generation ignores corpus-hot shingles; verification uses full sets,
    // so the oracle (the exact-pairs SQL, no cap) proves output identity
    // on the real tables every round. Cap chosen above the p99 shingle df
    // at sf0.1 (18) — measured zero qualifying pairs whose shared shingles
    // are all above it at either SF.
    // Round 12: the pair set comes from the SHARED written artifact
    // ([[corpusLshPairs]] — first consumer per JVM pays the detection
    // sweep, recorded as build_sec); the exact-pairs oracle still
    // recomputes every pair from raw text, so the LSH ≡ exact proof this
    // query exists for is unchanged.
    Q("q34_minhash_lsh",
      (s, d) => corpusLshPairs(s, d)
        .orderBy(col("id_a"), col("id_b")),
      Some(ExactJaccardSql)),

    // ---- q34's written-index posture (SURVEY §9): the banded LSH index
    // lands in a BUCKETED table and candidate generation reads it back
    // shuffle-free — the recurring-run shape at 100 TB, where the index is
    // built once per corpus snapshot and reused. Same output, same
    // exact-pairs oracle as q34.
    // The memoized build fingerprints the corpus once inside the write
    // job (the family-shared index, round 14); warm probes fingerprint
    // only the surviving candidates, from the unfanned documents scan.
    Q("q34b_minhash_lsh_indexed",
      (s, d) => pairsFromBandedIndex(fullCorpusBandedIndex(s, d),
          Tables.load(s, d, "documents"), jaccardThreshold = 0.5)
        .orderBy(col("id_a"), col("id_b")),
      Some(ExactJaccardSql)),

    // ---- incremental dedup (q34c): today's increment (top 20% of
    // doc_id) probed against the written snapshot index — cost ∝
    // increment, the snapshot never re-bands at probe time. Oracle: the
    // exact cross pairs (snapshot × increment) at the same threshold.
    Q("q34c_minhash_incremental",
      // on a warm run (ArtifactCache hit) the only doc tokenization is
      // the increment's banding + the candidates' verify lookups, which
      // read the unfanned scan (the semi-join then lands on the scan, not
      // below the fan-out's exchange)
      (s, d) => {
        val (docs, scan) = Tables.documentsAndScan(s, d)
        minHashLshIncremental(s, docs, jaccardThreshold = 0.5, dfCap = 16,
            tag = snapshotLshTag(d), lookupText = Some(scan))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(SnapshotCrossPairsSql)),

    // ---- n-gram decontamination (q90): the eval-set overlap rule
    // (per-doc fraction of shingles appearing ANYWHERE in a benchmark
    // set — the published "remove training docs sharing 13-grams with
    // the eval suite" recipe at this corpus's 3-gram scale). Complements
    // q78's bloom MEMBERSHIP check with a graded overlap FRACTION: q78
    // answers "is this exact doc in the eval set", this answers "how
    // much of this doc's content is". Benchmark = docs with
    // doc_id % 50 = 0 (self-contamination guarantees rows: a verbatim
    // eval doc in the corpus scores overlap 1.0). Scale posture: a real
    // eval suite is small and AQE auto-broadcasts its shingle set; the
    // broadcast hint is deliberately OMITTED because this demo's
    // benchmark is a corpus FRACTION — a forced broadcast would grow
    // with the corpus, while the unhinted join degrades gracefully to a
    // shuffled join when the benchmark side outgrows the broadcast
    // threshold. The corpus side stays one explode + one count groupBy.
    Q("q90_ngram_decontam",
      (s, d) => {
        val docs = docsWithShinglesHashed(s, d)
        val bench = docs.filter(col("doc_id") % 50 === 0)
          .select(explode(col("sh")).as("s")).distinct()
        ngramOverlapReport(docs.select(col("doc_id"),
            size(col("sh")).cast("long").as("n_sh"),
            explode(col("sh")).as("s"))
          .join(bench, Seq("s")))
      },
      Some(NgramDecontamSql)),

    // ---- exact substring-run duplication (q92): longest VERBATIM shared
    // token span per doc pair — the order-aware duplication the Jaccard
    // family cannot see (a shuffled bag of the same shingles scores the
    // same Jaccard; only a run scores here). The published recipe is
    // suffix arrays; re-expressed relationally: positional token
    // 5-grams, equi-join on gram text, then maximal runs as consecutive
    // positions per (pair, diagonal) via the classic pos − row_number
    // grouping — a run of R shared tokens is R−4 consecutive matches on
    // one diagonal. Every stage is a shuffle-parallel join/window
    // (windows partitioned by pair+diagonal), no suffix structure in
    // memory. Corpus-hot boilerplate grams would fan the join out at
    // 100 TB — there the q34 df-cap shape applies unchanged in front of
    // the join (this corpus's max gram df is 3, so the demo stays
    // exact with no cap). Output: pairs sharing a run ≥ 20 tokens.
    Q("q92_substring_runs",
      (s, d) => {
        val k = 5
        // posexplode_OUTER over a when-guarded gram array instead of an
        // explicit size(tk) >= k pre-filter: the pre-filter version gets
        // predicate-pushed BELOW the fan-out guard with the tokenizer
        // inlined — every scan task tokenizes twice, serially on an
        // under-split source (the q66 lesson, audited in PlanAuditSpec).
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"),
            posexplode_outer(when(size(col("tk")) >= k,
              transform(sequence(lit(0), size(col("tk")) - k), i =>
                concat_ws(" ", (1 to k).map(j =>
                  element_at(col("tk"), i + lit(j))): _*)))
              .otherwise(array()))
              .as(Seq("pos", "g")))
          .filter(col("g").isNotNull)
        val a = grams.select(col("g"), col("doc_id").as("id_a"),
          col("pos").as("pa"))
        val b = grams.select(col("g"), col("doc_id").as("id_b"),
          col("pos").as("pb"))
        val byDiag = Window
          .partitionBy(col("id_a"), col("id_b"), col("diag"))
          .orderBy(col("pa"))
        a.join(b, Seq("g")).filter(col("id_a") < col("id_b"))
          .withColumn("diag", col("pa") - col("pb"))
          .withColumn("grp", col("pa") - row_number().over(byDiag))
          .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
          .agg((count(lit(1)) + (k - 1)).as("run_tokens"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(max(col("run_tokens")).as("max_run"))
          .filter(col("max_run") >= 20)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              g AS (SELECT doc_id, i AS pos,
                  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                  tk[i+3] || ' ' || tk[i+4] AS gram
                FROM t, unnest(range(1, len(tk)-3)) AS u(i)
                WHERE len(tk) >= 5),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.pos AS pa, b.pos AS pb
                FROM g a JOIN g b ON a.gram = b.gram
                  AND a.doc_id < b.doc_id),
              d AS (SELECT id_a, id_b, pa - pb AS diag, pa,
                  pa - row_number() OVER (
                    PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
                FROM p),
              runs AS (SELECT id_a, id_b, count(*) + 4 AS run_tokens
                       FROM d GROUP BY id_a, id_b, diag, grp)
              SELECT id_a, id_b, max(run_tokens) AS max_run FROM runs
              GROUP BY 1, 2 HAVING max(run_tokens) >= 20
              ORDER BY id_a, id_b""")),

    // ---- exact n-gram Jaccard via df-capped shingle inverted index
    // (three shuffles: df window, by shingle, by pair; bounded per-key
    // fanout). Correctness oracle for q34; its own oracle is the uncapped
    // SQL, which proves the cap loses nothing here.
    Q("q35_ngram_jaccard",
      (s, d) => {
        // hashed shingle fingerprints (round 19 — see shinglesHashed):
        // the whole pipeline is set arithmetic over shingle identities
        val sh = docsWithShinglesHashed(s, d)
        exactJaccardPairsCapped(sh, 0.5, dfCap = 16)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(ExactJaccardSql)),

    // ---- prefix-filter exact Jaccard join (q186): the AllPairs/PPJoin
    // family (Bayardo et al. WWW'07; Xiao et al. WWW'08) — the third
    // exact-threshold formulation next to q35's df-capped index and
    // q34's probabilistic LSH, and the only one of the three that is
    // sub-quadratic AND provably lossless on EVERY input distribution:
    // q35's dfCap is an empirical bet (its oracle proves nothing is lost
    // on THIS corpus; an adversarial corpus whose duplicates share only
    // corpus-hot shingles would slip it), LSH is probabilistic by
    // construction. Here each doc indexes only its p = sz − ceil(τ·sz)
    // + 1 globally-RAREST shingles (the prefix under a total order by
    // ascending document frequency); the prefix-filter theorem —
    // J(a,b) ≥ τ forces |a∩b| ≥ ceil(τ·max(|a|,|b|)), and two sets
    // whose prefixes are disjoint can share at most (sz_a − p_a) +
    // … < that many tokens under a common total order — guarantees
    // every qualifying pair collides on ≥ 1 prefix token. Cost shape:
    // posting stream shrinks by the factor (1 − τ) AND the surviving
    // tokens are by construction the rarest (smallest posting lists), so
    // candidate fanout collapses without any cap; the τ·max ≤ min length
    // filter prunes inside the bucket expansion before verification.
    Q("q186_prefix_filter_jaccard",
      (s, d) => {
        // PERSISTED hashed shingles (q35's posture, and the lazy-inlining
        // hazard: the posting stream reads `sh` twice — size + explode —
        // and a lazy relation would re-inline tokenize+shingle into each,
        // including inside every element_at lambda)
        val sh = docsWithShinglesHashed(s, d)
        prefixFilterJaccardPairs(sh, 0.5)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(ExactJaccardSql)),

    // ---- exact containment (near-subset) dedup (q190): the asymmetric
    // complement of the Jaccard family — c = |a∩b| / min(|a|,|b|) ≥ 0.8
    // flags a document largely CONTAINED in another (quoted article
    // inside an aggregator page, chapter inside a compilation), which
    // symmetric Jaccard scores low because the union is page-sized. The
    // published candidate scheme for containment thresholds: probe-prefix
    // vs full index (see [[containmentPairs]] for the soundness argument
    // and the fanout honesty note). Oracle: the uncapped exact SQL at
    // the containment formula — losslessness checked per corpus AND held
    // by the prefix theorem.
    Q("q190_containment_dedup",
      (s, d) => {
        val sh = docsWithShinglesHashed(s, d)
        containmentPairs(sh, 0.8)
          .select(col("id_a"), col("id_b"),
            round(col("containment"), 4).as("containment"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(raw"""WITH t AS (
             SELECT doc_id, ${TrigramShinglesSql} AS sh
             FROM documents),
             e AS (SELECT doc_id, unnest(sh) AS s FROM t),
             sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
             inter AS (
               SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
             SELECT id_a, id_b,
               round(ni * 1.0 / least(sa.sz, sb.sz), 4) AS containment
             FROM inter
             JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
             WHERE ni * 1.0 / least(sa.sz, sb.sz) >= 0.8
             ORDER BY id_a, id_b""")),

    // ---- incremental HLL cardinality maintenance (q191): the mergeable-
    // sketch member of the maintainer family — per-language distinct-
    // shingle cardinality (content-diversity monitoring: a crawl whose
    // distinct-shingle curve flattens is re-fetching what it already
    // has). The snapshot's per-lang DataSketches HLL sketches (lgK=12,
    // 4 KB/lang) are the written artifact; an increment folds in as a
    // register-wise union — HLL registers are per-bucket MAXima, so
    // union is associative/commutative/idempotent and
    // estimate(union(snap, inc)) EQUALS estimate(full rebuild) exactly,
    // which the plan CHECKS (merge_equals_full) rather than assumes,
    // alongside a 5% accuracy band against the exact count (integer
    // cross-multiplication, no float threshold). At 100 TB the exact
    // and full-rebuild legs are the VERIFICATION machinery (the oracle's
    // job, here in-plan because both are one linear aggregate); the
    // production read is the 4 KB-per-lang sketch table plus an
    // increment-sized aggregate — the daily-rollup primitive mergeable
    // sketches exist for.
    Q("q191_hll_incremental",
      (s, d) => {
        val cut = graft.schema.Cuts.documents(s, d)
        val posts = langShinglePosts(s, d)
        writeHllShingleSketch(s, d)
        val incSk = posts.filter(col("doc_id") >= cut)
          .groupBy(col("lang"))
          .agg(hll_sketch_agg(col("t"), 12).as("sk"))
        hllVerifiedEstimates(s, posts,
          s.table(HllSketchTable).unionByName(incSk))
      },
      // exact counts recomputed in DuckDB; the two sketch invariants are
      // pinned TRUE — a merge/accuracy break flips the row hash
      Some(HllVocabSql)),

    // ---- SimHash near-dup: 64-bit signature (8 bytes/doc), candidates via
    // 16-bit chunk pigeonhole (hamming ≤ 3 ⇒ some chunk equal), verified by
    // bit_count(xor). The signature family (xxhash64) has no DuckDB twin,
    // so the oracle states IN-PLAN-verified invariants (VERDICT r1 #3):
    // `complete` compares the pigeonhole join's pair set against an
    // all-pairs signature scan — pigeonhole completeness is a theorem
    // (≤3 differing bits across 4 chunks leave ≥1 chunk intact), and the
    // plan CHECKS it rather than assuming it. The brute scan is n² in the
    // corpus, i.e. exactly the cost the pigeonhole path exists to avoid,
    // so it is GATED (VERDICT r3 #1): in-plan below Gates.MaxRows
    // docs — which covers the driver's sf0.01 oracle run — and skipped
    // above it, where `complete` reports the theorem as the un-checked
    // sentinel and the benched plan measures the production pigeonhole
    // path alone (TextOpsSpec asserts the same brute-equality on its own
    // corpus at every spec run).
    Q("q36_simhash",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sig = simHashSignatures(
          docs.select(col("doc_id"), toks(col("text")).as("tk")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pigeon = simHashPairsFromSignatures(sig, maxHamming = 3)
        val base = pigeon.agg(count(lit(1)).as("n_pairs"),
          max(col("hamming")).as("max_h"))
        if (Gates.verifyInPlan(docs)) {
          val brute = sig.as("a").join(sig.as("b"),
              col("a.doc_id") < col("b.doc_id"))
            .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
              .as("hamming"))
            .filter(col("hamming") <= 3)
          base.crossJoin(brute.agg(count(lit(1)).as("n_brute")))
            .select((col("n_pairs") === col("n_brute")).as("complete"),
              (col("max_h") <= 3).as("hamming_bounded"),
              (col("n_pairs") >= 1).as("nonempty"),
              lit(true).as("verified"))
        } else
          // `complete` above the gate restates the pigeonhole THEOREM, not
          // a computed check — `verified = false` marks it as such in the
          // output itself (ADVICE r4: sentinel and checked results must be
          // distinguishable by a downstream consumer, not just in scaladoc)
          base.select(lit(true).as("complete"),
            (col("max_h") <= 3).as("hamming_bounded"),
            (col("n_pairs") >= 1).as("nonempty"),
            lit(false).as("verified"))
      },
      // the oracle encodes the Gates.verifyInPlan rule (round-13 sf0.1
      // audit): above MaxRows=1000 docs the plan honestly reports the
      // pigeonhole theorem un-checked (verified=false), and the oracle
      // predicts it
      Some("""SELECT true AS complete, true AS hamming_bounded,
              true AS nonempty,
              (SELECT count(*) FROM documents) <= 1000 AS verified""")),

    // ---- winnowing fingerprints (MOSS-style): k-gram hashes, sliding
    // window of 4, keep each window's min → position-robust fingerprint
    // set. Formulated RELATIONALLY — explode tokens once, build trigrams
    // with lead() windows, sliding min as a frame window — because the
    // array-HOF formulation is an alias-substitution trap: an aliased
    // `hashes` array referenced inside a per-window lambda re-evaluates
    // the whole tokenize+shingle+hash chain per window (interpreted,
    // O(grams²) per doc — observed 14 MINUTES single-task at sf0.1, where
    // this runs in under a second: every stage after the one cheap
    // tokenize explode is codegen'd and shuffle-parallel).
    // Oracle checks the SQL-computable invariants (gram count, fp bounds).
    //
    // Plan discipline (VERDICT r4 #1): ONE exchange, TWO sorts, TWO Window
    // ops. The r4 formulation stacked four window passes over three window
    // specs (lead×2, dedup row_number over (doc_id, h), pos/n_g/wmin) —
    // the largest codegen/sort pipeline in the catalog, and the source of
    // its catalog-context first-touch cost. Fused here:
    //  - the per-gram dedup (first occurrence per distinct hash) is a HASH
    //    AGGREGATE `groupBy(doc_id, h).agg(min(tpos))`, not a sort+window —
    //    hash(doc_id) from the one explicit repartition already satisfies
    //    its clustering, so it adds neither an exchange nor a sort;
    //  - `wmin`+`wcnt` share one frame (one Window op), `rn` rides the same
    //    (doc_id, tpos) sort as a second Window op with zero extra sorts;
    //  - "position has a full w-window" is decided by counting the frame
    //    (`wcnt === w` ⇔ pos ≤ n_g − w + 1) instead of materializing
    //    pos/n_g first, with `rn === 1` covering the short-doc case
    //    (n_g < w ⇒ only position 1 holds the truncated window);
    //  - n_grams = the post-dedup row count, free in the final aggregate.
    // The repartition(doc_id) stays: the single-file scan would otherwise
    // run tokenize+posexplode single-task, and hash(doc_id) is exactly the
    // distribution every downstream op needs, so it REPLACES the window
    // exchange rather than adding one.
    Q("q37_winnow_fingerprint",
      (s, d) => {
        val w = 4
        val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("tpos"))
        val wFrame = byDoc.rowsBetween(Window.currentRow, w - 1)
        val tokens = Tables.documents(s, d)
          // width pinned (round 18): bare repartition(col) is AQE-
          // coalescible by bytes, re-serializing the tokenize+posexplode
          // chain this spread exists to parallelize (the q22 lesson)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("tpos", "tok")))
        val grams = tokens
          .withColumn("t1", lead(col("tok"), 1).over(byDoc))
          .withColumn("t2", lead(col("tok"), 2).over(byDoc))
          .filter(col("t2").isNotNull) // full trigrams only
          .select(col("doc_id"), col("tpos"),
            xxhash64(concat_ws(" ", col("tok"), col("t1"), col("t2"))).as("h"))
        // first occurrence per distinct gram (shingles() dedups) — hash agg
        val deduped = grams.groupBy(col("doc_id"), col("h"))
          .agg(min(col("tpos")).as("tpos"))
        val windowed = deduped
          .withColumn("wmin", min(col("h")).over(wFrame))
          .withColumn("wcnt", count(lit(1)).over(wFrame))
          .withColumn("rn", row_number().over(byDoc))
        val fps = windowed
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_grams"),
            countDistinct(when(col("wcnt") === w || col("rn") === 1,
              col("wmin"))).as("n_fps"))
        // docs with no full trigram still appear (n_grams 0, vacuous ok)
        Tables.documents(s, d).select(col("doc_id"))
          .join(fps, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0)).as("n_grams"),
            coalesce(col("n_fps") >= least(lit(1), col("n_grams")) &&
              col("n_fps") <= col("n_grams"), lit(true)).as("fp_ok"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents)
              SELECT doc_id,
              CAST(len(list_distinct(list_transform(range(1, len(tk)-1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS INTEGER)
                AS n_grams,
              true AS fp_ok
              FROM t ORDER BY doc_id"""))
  )

  /** Shared oracle for q104 and its streaming twin q107. Declared BEFORE
    * catalog2 (the declare-before-catalog convention all *Sql vals follow):
    * a strict val referenced from an earlier strict val in the same object
    * body reads the uninitialized field — exactly the bug that nulled q104's
    * oracle and aborted Verify in round 9. */
  private[graft] val RagChunksSql: String =
    """WITH t AS (SELECT doc_id,
           regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
         FROM documents),
       c AS (SELECT doc_id, i,
           list_slice(tk, i*24 + 1, i*24 + 32) AS ct
         FROM t, unnest(range(0,
           CASE WHEN len(tk) = 0 THEN 0
                ELSE (greatest(len(tk) - 32, 0) + 23) // 24 + 1
           END)) AS u(i))
       SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         CAST(len(ct) AS INT) AS n_tok,
         array_to_string(ct, ' ') AS chunk_text
       FROM c ORDER BY doc_id, chunk_idx"""

  /** PII redaction + repetition-ratio queries appended to the catalog. */
  val catalog2: Seq[Q] = Seq(

    // ---- PII redaction (training-data staple): emails and phone-shaped
    // tokens replaced with typed placeholders. The corpus has no PII, so a
    // deterministic synthetic contact line is appended per doc — redaction
    // then provably strips every one of them, which the oracle restates.
    Q("q38_pii_redact",
      (s, d) => piiRedactFlags(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some(PiiRedactSql)),

    // ---- repetition ratio (boilerplate/spam signal): frequency of the
    // most common token over total tokens
    Q("q39_repetition_ratio",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(round(max(col("c")) / sum(col("c")).cast("double"), 4)
          .as("rep_ratio"),
          sum(col("c")).as("n_tokens"))
        .orderBy(col("doc_id")),
      Some("""WITH e AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text),
                  '[a-z0-9]+')) AS t
                FROM documents),
              c AS (SELECT doc_id, t, count(*) AS c FROM e GROUP BY 1, 2)
              SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS rep_ratio,
              CAST(sum(c) AS BIGINT) AS n_tokens
              FROM c GROUP BY doc_id ORDER BY doc_id""")),

    // ---- cross-corpus FUZZY decontamination (q95): corpus docs that are
    // NEAR-dups of the benchmark set (doc_id % 50 = 0, q90's benchmark) at
    // jaccard ≥ 0.5 — the check that catches paraphrased eval answers the
    // exact n-gram rules (q78 membership, q90 graded overlap) let
    // through. Banded-LSH candidates (benchmark×corpus bucket collisions
    // only), exact shingle-set verify, q34's collision guarantee carried
    // over by sharing its signature pipeline and threshold. Oracle: the
    // exact cross-pair jaccard aggregation (q34c's formulation with the
    // membership predicate in place of the snapshot cut).
    Q("q95_fuzzy_decontam",
      // round 14: candidates probe the SHARED written full-corpus band
      // index (one signature sweep per JVM for the whole LSH family);
      // verification fingerprints only the candidates
      (s, d) => fuzzyDecontamFromBands(fullCorpusBandedIndex(s, d),
          Tables.load(s, d, "documents"),
          benchPred = col("doc_id") % 50 === 0, threshold = 0.5)
        .orderBy(col("doc_id")),
      Some(raw"""WITH t AS (
             SELECT doc_id, ${TrigramShinglesSql} AS sh
             FROM documents),
             e AS (SELECT doc_id, unnest(sh) AS s FROM t),
             sizes AS (SELECT doc_id, len(sh) AS sz FROM t),
             inter AS (
               SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
               FROM e a JOIN e b ON a.s = b.s
               WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
               GROUP BY 1, 2),
             pairs AS (
               SELECT id_a, ni * 1.0 / (sa.sz + sb.sz - ni) AS j
               FROM inter
               JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
               WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5)
             SELECT id_a AS doc_id, count(*) AS n_bench_hits,
               round(max(j), 4) AS max_jaccard
             FROM pairs GROUP BY id_a ORDER BY doc_id""")),

    // ---- within-doc duplicate n-gram fraction (q96): the MassiveText/
    // Gopher repetition rule — the fraction of a doc's 5-gram positions
    // whose gram occurs MORE THAN ONCE in the SAME doc. Complements the
    // family: q39's rep_ratio sees one hot token, q82 corpus-hot
    // boilerplate, q92 cross-doc verbatim runs; this is the intra-doc
    // "templated/looping text" signal the published quality pipelines
    // threshold on. Two aggregations, no join: (doc, gram) counts
    // partial-aggregate on the guard's doc_id distribution (the exploded
    // gram stream never re-shuffles), then roll up per doc.
    Q("q96_dup_ngram_fraction",
      (s, d) => {
        val k = 5
        // explode_OUTER + when-guard, not a size(tk) pre-filter — the
        // pre-filter pushes below the fan-out guard with the tokenizer
        // inlined (q92's note; the q66 lesson).
        Tables.documents(s, d)
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"),
            explode_outer(when(size(col("tk")) >= k,
              transform(sequence(lit(0), size(col("tk")) - k), i =>
                concat_ws(" ", (1 to k).map(j =>
                  element_at(col("tk"), i + lit(j))): _*)))
              .otherwise(array())).as("g"))
          .filter(col("g").isNotNull)
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_pos"),
            sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
              .as("n_dup"))
          .select(col("doc_id"), col("n_pos"), col("n_dup"),
            round(col("n_dup") / col("n_pos"), 4).as("dup_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents),
              g AS (SELECT doc_id,
                  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                  tk[i+3] || ' ' || tk[i+4] AS gram
                FROM t, unnest(range(1, len(tk)-3)) AS u(i)
                WHERE len(tk) >= 5),
              c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_pos,
                CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                  AS n_dup,
                round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 /
                  sum(c), 4) AS dup_frac
              FROM c GROUP BY doc_id ORDER BY doc_id""")),

    // ---- chunk-level dedup CLEANING (q102): the CCNet paragraph-dedup
    // recipe on a corpus without paragraph marks — split each doc's token
    // stream into consecutive 10-token chunks, drop every chunk whose
    // exact text occurs elsewhere in the corpus EXCEPT its first
    // occurrence (min (doc_id, idx)), and re-emit the cleaned text. The
    // rest of the dedup family SCORES (q82 boilerplate, q96 intra-doc,
    // q92 runs); this one TRANSFORMS — the produce step that feeds
    // training. Shape: the duplicate decision shuffles (md5, doc_id,
    // idx) — never chunk text; the keep-set rides back to the doc as a
    // sorted idx array and the text is re-assembled from the PERSISTED
    // chunk relation on the guard's doc_id distribution (the only
    // text-bearing join is doc-keyed). The occurrence stream uses
    // posexplode_OUTER — the q66 lesson: inner explode's inferred
    // size()>0 filter would push the whole chunking chain below the
    // fan-out guard and serialize it; outer infers nothing, and the
    // null row of token-less docs is filtered on the GENERATED column,
    // which cannot be pushed down.
    Q("q102_chunk_dedup_clean",
      (s, d) => {
        val w = 10
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"),
            when(size(col("tk")) === 0, array().cast("array<string>"))
              .otherwise(transform(
                sequence(lit(0),
                  ceil(size(col("tk")) / lit(w.toDouble)).cast("int") - 1),
                i => concat_ws(" ", slice(col("tk"), i * w + 1, lit(w)))))
              .as("ch"))
          .persist()
        val occ = chunks
          .select(col("doc_id"),
            posexplode_outer(col("ch")).as(Seq("idx", "chunk")))
          .filter(col("idx").isNotNull)
          .select(col("doc_id"), col("idx"), md5(col("chunk")).as("h"))
        val dup = occ.groupBy(col("h"))
          .agg(count(lit(1)).as("c"),
            min(struct(col("doc_id"), col("idx"))).as("m"))
          .filter(col("c") > 1)
          .select(col("h"), col("m.doc_id").as("m_doc"),
            col("m.idx").as("m_idx"))
        val agg = occ.join(dup, Seq("h"), "left")
          .select(col("doc_id"), col("idx"),
            (col("m_doc").isNull ||
              (col("m_doc") === col("doc_id") &&
                col("m_idx") === col("idx"))).as("keep"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
            sort_array(collect_list(when(col("keep"), col("idx"))))
              .as("kept"))
        chunks.join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            concat_ws(" ",
              transform(coalesce(col("kept"), array().cast("array<int>")),
                i => element_at(col("ch"), i + 1))).as("clean_text"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
                  regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                FROM documents),
              ch AS (SELECT doc_id, i - 1 AS idx,
                  array_to_string(
                    list_slice(tk, (i-1)*10+1, i*10), ' ') AS chunk
                FROM t, unnest(range(1,
                  CAST(ceil(len(tk)/10.0) AS INT) + 1)) AS u(i)),
              k AS (SELECT doc_id, idx, chunk,
                  row_number() OVER (PARTITION BY md5(chunk)
                    ORDER BY doc_id, idx) AS rn,
                  count(*) OVER (PARTITION BY md5(chunk)) AS c
                FROM ch),
              agg AS (SELECT doc_id, count(*) AS n_chunks,
                  sum(CASE WHEN c = 1 OR rn = 1 THEN 1 ELSE 0 END)
                    AS n_kept,
                  string_agg(chunk, ' ' ORDER BY idx)
                    FILTER (WHERE c = 1 OR rn = 1) AS clean_text
                FROM k GROUP BY 1)
              SELECT t.doc_id,
                CAST(coalesce(agg.n_chunks, 0) AS BIGINT) AS n_chunks,
                CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
                coalesce(agg.clean_text, '') AS clean_text
              FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""")),

    // ---- RAG chunking (q104): overlapping token windows (W=32 tokens,
    // stride 24 — 8-token overlap so no answer span is ever split across
    // a boundary without a copy) with stable (doc_id, chunk_idx) keys —
    // the retrieval-corpus prep step that feeds q57/q58/q88 indexing and
    // the embedding pipeline. Window starts are 0, S, 2S, …; the LAST
    // start is ceil((n-W)/S)·S, so the tail window always reaches the
    // final token and a short doc yields exactly one whole-doc chunk.
    // Pure map-side: explode_outer over the start index (the q66
    // inferred-filter lesson), slice per row, integer-exact window
    // count — zero shuffles besides the output sort.
    Q("q104_rag_chunks",
      (s, d) => ragChunks(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(RagChunksSql)),

    // ---- canonical text normalization (q153): the cleaning pass that
    // RUNS BEFORE every hash-keyed operator — exact dedup (q31), shingle
    // MinHash (q34), winnowing (q37) all key on bytes, and crawl text
    // arrives with uncomposed Unicode (e + U+0301 vs é), C0 extraction
    // residue, and CRLF/whitespace noise that defeats byte-keying. The
    // kernel is the custom codegen'd [[graft.expr.TextNormalize]]
    // expression (NFC → strip C0/DEL keeping \t\n → collapse space runs →
    // trim); see its Scaladoc for the expression-vs-UDF argument. Purely
    // map-side at any SF — the one shuffle below is the presentation sort.
    //
    // Differential-oracle design: the testdata text is clean ASCII (the
    // normalizer would be an identity on it, proving nothing), so the
    // query DIRTIES each doc deterministically in-plan — decomposed
    // accent, BEL, CRLF, tab and space runs, built identically in both
    // engines (Scala \u escapes here; chr() codepoints in DuckDB, whose
    // chr is full-Unicode while Spark's is ASCII-bounded) — and the two
    // independent NFC + regex implementations (ICU/RE2 in DuckDB, JDK in
    // the expression) must then agree byte-for-byte on every row.
    Q("q153_text_normalize",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          graft.expr.TextNormalize.textNormalize(
            concat(lit("e\u0301 \t"), col("text"),
              lit("  A\u0007B\r\n end "))).as("clean_text"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source,
                trim(regexp_replace(regexp_replace(nfc_normalize(
                  'e' || chr(769) || ' ' || chr(9) || text ||
                  '  A' || chr(7) || 'B' || chr(13) || chr(10) || ' end '),
                  '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                  '[ \t]+', ' ', 'g')) AS clean_text
              FROM documents ORDER BY doc_id"""))
  )

  /** Round-13 sketch additions: count-min frequencies (q196) and KMV
    * cross-source overlap (q198). */
  private val catalog3: Seq[Q] = Seq(

    // ---- count-min frequency sketch with RETRACTION (q196): the
    // point-frequency member of the sketch family, and the only LINEAR
    // one — q130/q134's Misra-Gries answers "which keys are heavy",
    // q191's HLL "how many distinct", q193's bottom-k "what are the
    // quantiles"; CMS answers "how often does key X occur" for ANY x
    // from d×w = 4×1024 counters, and because the sketch is a linear
    // map of the input multiset it is the one sketch that accepts
    // NEGATIVE updates (the turnstile model, Cormode & Muthukrishnan
    // 2005). That is the capability this query exercises end-to-end:
    // the snapshot sketch (shingle document-frequencies of the 80% cut)
    // is the written artifact; an increment folds in by bucket-wise SUM,
    // and a RETRACTION batch (every-9th snapshot doc — a takedown/GDPR
    // purge) folds in with negated counts. HLL cannot unsee an item and
    // Misra-Gries cannot subtract one; CMS handles the purge with one
    // sketch-sized sum, no corpus rescan. Linearity makes
    // merged ≡ full-rebuild-over-live-corpus EXACT (not approximate),
    // which the plan CHECKS bucket-for-bucket (merge_equals_full)
    // rather than assumes; estimate quality is checked against exact
    // counts (overestimates: one-sided error is the CMS theorem;
    // within_band: est − exact ≤ 4N/w by integer cross-multiplication).
    // The exact legs are the VERIFICATION machinery (one linear
    // aggregate each — the oracle's job done in-plan); the production
    // read is 32 KB of counters plus increment-sized aggregates. At
    // 100 TB: the (t, c) pre-aggregation shuffles vocabulary-sized
    // partials (never postings), the sketch fold is 4096 rows, and the
    // retraction costs the retracted slice's aggregate only.
    Q("q196_cms_frequency",
      (s, d) => {
        val sh = docsWithShingles(s, d)
        val cut = graft.schema.Cuts.documents(s, d)
        writeCmsSnapshot(s, d)
        val inc = cmsOf(shingleDfCounts(
          sh.filter(col("doc_id") >= cut)))
        val ret = cmsOf(shingleDfCounts(
          sh.filter(col("doc_id") < cut && col("doc_id") % 9 === 0)))
          .select(col("r"), col("b"), (-col("cnt")).as("cnt"))
        val live = sh
          .filter(!(col("doc_id") % 9 === 0 && col("doc_id") < cut))
        cmsVerifiedTop(live,
          s.table(CmsSketchTable).unionByName(inc).unionByName(ret))
      },
      Some(CmsLiveSql)),

    // ---- Pareto-frontier data selection (q201): the multi-criteria
    // curation primitive — the skyline of documents under two MAXIMIZED
    // integer features (token count; lexical diversity in basis points,
    // distinct·10000 div total), i.e. the docs no other doc beats on
    // both axes. Published pipelines threshold each quality signal
    // independently (q47's posture); the frontier is the principled
    // alternative when signals trade off — nothing below it can belong
    // to any monotone-utility optimum. Algorithm: the naive definition
    // is the O(n²) NOT-EXISTS (the oracle); in-plan it is (1) a GRID
    // PRE-PRUNE — 256 fixed-width a-buckets, per-bucket max b, running
    // max over strictly-higher buckets broadcast back: any point with
    // b ≤ that threshold is dominated by a point in a higher bucket
    // (whose a is strictly greater by bucket disjointness) and drops
    // map-side — then (2) the oracle's NOT-EXISTS dominance test run
    // verbatim as a broadcast LEFT ANTI self-join over the SURVIVORS,
    // affordable only because the survivor set is prune-bounded
    // (≤ distinct-b-above-threshold per bucket; 256-row bucket stats
    // at any corpus size). The prune is lossless by construction — a
    // true skyline point's b exceeds every higher bucket's max — and
    // the oracle proves it per corpus.
    Q("q201_pareto_frontier",
      (s, d) => {
        paretoFrontier2D(
          docAxes(Tables.documents(s, d)).select(col("a"), col("b")))
          .select(col("a").as("n_tokens"), col("b").as("diversity_bp"),
            col("n_docs"))
          .orderBy(col("n_tokens"), col("diversity_bp"))
      },
      Some(ParetoSql)),

    // ---- incremental Pareto-frontier maintenance (q203): the frontier
    // is MERGEABLE — frontier(A ∪ B) = frontier(frontier(A) ∪ B) by
    // dominance transitivity (a non-frontier point's dominator stays in
    // the merged input), and counts survive because a merged-frontier
    // point is necessarily on its own side's frontier. So the written
    // artifact is frontier-sized (a handful of (a, b, n_docs) rows, not
    // the corpus), an increment folds in with one frontier pass over
    // stored ∪ increment-counts, and the serve equals a full rebuild —
    // which the plan CHECKS point-for-point, counts included
    // (merge_equals_full), rather than assumes. The same posture as the
    // sketch maintainers (q191/q193/q196) for an operator that is not a
    // sketch: the frontier is an EXACT summary with a merge identity.
    Q("q203_pareto_maintain",
      (s, d) => {
        val ax = RunScope.own(docAxes(Tables.documents(s, d))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val cut = graft.schema.Cuts.documents(s, d)
        writeParetoSnapshot(s, d)
        val inc = ax.filter(col("doc_id") >= cut)
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_docs"))
        paretoVerifiedReport(
          frontierOfCounts(s.table(ParetoTable).unionByName(inc)), ax)
      },
      Some(ParetoMaintSql)),

    // ---- KMV cross-source overlap estimate (q198): vocabulary overlap
    // between source pairs from k-minimum-values signatures (Bar-Yossef
    // et al. 2002; the "theta sketch" set algebra) — the SET-INTERSECTION
    // member of the sketch family. q185 measures near-dup PAIR overlap
    // between sources; this measures shared VOCABULARY (Jaccard of
    // distinct-shingle sets), the redundancy signal that says two crawl
    // sources are re-serving the same content domain. Per source the
    // state is the k = 256 smallest md5-hashes of its distinct shingles
    // (one TopKByScore partial-aggregating pass — map slices reduce to
    // ≤ k rows before the exchange, the q193 discipline, 2 KB/source);
    // a pair's Jaccard estimate is the match fraction inside the
    // UNION's bottom-k (the standard KMV estimator m/k, stderr
    // ~ sqrt(J(1−J)/k) ≈ 3% here). Verification in-plan: the exact
    // per-pair Jaccard over the full posting sets (the oracle's
    // formulation — one shingle-keyed self-join) bounds every estimate
    // inside ±0.12 (4σ), and the bottom-k merge identity — bottom-k of
    // a union equals bottom-k of the union of per-side bottom-ks, a set
    // identity, no randomness — is CHECKED against a full-corpus rebuild
    // (merge_equals_full). At 100 TB the exact leg is verification
    // machinery; production keeps k·S rows of state and answers all
    // S² pair overlaps from signatures alone, never re-touching text.
    Q("q198_kmv_overlap",
      (s, d) => {
        // EAGER checkpoint (the q210 broadcast-race rule): the verify
        // composition consumes this relation from five subtrees, several
        // of them concurrently-executing broadcast exchanges — a lazy
        // persist lets them race the first materialization and re-run
        // the tokenize+shingle+distinct derivation in parallel.
        val posts = RunScope.checkpoint(docsWithShingles(s, d)
          .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
            Seq("doc_id"))
          .select(col("source"), explode(col("sh")).as("t"))
          .distinct()
          .select(col("source"), col("t"), kmvHash(col("t")).as("h")))
        kmvVerifiedOverlap(posts)
      },
      Some(KmvOverlapSql))
  )

  // --------------------------------------------------------------------
  // q196/q197 count-min machinery, shared so the retraction-capable
  // maintainer and the streaming gate cannot drift (the q191/q192
  // pattern): the (t, c) shingle-df aggregation, the d×w sketch fold,
  // the written snapshot artifact, and the verified-estimate serve.
  // --------------------------------------------------------------------

  private[graft] val CmsSketchTable = "graft_cms_shingle_sketch"
  private[graft] val CmsD = 4
  private[graft] val CmsW = 1024L

  /** Per-shingle document frequency of a (doc_id, sh) relation slice —
    * (t, c). The explode's shuffle carries vocabulary-sized partials
    * (partial+final count agg), never the posting stream. */
  private[graft] def shingleDfCounts(docs: DataFrame): DataFrame =
    docs.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))

  /** CMS rows of a (t, c) relation: (r, b, cnt), ≤ d·w rows. Row-r's
    * hash is xxhash64(t, r) mod w — engine-local is fine, the sketch
    * never crosses engines (invariants are checked in-plan and pinned
    * in the oracle). */
  private[graft] def cmsOf(tc: DataFrame): DataFrame =
    tc.select(explode(sequence(lit(0), lit(CmsD - 1))).as("r"),
        col("t"), col("c"))
      .select(col("r"),
        pmod(xxhash64(col("t"), col("r")), lit(CmsW)).cast("int").as("b"),
        col("c"))
      .groupBy(col("r"), col("b")).agg(sum(col("c")).as("cnt"))

  /** Bucket-wise sum of stacked CMS relations — the linear merge. */
  private[graft] def cmsSummed(sks: DataFrame): DataFrame =
    sks.groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cnt"))

  /** Write the snapshot (doc_id < 80% cut) CMS once per JVM (build-once
    * artifact; the bench records the first builder's build_sec). */
  private[graft] def writeCmsSnapshot(s: SparkSession, d: String): Unit =
    ArtifactCache.once(CmsSketchTable,
      graft.schema.Cuts.artifactTag(d, "documents", s"cut0.8|cms${CmsD}x$CmsW")) {
      val cut = graft.schema.Cuts.documents(s, d)
      Tables.resetManagedTable(s, CmsSketchTable)
      cmsOf(shingleDfCounts(docsWithShingles(s, d)
          .filter(col("doc_id") < cut)))
        .write.mode("overwrite").saveAsTable(CmsSketchTable)
    }

  /** Top-20 live-corpus shingles by exact document frequency, with the
    * three in-plan sketch invariants: merge_equals_full (bucket-for-
    * bucket vs a rebuild over `live` — exact by linearity),
    * overestimates (CMS one-sided error theorem, checked), within_band
    * (est − exact ≤ 4N/w, integer cross-multiplication). `live` is the
    * (doc_id, sh) relation the merged sketch should equal. */
  private[graft] def cmsVerifiedTop(live: DataFrame,
      sketches: DataFrame): DataFrame = {
    // EAGER checkpoints, not lazy persists (the q210 broadcast-race
    // rule): the serve plan fans the probe side plus THREE broadcast
    // subtrees (merged sketch, merge-mismatch check, total count) off
    // these two relations, and the broadcast exchanges execute
    // concurrently — against a lazy cache they race the first
    // materialization and re-run the live-corpus tokenize+shingle+count
    // pass (tc) in parallel.
    val tc = RunScope.checkpoint(shingleDfCounts(live))
    val merged = RunScope.checkpoint(cmsSummed(sketches))
    val mism = merged.select(col("r"), col("b"), col("cnt").as("cm"))
      .join(cmsOf(tc).select(col("r"), col("b"), col("cnt").as("cf")),
        Seq("r", "b"), "full_outer")
      .agg(sum(when(coalesce(col("cm"), lit(0L)) =!=
        coalesce(col("cf"), lit(0L)), 1L).otherwise(0L)).as("n_bad"))
    val tot = tc.agg(sum(col("c")).as("n_tot"))
    val probes = tc.orderBy(col("c").desc, col("t")).limit(20)
    probes
      .select(col("t"), col("c"),
        explode(sequence(lit(0), lit(CmsD - 1))).as("r"))
      .select(col("t"), col("c"), col("r"),
        pmod(xxhash64(col("t"), col("r")), lit(CmsW)).cast("int").as("b"))
      .join(broadcast(merged), Seq("r", "b"), "left_outer")
      .groupBy(col("t"), col("c"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .crossJoin(broadcast(mism))
      .crossJoin(broadcast(tot))
      .select(col("t").as("shingle"), col("c").as("n_exact"),
        (col("n_bad") === 0).as("merge_equals_full"),
        (col("est") >= col("c")).as("overestimates"),
        ((col("est") - col("c")) * lit(CmsW) <= col("n_tot") * lit(4L))
          .as("within_band"))
      .orderBy(col("n_exact").desc, col("shingle"))
  }

  /** q196's oracle — exact top-20 shingle document frequencies over the
    * LIVE corpus (snapshot minus the every-9th retraction, plus the
    * increment) with the three in-plan invariants pinned TRUE. LAZY:
    * referenced from catalog3 during object init (the q191 lesson). */
  private[graft] lazy val CmsLiveSql =
    raw"""WITH cut AS (SELECT CAST(floor((max(doc_id) + 1) * 0.8) AS BIGINT)
         AS cut FROM documents),
       t AS (SELECT doc_id, ${TrigramShinglesSql} AS sh
         FROM documents, cut
         WHERE NOT (doc_id % 9 = 0 AND doc_id < cut.cut)),
       e AS (SELECT unnest(sh) AS s FROM t),
       c AS (SELECT s, count(*) AS n_exact FROM e GROUP BY 1)
       SELECT s AS shingle, CAST(n_exact AS BIGINT) AS n_exact,
         true AS merge_equals_full, true AS overestimates,
         true AS within_band
       FROM c ORDER BY n_exact DESC, shingle LIMIT 20"""

  /** q197's oracle — the same report over the FULL corpus (snapshot ∪
    * streamed arrivals, no retraction). */
  private[graft] lazy val CmsFullSql =
    raw"""WITH t AS (SELECT doc_id, ${TrigramShinglesSql} AS sh
         FROM documents),
       e AS (SELECT unnest(sh) AS s FROM t),
       c AS (SELECT s, count(*) AS n_exact FROM e GROUP BY 1)
       SELECT s AS shingle, CAST(n_exact AS BIGINT) AS n_exact,
         true AS merge_equals_full, true AS overestimates,
         true AS within_band
       FROM c ORDER BY n_exact DESC, shingle LIMIT 20"""

  // --------------------------------------------------------------------
  // q201 Pareto machinery.
  // --------------------------------------------------------------------

  /** 2-D skyline (both axes MAXIMIZED) of an integer (a, b) relation,
    * with multiplicity: output (a, b, n_docs) — the distinct frontier
    * points. Grid pre-prune (lossless, see q201's scaladoc) + exact
    * dominance anti-join over the survivors. */
  private[graft] def paretoFrontier2D(pts: DataFrame): DataFrame =
    frontierOfCounts(
      pts.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_docs")))

  /** [[paretoFrontier2D]]'s core over a pre-counted (a, b, n_docs)
    * relation — the MERGEABLE form: frontier(A ∪ B) =
    * frontier(frontier(A) ∪ B) is a theorem (dominance is transitive:
    * a point of A absent from frontier(A) has a dominator that stays in
    * the merged input), and counts survive because a merged-frontier
    * point is necessarily on its own side's frontier, so its stored
    * count is exact. Identical (a, b) points across inputs SUM their
    * counts first — the maintainer/stream legs (q203/q204) feed
    * stored-frontier ∪ increment rows here. */
  private[graft] def frontierOfCounts(pc: DataFrame): DataFrame =
    RunScope.keyed("TextOps.frontierOfCounts") {
    // EAGERLY checkpointed because the plan reads it THREE times (the
    // min/max stats — a broadcast subtree that executes concurrently
    // with the main stream — the bucketed relation, and via bmax the
    // threshold join); a lazy cache lets those subtrees RACE the first
    // materialization and re-run the upstream corpus tokenization in
    // parallel (the q210 broadcast-race rule; the r13 driver bench read
    // q201 at 5× idle under exactly this recompute). MEMORY_AND_DISK:
    // distinct (a, b) points, ≪ corpus, and an evicted checkpoint block
    // would be unrecoverable under MEMORY_ONLY (ADVICE r14 #1).
    val p = RunScope.checkpoint(pc.groupBy(col("a"), col("b"))
      .agg(sum(col("n_docs")).as("n_docs")))
    val mm = p.agg(min(col("a")).as("a0"), max(col("a")).as("a1"))
    val bucketed = p.crossJoin(broadcast(mm))
      .withColumn("bk",
        when(col("a1") > col("a0"),
          expr("(a - a0) * 256L div (a1 - a0 + 1)")).otherwise(lit(0L)))
      .drop("a0", "a1")
    // per-bucket max b, then the max over STRICTLY higher buckets as a
    // stats-sized self-join (≤ 256² rows — NOT a global window; the
    // catalog-wide plan audit bans partition-less Window for good
    // reason, and the bucket stats are small enough to join outright)
    val bmax = bucketed.groupBy(col("bk")).agg(max(col("b")).as("mb"))
    val thr = bmax.select(col("bk"))
      .join(bmax.select(col("bk").as("bk2"), col("mb")),
        col("bk2") > col("bk"), "left_outer")
      .groupBy(col("bk")).agg(max(col("mb")).as("thr"))
    // eager for the same reason: the anti-join's broadcast side would
    // otherwise race the probe side and recompute the whole prune chain
    val survivors = RunScope.checkpoint(
      bucketed.join(broadcast(thr), Seq("bk"))
        .filter(col("thr").isNull || col("thr") < col("b")))
    // exact dominance over the pruned set as a broadcast LEFT ANTI
    // self-join — the oracle's NOT EXISTS verbatim, paid only on the
    // prune-bounded survivor set (|S|² worst-case is the honest cost;
    // the grid prune is what keeps S frontier-sized)
    survivors.as("p").join(broadcast(survivors.as("q")),
        col("q.a") >= col("p.a") && col("q.b") >= col("p.b") &&
          (col("q.a") > col("p.a") || col("q.b") > col("p.b")),
        "left_anti")
      .select(col("a"), col("b"), col("n_docs"))
  }

  private[graft] val ParetoTable = "graft_pareto_frontier"

  /** Per-doc skyline axes: (doc_id, a = token count, b = lexical
    * diversity in basis points). Shared by q201/q203/q204. */
  private[graft] def docAxes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("a"),
        size(array_distinct(col("tk"))).cast("long").as("nd"),
        size(col("tk")).cast("long").as("nt"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("a"), expr("nd * 10000L div nt").as("b"))

  /** Write the snapshot (doc_id < 80% cut) frontier once per JVM — the
    * maintainer family's artifact: frontier-sized (a, b, n_docs) rows,
    * not the corpus. */
  private[graft] def writeParetoSnapshot(s: SparkSession, d: String): Unit =
    ArtifactCache.once(ParetoTable,
      graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|pareto256")) {
      val cut = graft.schema.Cuts.documents(s, d)
      Tables.resetManagedTable(s, ParetoTable)
      paretoFrontier2D(docAxes(Tables.documents(s, d))
          .filter(col("doc_id") < cut)
          .select(col("a"), col("b")))
        .write.mode("overwrite").saveAsTable(ParetoTable)
    }

  /** Merged-frontier report with the merge theorem CHECKED: the merged
    * frontier compared point-for-point (counts included) against a
    * full rebuild over `ax` — frontier(frontier(A) ∪ B) ≡ frontier(A∪B)
    * is a theorem (see [[frontierOfCounts]]), and the plan verifies it
    * rather than assumes it (the q191/q193/q196 discipline).
    *
    * The full rebuild re-tokenizes the whole corpus — exactly the cost
    * the frontier-sized artifact exists to avoid — so it runs under the
    * [[Gates]] posture (VERDICT r13 #2, the q41/q44 convention):
    * in-plan at oracle scale, skipped above [[Gates.MaxRows]] with
    * the machine-readable `verified = false` sentinel (the
    * merge_equals_full column then reports the theorem, not a
    * measurement; the spec tier re-proves it on purpose-built corpora
    * for all sizes). */
  private[graft] def paretoVerifiedReport(merged: DataFrame,
      ax: DataFrame): DataFrame = {
    val m = RunScope.own(merged
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    if (Gates.verifyInPlan(ax)) {
      val full = paretoFrontier2D(ax.select(col("a"), col("b")))
      val mism = m.select(col("a"), col("b"), col("n_docs").as("nm"))
        .join(full.select(col("a"), col("b"), col("n_docs").as("nf")),
          Seq("a", "b"), "full_outer")
        .agg(sum(when(coalesce(col("nm"), lit(-1L)) =!=
          coalesce(col("nf"), lit(-1L)), 1L).otherwise(0L)).as("n_bad"))
      m.crossJoin(broadcast(mism))
        .select(col("a").as("n_tokens"), col("b").as("diversity_bp"),
          col("n_docs"), (col("n_bad") === 0).as("merge_equals_full"),
          lit(true).as("verified"))
        .orderBy(col("n_tokens"), col("diversity_bp"))
    } else
      m.select(col("a").as("n_tokens"), col("b").as("diversity_bp"),
        col("n_docs"), lit(true).as("merge_equals_full"),
        lit(false).as("verified"))
        .orderBy(col("n_tokens"), col("diversity_bp"))
  }

  /** q203/q204's shared oracle — q201's NOT-EXISTS skyline over the
    * full corpus with the merge invariant pinned TRUE. `verified`
    * mirrors the engine's Gates.verifyInPlan exactly (the q41
    * convention): true iff the corpus is within the in-plan verification
    * gate. */
  private[graft] lazy val ParetoMaintSql =
    """WITH f AS (SELECT
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt,
         len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
           AS nd
       FROM documents
       WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
       p AS (SELECT nt AS a, (nd * 10000) // nt AS b, count(*) AS n_docs
         FROM f GROUP BY 1, 2),
       sky AS (SELECT * FROM p WHERE NOT EXISTS (
         SELECT 1 FROM p q WHERE q.a >= p.a AND q.b >= p.b
           AND (q.a > p.a OR q.b > p.b)))
       SELECT CAST(a AS BIGINT) AS n_tokens, CAST(b AS BIGINT)
         AS diversity_bp, n_docs, true AS merge_equals_full,
         (SELECT count(*) FROM f) <= 1000 AS verified
       FROM sky ORDER BY n_tokens, diversity_bp"""

  /** q201's oracle — the O(n²) NOT-EXISTS skyline definition, proving
    * the grid prune lossless on the real corpus. */
  private[graft] lazy val ParetoSql =
    """WITH f AS (SELECT
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt,
         len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
           AS nd
       FROM documents
       WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
       p AS (SELECT nt AS a, (nd * 10000) // nt AS b, count(*) AS n_docs
         FROM f GROUP BY 1, 2),
       sky AS (SELECT * FROM p WHERE NOT EXISTS (
         SELECT 1 FROM p q WHERE q.a >= p.a AND q.b >= p.b
           AND (q.a > p.a OR q.b > p.b)))
       SELECT CAST(a AS BIGINT) AS n_tokens, CAST(b AS BIGINT)
         AS diversity_bp, n_docs
       FROM sky ORDER BY n_tokens, diversity_bp"""

  // --------------------------------------------------------------------
  // q198 KMV machinery.
  // --------------------------------------------------------------------

  private[graft] val KmvK = 256

  /** 52-bit uniform hash — first 13 hex chars of md5 as a BIGINT (the
    * q89/q132/q193 uniform-draw discipline; < 2^52 so the double cast
    * inside TopKByScore is exact). */
  private[graft] def kmvHash(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  /** Per-source bottom-k signatures of a distinct (source, h) posting
    * relation, one TopKByScore partial-aggregating pass (score = −h). */
  private[graft] def kmvSignatures(posts: DataFrame): DataFrame =
    posts.groupBy(col("source"))
      .agg(graft.expr.TopKAgg.topK(KmvK)(
        -col("h").cast("double"), col("h")).as("sel"))
      .select(col("source"), explode(col("sel")).as("s"))
      .select(col("source"), col("s.id").as("h"))

  /** Pairwise overlap report from `posts` (source, t, h — distinct per
    * source): exact Jaccard per pair on SHINGLE TEXT (the verification
    * leg — exact, no hash-collision exposure), KMV estimate from
    * signatures, ±0.12 band check, and the global bottom-k merge
    * identity checked against a full-corpus rebuild. */
  private[graft] def kmvVerifiedOverlap(posts: DataFrame): DataFrame = {
    // EAGER checkpoint, not a lazy persist (the q210 broadcast-race rule):
    // three broadcast subtrees of the final plan (the source pairs, the
    // per-pair union stream, the merge-identity check) all derive from
    // `sig` and execute concurrently — against a lazy cache they race its
    // first materialization and re-run the TopKByScore signature pass
    // over the full posting relation in parallel.
    val sig = RunScope.checkpoint(kmvSignatures(posts))
    val sizes = posts.groupBy(col("source")).agg(count(lit(1)).as("z"))
    val inter = posts.select(col("source").as("sa"), col("t"))
      .join(posts.select(col("source").as("sb"), col("t")), Seq("t"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("ni"))
    // per-pair union stream over SIGNATURES only (sketch-sized): rank the
    // union's hashes, keep bottom-k, count hashes present on both sides
    // (countDistinct(src) — a within-source 52-bit collision must not
    // fake a cross-source match)
    // both expansions are sketch-sized (S source names; S·k signature
    // rows) — broadcast so they plan as BNL joins, never a shuffled
    // CartesianProduct (the catalog-wide plan audit's rule)
    val srcs = sig.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(broadcast(srcs.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb"))
    val unionStream = pairs.join(
        broadcast(sig.withColumnRenamed("source", "src")),
        col("src") === col("sa") || col("src") === col("sb"))
    val wPair = Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))
    val est = unionStream
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg((countDistinct(col("src")) === 2).as("both"))
      .withColumn("rn", row_number().over(wPair))
      .filter(col("rn") <= KmvK)
      .groupBy(col("sa"), col("sb"))
      .agg(sum(when(col("both"), 1L).otherwise(0L)).as("m"),
        count(lit(1)).as("ku"))
    // merge identity, checked globally: bottom-k of the union of per-
    // source signatures == bottom-k of the full distinct-hash corpus
    val mergedCorpus = sig.select(col("h")).distinct()
      .orderBy(col("h")).limit(KmvK)
      .select(col("h"), lit(1).as("x"))
    val fullCorpus = posts.select(col("h")).distinct()
      .orderBy(col("h")).limit(KmvK)
      .select(col("h"), lit(1).as("y"))
    val mm = mergedCorpus.join(fullCorpus, Seq("h"), "full_outer")
      .agg(sum(when(col("x").isNull || col("y").isNull, 1L)
        .otherwise(0L)).as("n_bad"))
    inter
      .join(sizes.select(col("source").as("sa"), col("z").as("za")), "sa")
      .join(sizes.select(col("source").as("sb"), col("z").as("zb")), "sb")
      .withColumn("j_exact", col("ni") /
        (col("za") + col("zb") - col("ni")).cast("double"))
      .join(est, Seq("sa", "sb"))
      .crossJoin(broadcast(mm))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        round(col("j_exact"), 4).as("j_exact"),
        (abs(col("m") / col("ku").cast("double") - col("j_exact"))
          <= 0.12).as("within_band"),
        (col("n_bad") === 0).as("merge_equals_full"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q198's oracle — exact per-pair distinct-shingle Jaccard with the
    * two in-plan sketch invariants pinned TRUE. */
  private[graft] lazy val KmvOverlapSql =
    raw"""WITH t AS (SELECT doc_id, source, ${TrigramShinglesSql} AS sh
         FROM documents),
       p AS (SELECT DISTINCT source, s
             FROM (SELECT source, unnest(sh) AS s FROM t)),
       sz AS (SELECT source, count(*) AS z FROM p GROUP BY 1),
       inter AS (SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS ni
         FROM p a JOIN p b ON a.s = b.s AND a.source < b.source
         GROUP BY 1, 2)
       SELECT src_a, src_b,
         round(ni * 1.0 / (za.z + zb.z - ni), 4) AS j_exact,
         true AS within_band, true AS merge_equals_full
       FROM inter
       JOIN sz za ON za.source = src_a
       JOIN sz zb ON zb.source = src_b
       ORDER BY src_a, src_b"""

  /** q104's chunking Column tree, factored so the streaming twin (q107)
    * runs the SAME transform on a stream — one rule, two engine paths
    * (the q47/q67, q38/q68 precedent). Stateless map-side: explode over
    * the window-start index, slice per row; safe in append mode. */
  private[graft] def ragChunks(df: DataFrame): DataFrame = {
    val w = 32; val st = 24
    df.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      .select(col("doc_id"), col("tk"),
        explode_outer(when(col("n") > 0,
          sequence(lit(0), expr(
            s"(greatest(n - $w, 0) + ${st - 1}) div $st").cast("int")))
          .otherwise(array())).as("i"))
      .filter(col("i").isNotNull)
      .select(col("doc_id"), col("i").as("chunk_idx"),
        slice(col("tk"), col("i") * st + 1, lit(w)).as("ct"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ct")).as("n_tok"),
        concat_ws(" ", col("ct")).as("chunk_text"))
  }

  /** Exact pairwise Jaccard ≥ threshold between two shingled doc sets via
    * inverted index. Columns: (doc_id, sh: [[fingerprints]]) on both
    * sides, so the inverted-index shuffle ships (id, 8 bytes) per posting;
    * emits (id_a, id_b, jaccard) with id_a < id_b when both sides are the
    * same dataset. At scale, cap shingle document-frequency first
    * (stop-shingle removal) to bound the inverted-index fanout.
    */
  def exactJaccardPairs(left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame = {
    val e1 = left.select(col("doc_id").as("id_a"), explode(col("sh")).as("s"))
    val e2 = right.select(col("doc_id").as("id_b"), explode(col("sh")).as("s"))
    val inter = e1.join(e2, e1("s") === e2("s") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
    val sizes = left.select(col("doc_id"), size(col("sh")).as("sz"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("ni") / (col("sz_a") + col("sz_b") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact-Jaccard verification of candidate pairs against the FULL
    * shingle sets: fetch both arrays (only for the candidates — rare by
    * construction), intersect, threshold. Shared by the LSH and the
    * capped-index candidate generators: whatever pruning produced the
    * candidates, the emitted (pair, jaccard) values are computed from
    * untouched shingle sets. */
  private[graft] def verifyJaccardCandidates(cand: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("ni") /
        (size(col("sh_a")) + size(col("sh_b")) - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The stop-shingle cap drops shingles with df > dfCap ("hot") from
    * candidate generation, bounding every posting list — and so the
    * inverted index's per-key fanout (df², the quadratic term) — by a
    * constant. Callers verify surviving pairs against FULL shingle sets,
    * so output is unchanged provided every qualifying pair shares a
    * below-cap shingle (TextOpsSpec asserts capped ≡ uncapped; the sf0.01
    * oracle re-proves it). The one family that violates this —
    * (dfCap+1)-plus-way duplicate classes, every shared shingle hot —
    * is covered by the DfFloor rescue (ADVICE r4): a doc with fewer than
    * DfFloor cold shingles tops up with its hot ones ranked by
    * (df asc, s asc), so all members of an identical class keep the SAME
    * rescued shingles and still collide. The cap, the rescue and the
    * banding run as ONE per-row kernel ([[graft.expr.MinHashExprs]]). */
  private[graft] val DfFloor = 8

  /** The over-cap (s, _df) list of `docs`' shingles, collected on the
    * driver: composing a capped plan runs this ONE job. */
  private def hotOf(docs: DataFrame, dfCap: Int): HotShingles =
    if (dfCap == Int.MaxValue) HotShingles.empty
    else HotShingles.collect(docs.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > dfCap))

  /** Exact pairwise Jaccard with stop-shingle candidate pruning.
    *
    * The capped inverted index yields candidate pairs and their LOW-DF
    * intersection count in one aggregate (exactly the uncapped
    * formulation's shape, just over bounded posting lists). The true
    * intersection additionally contains at most min(hot_a, hot_b) capped
    * shingles, giving a cheap per-pair UPPER BOUND on jaccard — only
    * pairs whose bound clears the threshold fetch full shingle arrays for
    * exact verification (emitted pairs are ~threshold-survivors, so the
    * array join touches a negligible row count; everything else is
    * decided from counts alone). At 100 TB the uncapped index's hottest
    * shingle joins df² pairs through one key — the cap turns the worst
    * key from corpus-sized into a constant.
    * Input: (doc_id, sh). Output: (id_a, id_b, jaccard), id_a < id_b. */
  /** Exact-threshold Jaccard pairs via prefix filtering (q186). `docs` is
    * (doc_id, sh); returns (id_a, id_b, jaccard) for J ≥ `threshold`,
    * id_a < id_b — identical output contract to
    * [[exactJaccardPairsCapped]], different completeness argument (a
    * theorem, not a per-corpus proof; see the q186 catalog comment).
    *
    * Plan shape: one corpus-sized shuffle keys the posting stream by
    * token for the df aggregate; the df join + per-doc rarity ranking
    * reuse that keyed stream; the prefix filter then drops the
    * (1 − τ)-tail of every posting list BEFORE the bucket expansion, so
    * the quadratic part runs over rare-token buckets only. The rank
    * window partitions by doc_id (never partition-less — PlanAuditSpec).
    * Verification reads the candidates' rows of `docs` (the persisted
    * [[fingerprints]] relation), restricted once and persisted. */
  def prefixFilterJaccardPairs(docs: DataFrame,
      threshold: Double): DataFrame = {
    val posts = docs
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
    val dfRel = posts.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // global total order by (df asc, token asc): rarest first, ties
    // broken deterministically so both endpoints of a pair rank their
    // common tokens identically — the property the theorem needs
    val rarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("s"))
    val prefix = posts.join(dfRel, Seq("s"))
      .withColumn("rn", row_number().over(rarity))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("s"), col("df"), col("doc_id"), col("sz"), col("rn"))
    // bucket expansion as ONE aggregation (the q35 shape), with the
    // τ·max ≤ min length filter applied inside the expansion; the
    // re-spread after the size filter keeps the quadratic stage wide
    // (AQE sizes it by collect_set BYTES, not pair fanout; round 18
    // measured the cores-pinned width SLOWER here — 4.43 → 5.15 s —
    // same finding as the q35 respread, so the bare form stays)
    val collisions = prefix.groupBy(col("s"), col("df"))
      .agg(collect_set(struct(col("doc_id"), col("sz"), col("rn")))
        .as("ids"))
      .filter(size(col("ids")) > 1)
      .repartition(col("s"))
      .select(col("s"), col("df"), explode(col("ids")).as("a"), col("ids"))
      .select(col("s"), col("df"),
        col("a.doc_id").as("id_a"), col("a.sz").as("sz_a"),
        col("a.rn").as("rn_a"),
        explode(filter(col("ids"),
          x => x("doc_id") > col("a.doc_id"))).as("b"))
      .select(col("s"), col("df"), col("id_a"), col("sz_a"), col("rn_a"),
        col("b.doc_id").as("id_b"), col("b.sz").as("sz_b"),
        col("b.rn").as("rn_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        greatest(col("sz_a"), col("sz_b")) * threshold)
    // PPJoin's positional filter (Xiao et al.): per pair, the FIRST
    // common token in the global (df, s) order — which is provably the
    // pair's globally-first common token outright: any earlier common
    // token would rank inside both prefixes and collide first — leaves
    // at most 1 + min(sz_a − rn_a, sz_b − rn_b) tokens that can still be
    // common, and J ≥ τ needs overlap·(1+τ) ≥ τ·(sz_a + sz_b). This is
    // the candidate killer: collision buckets pair docs that share ONE
    // rare token, the bound demands they could still share ~a third of
    // their shingles — measured at sf0.1 it cuts 310k candidates to the
    // order of the true pair set before the verify joins run.
    val cand = collisions
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(struct(col("df"), col("s"), col("rn_a"), col("rn_b"),
        col("sz_a"), col("sz_b"))).as("m"))
      .filter((lit(1) +
        least(col("m.sz_a") - col("m.rn_a"), col("m.sz_b") - col("m.rn_b")))
        .cast("double") * (1.0 + threshold) >=
        (col("m.sz_a") + col("m.sz_b")) * threshold)
      .select(col("id_a"), col("id_b"))
      .persist()
    verifyJaccardCandidates(cand, candidateRows(docs, cand).persist(),
      threshold)
  }

  /** The q191/q192 sketch machinery, shared so the incremental and
    * streaming legs cannot drift: the (lang, doc_id, shingle) posting
    * stream, the written snapshot sketch artifact (per-lang DataSketches
    * HLL, lgK=12), and the verified-estimate serve shape (merged
    * sketches checked against a full rebuild AND a 5% exact-count band,
    * both emitted as oracle-hashed booleans). */
  private[graft] val HllSketchTable = "graft_hll_shingle_sketch"

  /** The q191/q192 oracle — exact per-lang distinct-shingle counts with
    * both in-plan sketch invariants pinned TRUE (one rule, two engine
    * paths: batch-incremental and streamed). LAZY because the catalog
    * val above references it during object init, before declaration
    * order reaches this line — an eager val would capture null into
    * q191's oracle (exactly the bug a rows-only CORRECTNESS row would
    * have surfaced a round late). */
  private[graft] lazy val HllVocabSql =
    raw"""WITH t AS (
       SELECT lang, ${TrigramShinglesSql} AS sh
       FROM documents),
       e AS (SELECT lang, unnest(sh) AS s FROM t)
       SELECT lang, count(DISTINCT s) AS n_exact,
         true AS merge_equals_full, true AS within_5pct
       FROM e GROUP BY lang ORDER BY lang"""

  private[graft] def langShinglePosts(s: SparkSession,
      d: String): DataFrame =
    docsWithShingles(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("lang"), col("doc_id"), explode(col("sh")).as("t"))

  private[graft] def writeHllShingleSketch(s: SparkSession,
      d: String): Unit =
    ArtifactCache.once(HllSketchTable, graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|hll12")) {
      val cut = graft.schema.Cuts.documents(s, d)
      Tables.resetManagedTable(s, HllSketchTable)
      langShinglePosts(s, d).filter(col("doc_id") < cut)
        .groupBy(col("lang"))
        .agg(hll_sketch_agg(col("t"), 12).as("sk"))
        .write.mode("overwrite").saveAsTable(HllSketchTable)
    }

  /** Union `sketches` (lang, sk — any number of rows per lang) and emit
    * per-lang (n_exact, merge_equals_full, within_5pct) against a full
    * rebuild over `posts` — the exact/full legs are the VERIFICATION
    * machinery (one linear aggregate each, the oracle's job done
    * in-plan); production reads stop at the union. */
  private[graft] def hllVerifiedEstimates(s: SparkSession, posts: DataFrame,
      sketches: DataFrame): DataFrame = {
    val merged = sketches
      .groupBy(col("lang"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
        .as("est_m"))
    // TWO separate aggregation passes, deliberately (round 15: a
    // single-pass mixed countDistinct + sketch aggregate measured
    // cheaper but FAILED merge_equals_full at sf0.01 — the distinct
    // rewrite's Expand changes the partial-merge shape, and a
    // DataSketches HLL ESTIMATE depends on the sketch's build/merge
    // path, not only on the item set; est_m === est_f holds only
    // because both sides build their sketches under the same plan
    // shape). The second tokenize pass is the price of a bitwise
    // invariant.
    val fullSk = posts.groupBy(col("lang"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("t"), 12)).as("est_f"))
    val exact = posts.groupBy(col("lang"))
      .agg(countDistinct(col("t")).as("n_exact"))
    exact.join(merged, Seq("lang")).join(fullSk, Seq("lang"))
      .select(col("lang"), col("n_exact"),
        (col("est_m") === col("est_f")).as("merge_equals_full"),
        (abs(col("est_m") - col("n_exact")) * 20 <= col("n_exact"))
          .as("within_5pct"))
      .orderBy(col("lang"))
  }

  /** Exact-threshold CONTAINMENT pairs (q190): c(a,b) = |a∩b| /
    * min(|a|,|b|) ≥ `threshold`, id_a < id_b — the asymmetric near-SUBSET
    * relation the whole Jaccard family is blind to (a short article
    * embedded verbatim in a long aggregator page has high containment and
    * LOW Jaccard, because the union is dominated by the page).
    *
    * Candidate scheme: probe-prefix vs FULL index (the published
    * containment/overlap-join adaptation of prefix filtering — the
    * symmetric prefix×prefix trick is unsound here because the larger
    * doc's required prefix would depend on its partner's size). Each doc
    * probes with its p = sz − ceil(τ·sz) + 1 rarest tokens against the
    * full posting stream: if c ≥ τ and m is the smaller doc, the pair
    * shares ≥ ceil(τ·sz_m) tokens, and missing m's whole prefix caps the
    * shared count at sz_m − p_m = ceil(τ·sz_m) − 1 — so the smaller
    * doc's prefix always collides and generating from BOTH sides is
    * doubly safe. Fanout honesty: a probe prefix token joins its FULL
    * posting list, so a corpus-hot token inside some doc's prefix costs
    * its df — rarity ordering makes that the rarest-available token for
    * that doc, and organic corpora keep rare-token df small, but unlike
    * q186 there is no per-bucket quadratic bound; the verify stage is
    * what bounds the OUTPUT. */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val posts = docs
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
    val dfRel = posts.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val rarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("s"))
    val prefix = posts.join(dfRel, Seq("s"))
      .withColumn("rn", row_number().over(rarity))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("s"), col("doc_id").as("p_id"))
    val cand = prefix
      .join(posts.select(col("s"), col("doc_id").as("f_id")), Seq("s"))
      .filter(col("p_id") =!= col("f_id"))
      .select(least(col("p_id"), col("f_id")).as("id_a"),
        greatest(col("p_id"), col("f_id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist()
    val docsFor = candidateRows(docs, cand).persist()
    cand
      .join(docsFor.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        "id_a")
      .join(docsFor.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("containment", col("ni") /
        least(size(col("sh_a")), size(col("sh_b"))))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  def exactJaccardPairsCapped(docs: DataFrame, threshold: Double,
      dfCap: Int): DataFrame = {
    val capped = docs.select(col("doc_id"), size(col("sh")).as("sz"),
      MinHashExprs.capped(col("sh"), hotOf(docs, dfCap), DfFloor).as("kept"))
    val kept = capped.select(col("doc_id"), explode(col("kept")).as("s"))
    // Posting-list pair expansion as ONE aggregation instead of a self-join:
    // collect each shingle's doc list, then explode the a<b pairs in
    // place. The self-join formulation shuffled the posting stream TWICE
    // and cloned the capped-index subtree into both sides of the SMJ;
    // this shape shuffles it once and reads the capped stream once.
    // Bound honesty: KEPT keys hold ≤ dfCap docs (≤ C(dfCap, 2) pairs);
    // a RESCUED key of an N-way identical-duplicate class holds all N
    // members — but emitting that class's C(N, 2) pairs is the operator's
    // OUTPUT, not overhead, and the composed pipeline removes identical
    // content with exact dedup (q31, an 8-byte-hash groupBy) BEFORE
    // near-dup detection, so N-way rescued keys past that stage are
    // near-identical-but-distinct classes, which organic corpora keep
    // small. The same caveat applies to LSH band buckets below.
    val interLow = kept.groupBy(col("s")).agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      // AQE sizes the next stage by the collect_set output's BYTES, which
      // under-provisions a generator stage whose work is the ~C(|ids|,2)
      // EXPANSION of those bytes (measured: the pair stage coalesced to 3
      // tasks and became the query's largest). The cheap re-spread of the
      // (tiny) multi-doc posting lists keeps the quadratic part wide.
      // (round 18: pinning this width to the core count was MEASURED
      // SLOWER — 2.57 → 4.03 s at sf0.1: the expansion's downstream
      // pair-agg pays 32×32 task fan-out for work AQE's 3-task sizing
      // absorbs at this corpus size. The bare form stays; at 100 TB the
      // byte-sized coalesce target is already wide.)
      .repartition(col("s"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"),
        explode(filter(col("ids"), x => x > col("id_a"))).as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni_low"))
    // per-doc shingle count + how many of them are capped-out ("hot"),
    // both read off the capped array — no aggregate over the kept stream
    val stats = capped.select(col("doc_id"), col("sz"),
      (col("sz") - size(col("kept"))).as("n_hot"))
    val bounded = interLow
      .join(stats.select(col("doc_id").as("id_a"), col("sz").as("sz_a"),
        col("n_hot").as("hot_a")), "id_a")
      .join(stats.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("n_hot").as("hot_b")), "id_b")
      .withColumn("ni_max", col("ni_low") + least(col("hot_a"), col("hot_b")))
      // jaccard is increasing in ni, so ni ≤ ni_max bounds it above
      .filter(col("ni_max") / (col("sz_a") + col("sz_b") - col("ni_max"))
        >= threshold)
      .select(col("id_a"), col("id_b"))
    verifyJaccardCandidates(bounded, docs, threshold)
  }

  /** MinHash signatures + banded LSH + exact-Jaccard verification of the
    * candidates. Input: (doc_id, text), banded and verified over its
    * [[fingerprints]]. Output: (id_a, id_b, jaccard).
    *
    * `dfCap`: stop-shingle removal before the signature aggregate — the
    * signature is computed over the df-capped shingle set (capped-set
    * jaccard ≈ full-set jaccard for true near-dups, so they still
    * collide), while verification always uses the full sets. Bounds the
    * (doc_id, shingle) shuffle AND keeps corpus-hot boilerplate shingles
    * from gluing unrelated docs into one band bucket. */
  def minHashLshPairs(docs: DataFrame, jaccardThreshold: Double,
      dfCap: Int = Int.MaxValue): DataFrame =
    RunScope.keyed("TextOps.minHashLshPairs") {
      pairsFromBandedIndex(bandedSignatures(fingerprints(docs), dfCap), docs,
        jaccardThreshold)
    }

  /** The SHARED full-corpus LSH near-dup pair artifact (j ≥ 0.5, dfCap
    * 16) — the round-12 extension of the [[ArtifactCache]] posture from
    * indexes to DETECTION OUTPUT: pair detection is dedup's expensive
    * pass, it is a pure function of the corpus snapshot, and before this
    * memo q34/q45/q45b/q85/q86 each re-ran it per query (five
    * tokenize→shingle→minhash→band→verify sweeps per bench run of one
    * identical relation). Production writes the pair set once when a
    * corpus snapshot lands and every consumer — dedup reporting, cluster
    * closure, canonical-doc selection, leakage-safe splitting — probes
    * the written table. The first family member per JVM pays the build
    * (recorded as its build_sec); correctness is unchanged because each
    * consumer's oracle independently recomputes exact pairs from raw text
    * in DuckDB, so a stale or wrong artifact fails four hash gates. */
  private[graft] val CorpusLshPairsTable = "graft_corpus_lsh_pairs"
  private[graft] def corpusLshPairsTag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "documents", s"j0.5|$LshScheme")

  def corpusLshPairs(s: SparkSession, d: String): DataFrame = {
    ArtifactCache.once(CorpusLshPairsTable, corpusLshPairsTag(d)) {
      Tables.resetManagedTable(s, CorpusLshPairsTable)
      // candidates come from the SHARED written band index (round 14,
      // VERDICT r13 #4): the 96-hash signature sweep — 3× pricier since
      // the round-13 re-banding — runs once per corpus snapshot for the
      // WHOLE family (q34/q34b/q95/q103 + this pair artifact), not once
      // per artifact; verification fingerprints only the candidates
      pairsFromBandedIndex(fullCorpusBandedIndex(s, d),
          Tables.load(s, d, "documents"), jaccardThreshold = 0.5)
        .write.mode("overwrite").saveAsTable(CorpusLshPairsTable)
    }
    s.table(CorpusLshPairsTable)
  }

  /** The SHARED written FULL-corpus banded LSH index (dfCap 16) — the
    * signature-hashing pass lifted to the same ArtifactCache posture as
    * the pair artifact (VERDICT r13 #4): tokenize → shingle → 96-hash
    * minhash → band runs at most once per (JVM, corpus snapshot), and
    * every full-corpus LSH consumer (q34's pair build, q34b's indexed
    * read, q95/q103's fuzzy decontam) probes the bucketed table. The
    * (band, bucket) bucketing makes every downstream candidate
    * aggregation/join shuffle-free on the index side. */
  private[graft] val FullLshIndexTable = "graft_lsh_band_index"
  private[graft] def fullLshIndexTag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "documents", s"full|$LshScheme")

  private[graft] def fullCorpusBandedIndex(s: SparkSession,
      d: String): DataFrame = {
    ensureBandedIndex(s, fingerprints(Tables.documents(s, d)), dfCap = 16,
      FullLshIndexTable, fullLshIndexTag(d))
    s.table(FullLshIndexTable)
  }

  /** The banded LSH index: (doc_id, band, bucket), one row per doc per
    * band (written once and reused at scale: see
    * [[minHashLshPairsBucketedIndex]]). signature[h] = min over capped
    * shingles of xxhash64(h, shingle); band key = xxhash64(band, the
    * band's signature slice joined by "_") — one per-row kernel
    * ([[graft.expr.MinHashExprs]]), no shuffle, no aggregate. */
  private[graft] def bandedSignatures(docs: DataFrame, dfCap: Int): DataFrame =
    bandsUnder(docs, hotOf(docs, dfCap))

  /** [[bandedSignatures]] for an increment/micro-batch under a FROZEN hot
    * list (ADVICE r10 #3): the df-cap decision comes from the snapshot's
    * written stats (`hot` holds (s, _df) rows, collected here on the
    * driver) instead of a corpus-wide aggregate, so the signature is a
    * pure per-doc function of (hot list, doc) — a streaming batch
    * computes byte-identical bands to the snapshot-time scheme, and
    * batch/stream candidate sets coincide by CONSTRUCTION rather than by
    * two schemes both happening to reach full recall. */
  private[graft] def bandedSignaturesFrozenHot(docs: DataFrame,
      hot: DataFrame): DataFrame =
    bandsUnder(docs, HotShingles.collect(hot))

  private def bandsUnder(docs: DataFrame, hot: HotShingles): DataFrame =
    docs.select(col("doc_id"), posexplode(MinHashExprs.bands(col("sh"), hot,
      DfFloor, NumHashes, RowsPerBand)).as(Seq("band", "bucket")))

  /** Candidate generation + exact verify over a banded index relation
    * (freshly derived or read back from a written index table); `text`
    * is the (doc_id, text) relation the candidates are looked up in. */
  private[graft] def pairsFromBandedIndex(banded: DataFrame, text: DataFrame,
      jaccardThreshold: Double): DataFrame = {
    val cand = RunScope.own(candidatesFromBandedIndex(banded)
      .persist()) // feeds the id-set prune + both verify joins

    // fingerprint only the surviving candidates (rare by construction),
    // then verify exactly — the ONE shared verify contract (same helper
    // as the in-plan LSH and incremental paths)
    verifyJaccardCandidates(cand, lookupForCandidates(text, cand),
        jaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Delta near-dup pairs of an INCREMENT against a written snapshot band
    * index — the q144 maintain-phase candidate machinery factored once
    * (round 15) so every maintainer that needs the increment's edges
    * alone (q144's cluster delta, q210's triangle/wedge delta) shares ONE
    * candidate set and ONE exact verify. Cross (snapshot × increment) and
    * internal (increment × increment) candidates come out of ONE join:
    * the index rows and the increment's bands probe the increment's
    * bands, keeping id_a < id_b — every cross pair qualifies because
    * snapshot ids precede increment ids, and each internal pair appears
    * once. Emitted pairs are therefore ordered id_a < id_b. The increment
    * (its [[fingerprints]]) bands under the snapshot's FROZEN hot list
    * (ADVICE r10 #3), so its cost depends only on the increment;
    * candidates are looked up in the (doc_id, text) relation `text`.
    *
    * Size-gated: below `driverGate` ([[deltaPairsOnDriver]],
    * [[Gates.DeltaRows]]) the same candidate set and verify run on the
    * driver and the pairs come back as a local relation; nothing is
    * persisted. Above it the relational path runs, its persisted
    * relations (bands + candidates + lookup) owned by the run's
    * [[RunScope]], as in [[pairsFromBandedIndex]]. Output
    * (id_a, id_b, jaccard). */
  private[graft] def deltaPairsAgainstIndex(s: SparkSession, table: String,
      inc: DataFrame, text: DataFrame, jaccardThreshold: Double,
      driverGate: Int = Gates.DeltaRows): DataFrame =
    deltaPairsOnDriver(s, table, inc, text, jaccardThreshold, driverGate)
      .map { pairs =>
        import s.implicits._
        pairs.toDF("id_a", "id_b", "jaccard")
      }
      .getOrElse(RunScope.keyed("TextOps.deltaPairsAgainstIndex")(
        deltaPairsRelational(s, table, inc, text, jaccardThreshold)))

  private def deltaPairsRelational(s: SparkSession, table: String,
      inc: DataFrame, text: DataFrame, jaccardThreshold: Double): DataFrame = {
    val incBands = RunScope.own(
      bandedSignaturesFrozenHot(inc, s.table(s"${table}_hot"))
        .select(col("band"), col("bucket"), col("doc_id").as("id_a"))
        .persist()) // both sides of the candidate join
    val cand = RunScope.own(s.table(table)
      .select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .unionByName(incBands)
      .join(incBands.withColumnRenamed("id_a", "id_b"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist()) // feeds the id-set prune + both verify joins
    verifyJaccardCandidates(cand, lookupForCandidates(text, cand),
      jaccardThreshold)
  }

  /** [[deltaPairsAgainstIndex]]'s candidate set and verify on the driver,
    * or None when a collect would pass `gate` rows. Spark runs three small
    * collects besides the hot list's, one job each: the increment's bands
    * and the index rows in one of their buckets ([[Gates.collectBounded]]),
    * and the candidates' fingerprints from `text`; the last two are
    * restricted by one id-set expression, never a join. The candidate set
    * is the relational join's: per (band, bucket), every index or
    * increment id with every increment id above it. The verify
    * is [[verifyJaccardCandidates]]' arithmetic: ni = |sh_a ∩ sh_b|,
    * jaccard = ni / (|sh_a| + |sh_b| − ni) as a double, kept when
    * ≥ threshold. */
  private def deltaPairsOnDriver(s: SparkSession, table: String,
      inc: DataFrame, text: DataFrame, jaccardThreshold: Double,
      gate: Int): Option[Seq[(Long, Long, Double)]] = {
    def atMost(df: DataFrame): Option[Array[Row]] = Gates.collectBounded(
      df.select(col("band"), col("bucket"), col("doc_id")), gate)
    def byKey(rows: Array[Row]) =
      rows.groupMap(r => (r.getInt(0), r.getLong(1)))(_.getLong(2))
    for {
      incRows <- atMost(bandedSignaturesFrozenHot(inc, s.table(s"${table}_hot")))
      incByKey = byKey(incRows)
      // the bucket alone restricts the scan (one id set); the driver keeps
      // the rows whose (band, bucket) the increment holds
      idxRows <- atMost(s.table(table).filter(IdSetExprs.isIn(col("bucket"),
        incByKey.keysIterator.map(_._2).toSet)))
      cand <- candidatePairs(incByKey,
        byKey(idxRows).filter { case (k, _) => incByKey.contains(k) }, gate)
      ids = cand.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
      if ids.size <= gate
    } yield {
      val sh: Map[Long, Set[Long]] =
        if (cand.isEmpty) Map.empty
        else fingerprints(text.filter(
            IdSetExprs.isIn(col("doc_id"), ids)))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      cand.toSeq.flatMap { case (a, b) =>
        for {
          sa <- sh.get(a); sb <- sh.get(b)
          ni = sa.count(sb.contains)
          jaccard = ni.toDouble / (sa.size + sb.size - ni)
          if jaccard >= jaccardThreshold
        } yield (a, b, jaccard)
      }
    }
  }

  /** Per (band, bucket), each index or increment id paired with every
    * increment id above it — the relational candidate join on the driver.
    * None once the set passes `gate` pairs. */
  private def candidatePairs(inc: Map[(Int, Long), Array[Long]],
      idx: Map[(Int, Long), Array[Long]],
      gate: Int): Option[scala.collection.Set[(Long, Long)]] = {
    val pairs = inc.iterator.flatMap { case (k, bs) =>
      (idx.getOrElse(k, Array.emptyLongArray) ++ bs).iterator
        .flatMap(a => bs.iterator.filter(a < _).map(b => (a, b)))
    }
    val out = scala.collection.mutable.HashSet.empty[(Long, Long)]
    while (pairs.hasNext && out.size <= gate) out += pairs.next()
    if (out.size <= gate) Some(out) else None
  }

  /** Cross (snapshot × increment) candidates of q34c/q109/q148: `inc`'s
    * frozen-hot bands probing the written index `table`. PERSISTED (and
    * owned by the run's scope): they feed the id-set prune and both
    * verify joins. */
  private[graft] def crossCandidates(s: SparkSession, table: String,
      inc: DataFrame): DataFrame =
    RunScope.own(s.table(table)
      .select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(bandedSignaturesFrozenHot(inc, s.table(s"${table}_hot"))
        .select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist())

  /** Candidate (id_a < id_b) pairs from a banded relation — the
    * generation half of [[pairsFromBandedIndex]], factored out (round 12)
    * so the incremental paths can UNION cross- and self-candidate sets
    * and pay the exact-verify machinery ONCE instead of once per leg.
    *
    * Bucket-pair expansion as ONE aggregation instead of a self-join: the
    * join formulation computed the signature aggregate once PER SIDE (the
    * banded subtree is cloned into both SMJ inputs — measured as the two
    * dominant stages of q34) and shuffled the banded stream twice; this
    * shape computes signatures once and shuffles bucket ids once. Bucket
    * fanout is LSH-bounded identically under both shapes. Callers persist
    * the result (it feeds the id-set prune + both verify joins). */
  private[graft] def candidatesFromBandedIndex(banded: DataFrame): DataFrame =
    banded.groupBy(col("band"), col("bucket"))
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"),
        explode(filter(col("ids"), x => x > col("id_a"))).as("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** q34's index-table posture: the banded LSH index is WRITTEN once as a
    * bucketed table and candidate generation reads it back — the at-scale
    * shape where the expensive pass (tokenize → shingle → minhash → band)
    * runs once per corpus snapshot and every later dedup/lookup run reads
    * the index table instead of recomputing it. Bucketing by (band,
    * bucket) makes the read-side candidate aggregation SHUFFLE-FREE: the
    * bucket layout already satisfies the groupBy's distribution (same
    * mechanism BucketingSpec proves for joins), so the one corpus-sized
    * shuffle of the in-plan formulation disappears from the recurring
    * run's cost. Input: (doc_id, text), as [[minHashLshPairs]], whose
    * output this equals (TextOpsSpec asserts it). */
  def minHashLshPairsBucketedIndex(s: SparkSession, docs: DataFrame,
      jaccardThreshold: Double, dfCap: Int,
      table: String = FullLshIndexTable,
      tag: Option[String] = None): DataFrame =
    RunScope.keyed("TextOps.minHashLshPairsBucketedIndex") {
    ensureBandedIndex(s, fingerprints(docs), dfCap, table, tag)
    pairsFromBandedIndex(s.table(table), docs, jaccardThreshold)
  }

  /** Build the bucketed banded-index table once per (JVM, tag) — the
    * shared build step behind [[minHashLshPairsBucketedIndex]] and
    * [[fullCorpusBandedIndex]]. The index build is [[ArtifactCache]]-
    * memoized when the caller can state a content tag (round 12) — the
    * written-index posture implies the build runs once per corpus
    * snapshot, not once per consumer run. `docs` is (doc_id, sh). */
  private[graft] def ensureBandedIndex(s: SparkSession, docs: => DataFrame,
      dfCap: Int, table: String, tag: Option[String]): Unit =
    ArtifactCache.once(table, tag) {
      // persist INSIDE the cold block only (the writeSnapshotLshIndex
      // rule): the build consumes the shingle relation twice (df stats +
      // bands) and without the barrier alias substitution re-inlines
      // tokenize+shingle per consumer (measured 49 s vs 2 s at sf0.1);
      // warm probes never touch this
      val dp = docs.persist()
      try {
        Tables.resetManagedTable(s, table)
        bandedSignatures(dp, dfCap)
          .write.bucketBy(8, "band", "bucket")
          .mode("overwrite").saveAsTable(table)
      } finally { dp.unpersist(); () }
    }

  /** The SHARED table name for the documents-80%-cut snapshot LSH index
    * (dfCap 16) that q34c/q109/q144/q146/q148 all probe, and its
    * [[ArtifactCache]] content tag for a given testdata dir. */
  private[graft] val SnapshotLshTable = "graft_lsh_snapshot_index"
  private[graft] def snapshotLshTag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "documents", s"cut0.8|$LshScheme")

  /** Write the snapshot's banded LSH index AND its frozen df stats — the
    * complete written artifact an incremental/streaming consumer needs:
    * `table` holds (doc_id, band, bucket) bucketed for shuffle-free
    * probing; `table`_hot holds the snapshot's over-cap (s, _df) stats.
    * An increment banded via [[bandedSignaturesFrozenHot]] against
    * `table`_hot computes byte-identical signatures to the snapshot
    * scheme — the q44c frozen-centroid posture, for text. `snap` is
    * (doc_id, sh: [[fingerprints]]). */
  def writeSnapshotLshIndex(s: SparkSession, snap: DataFrame, dfCap: Int,
      table: String, tag: Option[String] = None): Unit =
    ArtifactCache.once(table, tag) {
      // the build consumes the snapshot fingerprints twice (df stats +
      // bands) — persist INSIDE the cold block only, so warm (memoized)
      // runs never materialize corpus fingerprints at all
      val sp = snap.persist()
      try {
        Tables.resetManagedTable(s, s"${table}_hot")
        sp.select(col("doc_id"), explode(col("sh")).as("s"))
          .groupBy(col("s")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > dfCap)
          .write.mode("overwrite").saveAsTable(s"${table}_hot")
        Tables.resetManagedTable(s, table)
        bandedSignaturesFrozenHot(sp, s.table(s"${table}_hot"))
          .write.bucketBy(8, "band", "bucket").mode("overwrite")
          .saveAsTable(table)
      } finally { sp.unpersist(); () }
    }

  /** Incremental dedup against a WRITTEN snapshot index — the operation a
    * recurring 100 TB pipeline actually runs: yesterday's corpus already
    * has its banded LSH index on disk (the q34b table); today's increment
    * is banded ALONE and probed against it. Cost ∝ increment: the
    * corpus-sized work (tokenize → minhash → band) never re-runs for the
    * snapshot, the index side of the candidate join is pre-bucketed by
    * (band, bucket) so only increment-side bands shuffle, and surviving
    * cross pairs are verified exactly against full shingle sets. Here the
    * snapshot is docs below an 80% doc_id cut (computed in-plan as a
    * broadcast scalar — no driver action) and its index is written in the
    * same run, which is the q34b demo concession; the probe path is the
    * production shape. Banding completeness is q34's own, driver-proven
    * property: signatures are the SAME pipeline over the same corpus
    * stats, so every exact-oracle pair collides in at least one band.
    * Input: (doc_id, text), banded as in [[minHashLshPairs]]; candidates
    * are looked up in `lookupText` (by default `docs`).
    * Output: cross pairs only — (id_a < cut ≤ id_b, jaccard ≥ threshold).
    */
  def minHashLshIncremental(s: SparkSession, docs: DataFrame,
      jaccardThreshold: Double, dfCap: Int,
      table: String = SnapshotLshTable,
      tag: Option[String] = None,
      lookupText: Option[DataFrame] = None): DataFrame =
    RunScope.keyed("TextOps.minHashLshIncremental") {
    // floor() on BOTH sides (here and the oracle SQL): a bare cast-to-long
    // truncates in Spark but rounds in DuckDB, so the two engines would
    // disagree on the snapshot/increment boundary whenever (max+1)*0.8 has
    // a fractional part ≥ .5.
    val cut = docs.agg(
      floor((max(col("doc_id")) + lit(1)) * lit(0.8)).as("cut"))
    // The snapshot bands under its OWN df stats, written alongside the
    // index as the `_hot` table; the increment bands under those FROZEN
    // stats read back from the artifact (ADVICE r10 #3) — increment cost
    // depends only on the increment (no corpus-wide df aggregate), the
    // snapshot never re-bands, and the streaming twin (q109) reproduces
    // this scheme byte-identically per micro-batch, so batch and stream
    // candidate sets coincide by construction.
    val sh = fingerprints(docs)
    val snap = sh.crossJoin(broadcast(cut))
      .filter(col("doc_id") < col("cut")).drop("cut")
    // not persisted: banding is its only reader (the verify lookup goes
    // through `lookupText`), and the kernel reads `sh` once per row
    val inc = sh.crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cut")).drop("cut")
    writeSnapshotLshIndex(s, snap, dfCap, table, tag)
    val cand = crossCandidates(s, table, inc)
    verifyJaccardCandidates(cand,
        lookupForCandidates(lookupText.getOrElse(docs), cand),
        jaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-corpus FUZZY decontamination: which corpus docs are near-dups
    * of a benchmark/eval set (the published fuzzy complement of q78's
    * exact-membership and q90's graded-overlap checks — eval answers that
    * were lightly paraphrased into the training set slip past exact
    * n-gram rules but not a Jaccard threshold). Same banded-LSH machinery
    * as q34: the WHOLE corpus bands once (signatures from one shared
    * pipeline, so the q34 collision guarantee carries over verbatim),
    * candidates are benchmark×corpus bucket collisions only — cost ∝
    * true cross-collisions, not |corpus|·|bench| — and survivors verify
    * against full shingle sets. Banded once + consumed twice ⇒ persisted,
    * owned by the run's [[RunScope]]. Output is per
    * CONTAMINATED DOC (id, #bench hits, worst jaccard) — the drop list a
    * pipeline feeds back into its training-set filter.
    *
    * @param docs (doc_id, text), banded and looked up as in
    *   [[minHashLshPairs]]
    * @param benchPred predicate over `doc_id` marking the benchmark side
    */
  def fuzzyDecontam(docs: DataFrame, benchPred: Column, threshold: Double,
      dfCap: Int): DataFrame =
    RunScope.keyed("TextOps.fuzzyDecontam") {
      fuzzyDecontamFromBands(RunScope.own(
        bandedSignatures(fingerprints(docs), dfCap).persist()),
        docs, benchPred, threshold)
    }

  /** [[fuzzyDecontam]] over a pre-banded relation — the round-14 shape
    * that lets q95/q103 probe the SHARED written full-corpus index
    * ([[fullCorpusBandedIndex]]) instead of re-running the signature
    * sweep per query. When `banded` is the bucketed index table, the
    * bench-side × corpus-side collision join is shuffle-free on both
    * sides (both read the same (band, bucket) bucket layout). `text` is
    * the (doc_id, text) relation the candidates are looked up in. */
  private[graft] def fuzzyDecontamFromBands(banded: DataFrame,
      text: DataFrame, benchPred: Column, threshold: Double): DataFrame = {
    val cand = RunScope.own(banded.filter(benchPred)
      .select(col("band"), col("bucket"), col("doc_id").as("id_b"))
      .join(banded.filter(!benchPred)
        .select(col("band"), col("bucket"), col("doc_id").as("id_a")),
        Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist()) // feeds the id-set prune + both verify joins
    verifyJaccardCandidates(cand, lookupForCandidates(text, cand), threshold)
      .groupBy(col("id_a"))
      .agg(count(lit(1)).as("n_bench_hits"),
        round(max(col("jaccard")), 4).as("max_jaccard"))
      .select(col("id_a").as("doc_id"), col("n_bench_hits"),
        col("max_jaccard"))
  }

  /** Written exact-dedup hash index + incremental probe (q121).
    *
    * Build: the snapshot (doc_id < floor((max+1)·0.8)) writes its
    * normalized-text xxhash64 per doc into a `bucketBy(text_hash)` managed
    * table — 16 bytes/doc, built once per corpus snapshot. Probe: the
    * increment (the remaining docs plus a simulated re-crawl of every 7th
    * snapshot doc under id+1,000,000) hashes map-side and equi-joins the
    * index on text_hash; the bucket layout satisfies the join distribution
    * on the index side, so only increment hashes shuffle. Hash candidates
    * are then verified by exact normalized-text equality (candidate-sized
    * text fetch — the verify discipline of q34/q35), making the emitted
    * pair set collision-proof. At 100 TB the snapshot hash pass never
    * re-runs; a daily gate costs O(increment) + candidate verification.
    */
  def exactDedupIncremental(s: SparkSession, d: String,
      table: String = ExactHashTable): DataFrame = {
    val docs = Tables.documents(s, d)
    val cut = graft.schema.Cuts.documents(s, d)
    val snap = docs.filter(col("doc_id") < cut)
    val inc = docs.filter(col("doc_id") >= cut)
      .unionByName(snap.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    writeExactHashIndex(s, snap, table,
      if (table == ExactHashTable) exactHashTag(d) else None)
    probeExactHashIndex(s, inc, docs, table)
  }

  /** The SHARED exact hash index of the documents 80% cut probed by
    * q121/q137/q148, and its content tag for a testdata dir. */
  private[graft] val ExactHashTable = "graft_exact_hash_index"
  private[graft] def exactHashTag(d: String): Option[String] =
    graft.schema.Cuts.artifactTag(d, "documents", "cut0.8|normText-xxhash64")

  /** The q121 snapshot's normalized-text hash index, written once as a
    * `bucketBy(text_hash)` managed table — 16 bytes/doc. */
  def writeExactHashIndex(s: SparkSession, snap: DataFrame,
      table: String, tag: Option[String] = None): Unit =
    ArtifactCache.once(table, tag) {
      Tables.resetManagedTable(s, table)
      snap.select(col("doc_id"),
          xxhash64(normText(col("text"))).as("text_hash"))
        .write.bucketBy(8, "text_hash").mode("overwrite").saveAsTable(table)
    }

  /** Probe the written hash index with an increment: map-side hash,
    * bucket-satisfied equi-join (only increment hashes shuffle), then the
    * collision-proof exact normalized-text verify against the snapshot
    * source docs (candidate-sized fetch — the q34/q35 verify discipline).
    * Output: (snap_id, inc_id) exact-duplicate pairs. */
  def probeExactHashIndex(s: SparkSession, inc: DataFrame,
      snapSource: DataFrame, table: String): DataFrame = {
    val cand = s.table(table).select(col("doc_id").as("snap_id"),
        col("text_hash"))
      .join(inc.select(col("doc_id").as("inc_id"),
        xxhash64(normText(col("text"))).as("text_hash")), Seq("text_hash"))
      .select(col("snap_id"), col("inc_id"))
    // collision-proof verify: fetch the two normalized texts for surviving
    // candidates only (re-crawl ids map back to their source doc)
    val snapTxt = snapSource.select(col("doc_id").as("snap_id"),
      normText(col("text")).as("_snap_t"))
    val incTxt = inc.select(col("doc_id").as("inc_id"),
      normText(col("text")).as("_inc_t"))
    cand.join(snapTxt, Seq("snap_id")).join(incTxt, Seq("inc_id"))
      .filter(col("_snap_t") === col("_inc_t"))
      .select(col("snap_id"), col("inc_id"))
  }

  /** The exact-dedup normalization all q31/q121-family paths share. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** SimHash signatures: (doc_id, tk: array<string>) → (doc_id, simhash)
    * with a 64-bit signature per doc (8 bytes — the whole index for a
    * billion docs is 8 GB). */
  def simHashSignatures(docs: DataFrame): DataFrame = {
    val weighted = docs
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("w"))
      .withColumn("h", xxhash64(col("t")))

    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("w"))
        .otherwise(-col("w"))).as(s"b$i")
    }
    weighted.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Pigeonhole candidate join + exact Hamming verify over precomputed
    * signatures. maxHamming ≤ 3 guarantees the 4-way 16-bit chunk split
    * finds all pairs. Output: (id_a, id_b, hamming). */
  def simHashPairsFromSignatures(sig: DataFrame, maxHamming: Int): DataFrame = {
    // 16-bit chunks; SQL shiftrightunsigned accepts a non-literal shift
    // (the Scala shiftright API pins the shift to an Int)
    val chunked = sig.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftrightunsigned(simhash, c * 16) % 65536)"))
        .as(Seq("chunk", "ckey")))

    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup end-to-end: signatures → pigeonhole → verify.
    * Input: (doc_id, tk: array<string>). Output: (id_a, id_b, hamming). */
  def simHashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simHashPairsFromSignatures(simHashSignatures(docs), maxHamming)
}
