package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-first upsert — the reference's only multi-table operator
  * (`/root/reference/ingestion/io_utils.py:16-39`): read existing store,
  * concat new rows AFTER existing, `drop_duplicates(subset=key)` with
  * pandas' default keep='first' — so EXISTING rows win over re-fetched ones,
  * and the first occurrence wins within the new batch.
  *
  * Spark has no implicit row order, so "first" must be explicit
  * (SURVEY.md §2.4 U2: bare `dropDuplicates` keeps an ARBITRARY row — not
  * parity). Two formulations:
  *
  *  - [[keepFirst]]: priority tag + one window pass. General (any per-batch
  *    tie-break ordering), single shuffle on the key.
  *  - [[insertIfAbsent]]: anti-join. Equivalent when incoming rows are
  *    already unique per key; cheaper at scale when `existing` is huge and
  *    bucketed/partitioned by key (the anti-join can broadcast the small
  *    incoming side, touching no existing-side shuffle at all).
  *
  * At 100 TB the store would be key-bucketed parquet; both formulations then
  * run shuffle-free on the store side (bucket-local window / broadcast anti
  * join). Full-store rewrite (the reference's behavior, `io_utils.py:37`)
  * becomes dynamic partition overwrite of touched partitions only.
  */
object Upsert {

  /** Union + keep the first row per key: existing rows beat incoming; ties
    * within each side break by `order` ascending.
    *
    * @param order deterministic within-batch tie-break (the stand-in for
    *              pandas' positional row order)
    */
  def keepFirst(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame = {
    val pri = "_graft_pri"
    val rn = "_graft_rn"
    val unioned = existing.withColumn(pri, lit(0))
      .unionByName(incoming.withColumn(pri, lit(1)), allowMissingColumns = false)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(pri) +: order: _*)
    unioned.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(pri, rn)
  }

  /** Keep-first upsert into a PARTITIONED parquet store, rewriting only the
    * partitions the incoming batch touches — the 100 TB replacement for the
    * reference's full-store rewrite (`io_utils.py:24,37`, SURVEY.md §2.1
    * S3). Mechanics: prune the store read to the touched partition values
    * (partition pruning — untouched data is never read), merge keep-first,
    * write back under dynamic partition overwrite (untouched partition
    * directories are never written).
    */
  def partitionedUpsert(spark: org.apache.spark.sql.SparkSession,
      storePath: String, incoming: DataFrame, keys: Seq[String],
      partCol: String, order: Seq[Column]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touched = incoming.select(partCol).distinct()
      .collect().map(_.get(0)).toSeq
    val storeDir = new org.apache.hadoop.fs.Path(storePath)
    val storeHasData = fs.exists(storeDir) &&
      fs.listStatus(storeDir).exists(st =>
        st.isDirectory || st.getPath.getName.endsWith(".parquet"))
    val merged =
      if (!storeHasData) {
        keepFirst(incoming.limit(0), incoming, keys, order)
      } else {
        val existingSlice = spark.read.parquet(storePath)
          .filter(col(partCol).isin(touched: _*))
        keepFirst(existingSlice, incoming, keys, order)
      }
    graft.LocalSpark.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      merged.write.mode("overwrite").partitionBy(partCol).parquet(storePath)
    }
  }

  /** Replay-idempotent foreachBatch parquet sink (VERDICT r11 #2): the
    * streaming engine re-runs a failed micro-batch with the SAME
    * (data, batchId), so writing each batch into its own `batch_id`
    * partition under dynamic partition overwrite makes a retry REPLACE
    * its own partition instead of appending duplicate rows — the
    * standard idempotent parquet sink for append-shaped streaming
    * output. This is the lightweight end of the replay-safety spectrum;
    * the heavyweight end (cross-batch keyed merge) is
    * [[partitionedUpsert]] (q63) / [[applyChangelogVersioned]] (q112).
    * Scale: one partition per micro-batch — bounded by trigger count,
    * never data size — and a replay's overwrite touches only its own
    * partition.
    */
  def idempotentBatchAppend(spark: org.apache.spark.sql.SparkSession,
      storePath: String, batch: DataFrame, batchId: Long): Unit = {
    graft.LocalSpark.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").partitionBy("batch_id").parquet(storePath)
    }
  }

  /** existing ∪ (incoming ⟕̸ existing): insert-if-absent. Caller guarantees
    * incoming is unique per key (dedupe first with [[keepFirst]] over an
    * empty existing side, or `dropDuplicates` when arbitrariness is fine).
    */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cond = keys.map(k => existing(k) === incoming(k)).reduce(_ && _)
    existing.unionByName(
      incoming.join(existing, cond, "left_anti"),
      allowMissingColumns = false)
  }

  /** Apply a CDC changelog to a snapshot — MERGE INTO semantics without a
    * table format: `changes` carries per-key operations (`opCol` ∈
    * {"I","U","D"}) ordered by `seqCol`; the LATEST operation per key wins
    * (row_number window, one shuffle on the key). Deletes drop the key,
    * inserts/updates replace the row, untouched snapshot rows pass through
    * an anti-join. Shape at 100 TB: the changelog is normally ≪ snapshot,
    * so the anti-join broadcasts the compacted changelog keys and the
    * snapshot never shuffles; with a key-partitioned/bucketed snapshot the
    * rewrite prunes to touched partitions (same posture as
    * [[partitionedUpsert]]).
    *
    * @param changes snapshot-schema columns + `opCol` + `seqCol`
    */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
      keys: Seq[String], opCol: String, seqCol: String): DataFrame = {
    val rn = "_graft_rn"
    val latest = changes
      .withColumn(rn, row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(seqCol).desc)))
      .filter(col(rn) === 1)
      .drop(rn)
    val touchedKeys = latest.select(keys.map(col): _*)
    val untouched = snapshot.join(broadcast(touchedKeys), keys, "left_anti")
    val replaced = latest.filter(col(opCol) =!= "D").drop(opCol, seqCol)
    untouched.unionByName(replaced, allowMissingColumns = false)
  }

  /** Apply one micro-batch's changelog to a VERSIONED parquet store — the
    * replay-safe streaming form of [[applyChangelog]] (VERDICT r10 #7):
    * version v(B+1) is always derived from the LATEST version ≤ B (B =
    * the micro-batch id, stable across restarts), so a RETRIED batch
    * re-reads the same base and deterministically rewrites its own output
    * version instead of double-applying — the upsert-on-key replay
    * posture a delete-capable sink needs (a bare append store cannot
    * express a delete at all). The caller seeds the snapshot as `v0`.
    * Versioning also sidesteps the read-overwrite-same-path hazard: each
    * write lands in a fresh directory. At 100 TB the store would be
    * key-partitioned inside each version and old versions pruned by a
    * retention rule (they double as time-travel snapshots).
    */
  def applyChangelogVersioned(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String, changes: DataFrame, keys: Seq[String],
      opCol: String, seqCol: String, batchId: Long): Unit = {
    val base = versionsOf(spark, storeRoot).filter(_ <= batchId).max
    val snap = spark.read.parquet(s"$storeRoot/v$base")
    // mode("overwrite") clobbers any uncommitted residue a crashed attempt
    // left in v(B+1); the _SUCCESS marker (written by the Hadoop committer
    // at job commit, re-touched below in case the cluster disables
    // marksuccessfuljobs) is what makes the new version VISIBLE to
    // [[versionsOf]] — write-then-mark is the atomic-publish protocol
    // (VERDICT r13 #1: without the marker gate, a partial v(B+1) from a
    // crash was resolvable as the newest version).
    applyChangelog(snap, changes, keys, opCol, seqCol)
      .write.mode("overwrite").parquet(s"$storeRoot/v${batchId + 1}")
    touchCommitMarker(spark, s"$storeRoot/v${batchId + 1}")
  }

  /** Path of the newest version in a [[applyChangelogVersioned]] store. */
  def latestVersionPath(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String): String =
    s"$storeRoot/v${versionsOf(spark, storeRoot).max}"

  /** Time-travel read (q122): the newest version ≤ `asOf`. The versioned
    * store keeps every version directory until a retention rule prunes
    * them, so "the table as batch B left it" stays addressable — the
    * audit/debug/reproduce-a-training-run read a mutable store cannot
    * answer. */
  def versionPathAsOf(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String, asOf: Long): String = {
    val vs = versionsOf(spark, storeRoot).filter(_ <= asOf)
    // loud, specific failure (VERDICT r13 #7): after a retention prune a
    // too-old asOf must not silently resolve to some other version
    require(vs.nonEmpty, s"no committed version <= $asOf under " +
      s"$storeRoot: the asOf predates the store or the version was " +
      "pruned by vacuumVersions (retention keeps the newest versions " +
      "plus explicit pins)")
    s"$storeRoot/v${vs.max}"
  }

  /** Retention prune for a versioned store (q205, VERDICT r13 #7): keep
    * the newest `keepLast` committed versions plus any explicitly
    * `pinned` ones (reproducibility pins — "the table as training run X
    * saw it"), delete every other version directory, and return the
    * retained ids sorted. Without this, [[applyChangelogVersioned]]
    * stores grow one directory per batch forever. Time traveling below
    * the oldest retained version afterwards fails loudly
    * ([[versionPathAsOf]]'s require) instead of silently resolving
    * elsewhere, and a pin naming a version that is not committed fails
    * loudly up front for the same reason. Uncommitted residue
    * directories (no `_SUCCESS`) are swept too — they are invisible to
    * reads and a crashed batch's retry has already healed or superseded
    * them. */
  def vacuumVersions(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String, keepLast: Int,
      pinned: Set[Long] = Set.empty): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val root = new org.apache.hadoop.fs.Path(storeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = versionsOf(spark, storeRoot).sorted
    // a pin names a version the caller NEEDS retained (a reproducibility
    // anchor); a typo'd or already-pruned pin must fail loudly — the
    // module's versionPathAsOf convention (ADVICE r14 #3) — not be
    // silently dropped while the caller believes the anchor is protected
    val unknownPins = pinned -- committed.toSet
    require(unknownPins.isEmpty,
      s"pinned versions ${unknownPins.toSeq.sorted.mkString(",")} are " +
        s"not committed under $storeRoot (committed: " +
        s"${committed.mkString(",")}) — the anchor they were meant to " +
        "protect does not exist or was already vacuumed")
    val keep = committed.takeRight(keepLast).toSet ++ pinned
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .filterNot(n => keep.contains(n.drop(1).toLong))
      .foreach(n => fs.delete(
        new org.apache.hadoop.fs.Path(root, n), true))
    committed.filter(keep)
  }

  /** Diff two store versions (q122): per change kind (`added` / `changed`
    * / `deleted`) the key count and the summed value delta — the audit
    * primitive behind "what did batch B do to the table". One full-outer
    * key join (both sides shuffle on the key once; with a key-bucketed
    * store layout, zero shuffles) + a 1-row conditional aggregate; rows
    * with equal values on both sides cost nothing downstream of the join.
    */
  def versionDiff(va: DataFrame, vb: DataFrame, key: String,
      valueCol: String): DataFrame = {
    val a = va.select(col(key).as("_k"), col(valueCol).as("_va"))
    val b = vb.select(col(key).as("_k"), col(valueCol).as("_vb"))
    a.join(b, Seq("_k"), "full_outer")
      .agg(
        sum(when(col("_va").isNull, 1L).otherwise(0L)).as("n_added"),
        coalesce(sum(when(col("_va").isNull, col("_vb"))), lit(0.0))
          .as("d_added"),
        sum(when(col("_va").isNotNull && col("_vb").isNotNull &&
          col("_va") =!= col("_vb"), 1L).otherwise(0L)).as("n_changed"),
        coalesce(sum(when(col("_va").isNotNull && col("_vb").isNotNull &&
          col("_va") =!= col("_vb"), col("_vb") - col("_va"))), lit(0.0))
          .as("d_changed"),
        sum(when(col("_vb").isNull, 1L).otherwise(0L)).as("n_deleted"),
        coalesce(sum(when(col("_vb").isNull, -col("_va"))), lit(0.0))
          .as("d_deleted"))
      .select(expr(
        """stack(3, 'added', n_added, d_added,
           'changed', n_changed, d_changed,
           'deleted', n_deleted, d_deleted) as (change, n_keys, price_delta)"""))
      .select(col("change"), col("n_keys"),
        round(col("price_delta"), 2).as("price_delta"))
  }

  /** COMMITTED versions only: a `vN` directory counts iff it carries the
    * `_SUCCESS` commit marker (written by the Hadoop output committer at
    * job commit — i.e. after every task's output is in place). A job that
    * dies mid-write leaves a markerless partial directory, which this gate
    * makes invisible to [[latestVersionPath]] / [[versionPathAsOf]] /
    * [[applyChangelogVersioned]]'s base resolution; the retried batch then
    * derives from the last COMMITTED base and `mode("overwrite")` clobbers
    * the residue (VERDICT r13 #1 — the crash window this closes). */
  private[graft] def versionsOf(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(storeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(st => st.getPath.getName.matches("v\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toLong)
  }

  /** Idempotently (re-)create the `_SUCCESS` commit marker on a version
    * directory. The default Hadoop committer already writes it at job
    * commit; this covers clusters that disable
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs`, and seeds written
    * by hand in tests. */
  private[graft] def touchCommitMarker(
      spark: org.apache.spark.sql.SparkSession, versionDir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(versionDir, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) fs.create(marker, true).close()
  }
}
