package graft.ops

import graft.Q
import graft.schema.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout optimization: Z-order (Morton) clustering for
  * multi-dimensional scan pruning — the lakehouse `OPTIMIZE ZORDER BY`
  * capability, built from Spark primitives.
  *
  * Why it matters at 100 TB: a table sorted by ONE column prunes scans
  * only on that column's predicates. Interleaving the bits of two (or
  * more) columns into one Morton key and range-sorting the files by it
  * gives every participating column LOCALITY in the file layout — a 2-D
  * box predicate then touches only the files/row-groups whose min/max
  * stats overlap the box, and the parquet reader skips the rest via
  * pushed filters. The z-value is pure built-in bit arithmetic
  * (whole-stage codegen, no UDF), and the write is one range exchange —
  * the same cost as any global sort, paid once per snapshot.
  *
  * LayoutSpec MEASURES the effect: on a 16-file store, the identical box
  * scan reads a fraction of the rows from the z-ordered layout vs a
  * shuffled layout (parquet row-group stats pruning), with result parity.
  */
object LayoutOps {

  /** Morton interleave of the low `bits` bits of two non-negative
    * integral columns: bit i of `a` lands at position 2i, bit i of `b`
    * at 2i+1. Unrolled into a codegen-friendly OR-reduction of shifts —
    * no UDF, stays inside whole-stage codegen.
    */
  def zOrder2(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** The matching ANSI-SQL expression (DuckDB bit operators), for
    * oracle twins of z-value computations. */
  def zOrder2Sql(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  /** Write `df` as a z-ordered parquet store: Morton key from (`colA`,
    * `colB`), range-partitioned into `nFiles` files and sorted within
    * each — so every file covers a compact z-range and its per-column
    * min/max stats are tight. The key is layout-only and not persisted.
    */
  def zOrderWrite(df: DataFrame, colA: String, colB: String, bits: Int,
      nFiles: Int, path: String): Unit = {
    val z = "_graft_z"
    df.withColumn(z, zOrder2(col(colA), col(colB), bits))
      .repartitionByRange(nFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z)
      .write.mode("overwrite").parquet(path)
  }

  /** Compact a fragmented parquet store into ~`targetRowsPerFile`-row files
    * WITHOUT a shuffle: `coalesce` merges existing splits map-side (each
    * output task concatenates whole input partitions — no exchange, no
    * sort), which is exactly what maintenance compaction wants: the
    * dominant cost is the rewrite IO itself. Returns the output file count.
    *
    * Scale notes (100 TB): compaction runs per partition-directory (the
    * unit of small-file accumulation under streaming/CDC ingest), so the
    * coalesce never spans partitions and parallelism = #partitions being
    * compacted. For stores whose row-group stats carry a sort/cluster
    * contract (the q125 z-order layout), compact with
    * `repartitionByRange` on the cluster key instead — that pays one
    * exchange to KEEP the min/max tightness that coalesce's arbitrary
    * concatenation would destroy. Row-count-based sizing here (bytes-based
    * sizing needs the writer's post-compression feedback; rows are the
    * deterministic proxy at fixed schema).
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, path: String,
      targetRowsPerFile: Long, outPath: String): Int = {
    val df = spark.read.parquet(path)
    val n = df.count()
    val nFiles = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
      .toInt
    // coalesce is the production path — a shuffle-free bin-pack of scan
    // splits. But coalesce can only REDUCE the partition count, and the
    // scan itself already bin-packs small files up to maxPartitionBytes:
    // when that packing lands BELOW the target file count, coalesce
    // silently under-produces (caught by the round-14 sf0.1 oracle
    // audit: 64 tiny files packed into 16 splits while the row-count
    // target said 30 — files_after 16 ≠ 30). In that regime the split
    // is forced with a round-robin repartition: one extra shuffle of
    // data that is being wholly rewritten anyway, and the file count
    // stays the deterministic ceil(rows / targetRowsPerFile) the oracle
    // (and any downstream manifest) computes from the data alone. At
    // production scale the scan is always wider than the target and the
    // shuffle-free branch runs.
    val scanParts = df.rdd.getNumPartitions
    val sized =
      if (scanParts >= nFiles) df.coalesce(nFiles) else df.repartition(nFiles)
    sized.write.mode("overwrite").parquet(outPath)
    nFiles
  }

  private def parquetFileCount(path: String): Long =
    new java.io.File(path).listFiles.count(_.getName.endsWith(".parquet"))

  /** Partition width for [[zOrderWriteBucketed]] stores: a FIXED constant
    * (not data-derived), so increments assign to partitions without any
    * frozen-boundary metadata — the same reason auto-increment keys make
    * range partitioning maintenance-friendly. */
  val ZPartWidth = 256L

  /** Z-ordered store with a coarse range-partition directory layer — the
    * lakehouse layout (`PARTITIONED BY (range) ... ZORDER BY (a, b)`):
    * rows land in `part_range = partCol div ZPartWidth` directories and
    * are z-sorted WITHIN each, so scans prune twice (directory pruning on
    * the range predicate, then row-group stats inside). This is the
    * layout that makes z-order MAINTAINABLE: new data touches only its
    * key-range partitions.
    */
  def zOrderWriteBucketed(df: DataFrame, partCol: String, colA: String,
      colB: String, bits: Int, path: String): Unit = {
    val z = "_graft_z"
    val withCols = df
      .withColumn("part_range", expr(s"$partCol div $ZPartWidth"))
      .withColumn(z, zOrder2(col(colA), col(colB), bits))
    withCols.repartition(col("part_range"))
      .sortWithinPartitions(col("part_range"), col(z))
      .drop(z)
      .write.partitionBy("part_range").mode("overwrite").parquet(path)
  }

  /** Incremental OPTIMIZE-ZORDER: merge `increment` into a
    * [[zOrderWriteBucketed]] store, re-clustering ONLY the partitions the
    * increment touches (partition-pruned read + dynamic partition
    * overwrite — untouched directories are never read OR written, the
    * q21 upsert posture applied to layout maintenance). The touched-value
    * collect is bounded by construction: ≤ key-range/ZPartWidth values,
    * never rows (the `Upsert.partitionedUpsert` precedent). At 100 TB
    * with sequentially-allocated keys an increment touches a handful of
    * ranges, so maintenance cost ∝ increment + its partitions — the
    * property a full-rewrite OPTIMIZE lacks.
    */
  def zOrderMaintain(spark: org.apache.spark.sql.SparkSession, path: String,
      increment: DataFrame, partCol: String, colA: String, colB: String,
      bits: Int): Unit = {
    val inc = increment
      .withColumn("part_range", expr(s"$partCol div $ZPartWidth"))
    val touched = inc.select(col("part_range")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // partition-dir inference types part_range as INT; cast back to the
    // increment's LONG so the union resolves without a widening surprise
    val slice = spark.read.parquet(path)
      .filter(col("part_range").isin(touched: _*))
      .withColumn("part_range", col("part_range").cast("long"))
      .select(inc.columns.map(col): _*)
    val z = "_graft_z"
    val merged = slice.unionByName(inc)
      .withColumn(z, zOrder2(col(colA), col(colB), bits))
      .repartition(col("part_range"))
      .sortWithinPartitions(col("part_range"), col(z))
      .drop(z)
    graft.LocalSpark.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      merged.write.mode("overwrite").partitionBy("part_range").parquet(path)
    }
  }

  val catalog: Seq[Q] = Seq(

    // ---- small-file compaction (q127): the maintenance op every
    // streaming/CDC store eventually needs — micro-batch sinks (q63/q112)
    // and dynamic-partition upserts accrete files far below the
    // scan-efficient size, and at 100 TB "too many files" degrades scans
    // (task-per-file scheduling, footer reads) before anything else does.
    // A 64-file fragmented store is rebuilt to ceil(n/20000) files with a
    // shuffle-free coalesce; the emitted report carries the before/after
    // file counts plus row and value parity so the oracle can restate
    // every number arithmetically (files_before is pinned by construction,
    // files_after by the sizing rule, parity by re-aggregation). LayoutSpec
    // asserts the compaction plan contains NO exchange.
    Q("q127_compaction",
      (s, d) => {
        val frag = RunScope.scratch("graft_frag_")
        val comp = RunScope.scratch("graft_compact_")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
          .repartition(64)
          .write.mode("overwrite").parquet(frag)
        compactStore(s, frag, targetRowsPerFile = 20000L, outPath = comp)
        s.read.parquet(comp)
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .select(lit(parquetFileCount(frag)).as("files_before"),
            lit(parquetFileCount(comp)).as("files_after"),
            col("n_rows"), col("sum_qty"))
      },
      Some("""SELECT 64 AS files_before,
              CAST(ceil(count(*) / 20000.0) AS BIGINT) AS files_after,
              count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem""")),

    // ---- z-order layout (q125): lineitem written z-ordered on
    // (l_partkey, l_suppkey), then a 2-D box query served FROM THE
    // WRITTEN STORE — the layout under test is the artifact, not the
    // plan. Output carries each group's z-value so the oracle re-derives
    // the Morton arithmetic bit-for-bit in SQL (DuckDB bit operators);
    // row/aggregate parity proves the rewrite lost nothing. The pruning
    // payoff is measured in LayoutSpec (row-group stats skip most of the
    // store for the identical predicate); at 100 TB the same write makes
    // both partkey- and suppkey-constrained scans sub-linear without
    // duplicating the table per sort order.
    Q("q125_zorder",
      (s, d) => {
        val store = RunScope.scratch("graft_zorder_")
        zOrderWrite(Tables.lineitem(s, d)
            .select(col("l_partkey"), col("l_suppkey"), col("l_quantity")),
          "l_partkey", "l_suppkey", bits = 16, nFiles = 16, path = store)
        s.read.parquet(store)
          .filter(col("l_partkey").between(100, 160) &&
            col("l_suppkey").between(10, 40))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .withColumn("zval",
            zOrder2(col("l_partkey"), col("l_suppkey"), 16))
          .orderBy(col("l_partkey"), col("l_suppkey"))
      },
      Some(s"""SELECT l_partkey, l_suppkey, count(*) AS n,
              round(sum(l_quantity), 2) AS sum_qty,
              CAST(${zOrder2Sql("l_partkey", "l_suppkey", 16)} AS BIGINT)
                AS zval
              FROM lineitem
              WHERE l_partkey BETWEEN 100 AND 160
                AND l_suppkey BETWEEN 10 AND 40
              GROUP BY l_partkey, l_suppkey
              ORDER BY l_partkey, l_suppkey""")),

    // ---- incremental z-order maintenance (q133): the layout family's
    // build-once / maintain-incrementally twin (the q44c/q121/q131
    // posture applied to q125). The store is range-partitioned on
    // l_partkey (width 256, a frozen constant) and z-ordered within each
    // partition; the "arriving products" increment is a CONTIGUOUS key
    // range [100, 355] — the shape sequentially-allocated keys always
    // produce — so maintenance partition-prunes to ranges 0-1, re-clusters
    // just those, and dynamic-overwrites them while every other directory
    // stays byte-identical (LayoutSpec proves both the byte-stability and
    // that the maintained store's box scan still prunes). The served box
    // query straddles maintained and untouched partitions, so parity
    // catches a maintenance bug on either side; the oracle restates the
    // full-table answer plus the Morton arithmetic.
    Q("q133_zorder_maintain",
      (s, d) => {
        val store = RunScope.scratch("graft_zmaint_")
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        val isInc = col("l_partkey").between(100, 355)
        zOrderWriteBucketed(li.filter(!isInc), "l_partkey", "l_partkey",
          "l_suppkey", bits = 16, path = store)
        zOrderMaintain(s, store, li.filter(isInc), "l_partkey",
          "l_partkey", "l_suppkey", bits = 16)
        s.read.parquet(store)
          .filter(col("l_partkey").between(200, 600) &&
            col("l_suppkey").between(5, 35))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .withColumn("zval",
            zOrder2(col("l_partkey"), col("l_suppkey"), 16))
          .orderBy(col("l_partkey"), col("l_suppkey"))
      },
      Some(s"""SELECT l_partkey, l_suppkey, count(*) AS n,
              round(sum(l_quantity), 2) AS sum_qty,
              CAST(${zOrder2Sql("l_partkey", "l_suppkey", 16)} AS BIGINT)
                AS zval
              FROM lineitem
              WHERE l_partkey BETWEEN 200 AND 600
                AND l_suppkey BETWEEN 5 AND 35
              GROUP BY l_partkey, l_suppkey
              ORDER BY l_partkey, l_suppkey""")),

    // ---- shard manifest (q142): the reproducibility artifact every
    // dataset RELEASE ships — per-shard row counts, char sizes, id
    // ranges, and an ORDER-INVARIANT content signature (bit_xor of a
    // per-row md5-derived 60-bit value over doc_id:text), so a consumer
    // can verify a shard without sorting it and a producer can re-derive
    // the manifest under any task ordering. The demo WRITES the corpus
    // as a shard-partitioned store and manifests the WRITTEN ARTIFACT
    // (read back), while the oracle manifests the INPUT table — their
    // equality is the write-path integrity proof: any row dropped,
    // duplicated, or corrupted between input and artifact flips the
    // shard's signature. Everything reduces map-side (count/sum/xor are
    // all partial-aggregable); the signature algebra is the same
    // any-split-merges reasoning as q139's bins — xor is associative,
    // commutative, self-inverse. Scale: the manifest is shard-count-
    // sized; per-row cost one md5; no shuffle beyond the shard-keyed
    // partial-aggregate merge.
    Q("q142_shard_manifest",
      (s, d) => {
        val store = RunScope.scratch("graft_release_")
        Tables.documents(s, d)
          .withColumn("shard", col("doc_id") % 8)
          .write.mode("overwrite").partitionBy("shard").parquet(store)
        s.read.parquet(store)
          // partition-dir column reads back as INT; manifest keys are
          // BIGINT in both engines
          .withColumn("shard", col("shard").cast("long"))
          .withColumn("sig",
            expr("CAST(conv(substr(md5(concat(doc_id, ':', text)), 1, 15)," +
              " 16, 10) AS BIGINT)"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_rows"),
            sum(length(col("text"))).as("n_chars"),
            expr("bit_xor(sig)").as("content_sig"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("shard"))
      },
      Some("""SELECT doc_id % 8 AS shard, count(*) AS n_rows,
              CAST(sum(length(text)) AS BIGINT) AS n_chars,
              bit_xor(('0x' ||
                substr(md5(doc_id || ':' || text), 1, 15))::BIGINT)
                AS content_sig,
              min(doc_id) AS min_id, max(doc_id) AS max_id
              FROM documents GROUP BY 1 ORDER BY shard"""))
  )
}
