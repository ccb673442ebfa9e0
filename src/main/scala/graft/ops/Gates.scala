package graft.ops

import scala.collection.mutable

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.graftshim.CallSiteShim

/** Every size gate of the engine, each with the memory its driver path
  * may use (PipelineOpsSpec asserts the byte bounds), and the one bounded
  * driver collect they share. Operators keep a gate parameter defaulting
  * to the constant here; tests pass 0 to force the relational path. */
object Gates {

  /** Input edges up to which [[PipelineOps.connectedComponents]] and
    * [[PipelineOps.mergeDeltaIntoLabels]] close the graph with the driver
    * union-find instead of the distributed min-label loop (whose ~0.5 s
    * per round of fixed overhead dwarfs delta-sized graphs). Memory:
    * ≤ gate × 16 B = 3.2 MB of collected rows (~10 MB as driver Rows)
    * and ≤ 2·gate union-find entries (~25 MB). */
  val DriverEdges: Int = 200000

  /** Rows up to which [[TextOps.deltaPairsAgainstIndex]] finds and
    * verifies an increment's candidates on the driver. Every driver
    * collect of that path is bounded by it: the increment's band rows and
    * the probed index rows (int band, long bucket, long doc id:
    * ≤ gate × 20 B = 1 MB each, ~4 MB as driver Rows), the candidate
    * pairs (≤ gate tuples, ~3 MB) and the candidate docs whose
    * fingerprints are collected (≤ gate arrays of 8 B per trigram:
    * ≤ 39 MB for this corpus's ≤ 100-token docs). 50k band rows is an
    * increment of ~1,500 docs, more than the sf0.1 increment. */
  val DeltaRows: Int = 50000

  /** Live nodes above which the PageRank loops ([[GraphOps.pageRankScaled]],
    * [[GraphOps.pageRankMaintainServe]]) SHUFFLE the per-iteration
    * (node, rank, deg) relation to the edge layout instead of
    * broadcasting it; the loops count their nodes anyway, so the gate
    * needs no probe. A broadcast collects the relation to the driver and
    * ships it to every executor — 3 longs/row ≈ 24 B × gate = 24 MB
    * (≈3× that transiently as driver rows), well inside a 1 GB driver
    * heap, re-paid once per iteration. Above the gate the broadcast
    * would cost nodes × executors bytes per iteration, while the shuffled
    * plan moves the node-sized rank relation once per iteration plus a
    * contribution exchange bounded by nodes × partitions. GraphOpsSpec
    * asserts both paths give bit-identical ranks. */
  val BroadcastNodes: Long = 1000000L

  /** Input rows up to which QUADRATIC verification stays in the benched
    * plan ([[verifyInPlan]]): an exact brute-force top-k measuring ANN
    * recall (q41/q44/q74), an all-pairs signature scan checking
    * pigeonhole completeness (q36). The check is the point at oracle
    * scale — the driver's DuckDB compare runs at sf0.01 and the
    * invariants must be computed, not assumed — but it is the cost the
    * production operator exists to avoid, so above the gate the query
    * runs the production path alone and reports the un-checked sentinel,
    * and the spec tier asserts the property on small corpora (each use
    * site says which). The gate sits between the oracle SF (500 rows at
    * sf0.01) and the bench SF (2000-5000 rows at sf0.1).
    *
    * Memory: the worst in-plan verification is MaxRows² = 1e6 pairs — at
    * ~100 B/pair of join state ~100 MB spread across the session's
    * shuffle partitions (~3 MB/task at 32), comfortably inside any
    * executor. A retune must keep MaxRows² × 100 B ≪ aggregate executor
    * memory. */
  val MaxRows: Int = 1000

  /** Input rows up to which a LINEAR corpus-sized verification leg stays
    * in the benched plan ([[verifyInPlan]]: q193/q194's
    * merge-equals-full rebuild and exact-rank pass). The cost gated is
    * one more full-corpus scan at serve time, which a sketch-sized read
    * exists to avoid; memory is not the constraint. The bound sits
    * between the events table's oracle SF (10k rows at sf0.01) and its
    * bench SF (100k at sf0.1). */
  val MaxRowsLinear: Int = 20000

  /** True when `df` has at most `maxRows` rows ([[MaxRows]] for a
    * quadratic check, [[MaxRowsLinear]] for a linear leg): one probe job,
    * paid by the benched query itself so the gate never hides cost. The
    * `graft.forceVerify` system property holds the gate open for the
    * measurement tier (RecallProbe, VectorOpsSpec's floors at bench SF);
    * Bench and Verify never set it. */
  def verifyInPlan(df: DataFrame, maxRows: Int = MaxRows): Boolean =
    sys.props.get("graft.forceVerify").contains("1") ||
      collectBounded(df.select(), maxRows).isDefined

  /** `df`'s rows in partition order, or None when it has more than
    * `bound` (always None for a negative bound). One Spark job reads all
    * partitions in parallel, each task shipping at most bound + 1 rows;
    * the result handler adds the rows up, and once the total passes the
    * bound it drops what it holds and cancels the job. Rows held on the
    * driver: at most `bound` in the handler, plus at most bound + 1 in
    * each task result Spark has fetched and not yet handed to it. A local
    * relation is read without a job; the job carries the caller's call
    * site. */
  def collectBounded(df: DataFrame, bound: Int): Option[Array[Row]] =
    if (df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
      Some(df.collect()).filter(_.length <= bound)
    else {
      val sc = df.sparkSession.sparkContext
      val perTask = if (bound == Int.MaxValue) bound else bound + 1
      // written by the result handler, which Spark calls on one thread
      val held = mutable.ArrayBuffer.empty[(Int, Array[InternalRow])]
      var total = 0L // past the bound once the job is cancelled
      val tag = s"graft-collect-bounded-${java.util.UUID.randomUUID}"
      sc.addJobTag(tag)
      try CallSiteShim.asCaller(sc, "graft.ops.Gates") {
        sc.runJob(df.queryExecution.toRdd,
          (rows: Iterator[InternalRow]) => rows.take(perTask).map(_.copy()).toArray,
          (part: Int, rows: Array[InternalRow]) => if (total <= bound) {
            total += rows.length
            if (total > bound) { held.clear(); sc.cancelJobsWithTag(tag) }
            else held += part -> rows
          })
      } catch { case _: SparkException if total > bound => } // cancelled
      finally sc.removeJobTag(tag)
      if (total > bound) None
      else Some(held.sortBy(_._1).iterator.flatMap(_._2)
        .map(ExpressionEncoder(df.schema).resolveAndBind().createDeserializer())
        .toArray)
    }
}
