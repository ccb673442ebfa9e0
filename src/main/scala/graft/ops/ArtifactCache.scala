package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Per-session build-once memo for WRITTEN snapshot artifacts shared across
  * catalog family members (VERDICT r11 #4).
  *
  * Several queries probe byte-identical build-once artifacts and, before
  * this cache, each rebuilt its own private copy per run:
  *  - the banded-LSH snapshot index of the documents 80% cut (dfCap 16):
  *    q34c, q109, q144, q146, q148 — five builds of one artifact;
  *  - the exact normalized-text hash index of the same cut: q121, q137,
  *    q148 — three builds;
  *  - the snapshot cluster labels (closure over the LSH snapshot pairs at
  *    j ≥ 0.5): q144, q146 — two builds;
  *  - the ER block index of the customer base + its labels: q160, q164;
  *  - (round 12) the full-corpus LSH pair set (j ≥ 0.5, dfCap 16) and
  *    its cluster-label closure: q34, q45 (gated path), q45b, q85, q86
  *    — five detection sweeps and four closures of one identical
  *    relation collapsed to one of each.
  *
  * Production posture: a snapshot artifact is written ONCE at ingest and
  * every consumer probes it. This memo gives the demo catalog the same
  * economics — the first family member in a session pays the build (the
  * bench records it as that query's build_sec), later members reuse the
  * managed table — while correctness is guarded by the `tag`:
  *
  * A tag MUST uniquely determine the artifact's content (input dir +
  * every build parameter). Two call sites may share a (table, tag) pair
  * ONLY if their builds are provably content-identical; a different input
  * dir or parameterization yields a different tag and forces a rebuild,
  * so a stale artifact can never be served (each spec's planted temp dir
  * is unique, so tests always rebuild). Callers that cannot state such a
  * tag pass None and build unconditionally.
  */
object ArtifactCache {
  /** table -> (tag, the SparkContext it was built under; None when no
    * session was live). Weak: a stopped context is not kept alive. */
  private val built = scala.collection.mutable.Map.empty[String,
    (String, Option[java.lang.ref.WeakReference[SparkContext]])]

  private def liveContext: Option[SparkContext] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)

  /** The tag `table` was built under in the live context. A build under
    * a stopped context (a restarted session) does not count: its managed
    * table is gone from the new session's catalog. */
  private def liveTag(table: String): Option[String] =
    built.get(table).collect {
      case (t, ctx) if ctx.map(_.get) == liveContext => t
    }

  /** Run `build` unless `table` was already built in this context under
    * the same content tag. Synchronized: a benign double-build under
    * concurrency would corrupt a bucketed table. */
  def once(table: String, tag: Option[String])(build: => Unit): Unit =
    tag match {
      case None => build
      case Some(t) => synchronized {
        if (!liveTag(table).contains(t)) {
          build
          built(table) = (t, liveContext.map(new java.lang.ref.WeakReference(_)))
        }
      }
    }

  private[graft] def invalidate(table: String): Unit =
    synchronized { built -= table }

  /** The content tag `table` was last built under in this context (None
    * when it has not been built, or was built tagless). Lets a DERIVED
    * artifact (e.g. the src-bucketed twin of an edge store) key its own
    * build on the parent's content identity: parent rebuilt ⇒ child tag
    * changes ⇒ child rebuilds; parent untagged ⇒ child builds
    * unconditionally. */
  private[graft] def currentTag(table: String): Option[String] =
    synchronized { liveTag(table) }
}
