package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graftshim.CheckpointShim
import org.apache.spark.storage.StorageLevel

/** What one run holds between composing its plan and acting on it: the
  * frames it persisted, its eager local checkpoints and its scratch dirs.
  * A lazily returned plan reads all three, so none can be freed by a
  * try/finally around the composition; the scope frees them when the
  * run is over.
  *
  * Where scopes open and close:
  *  - a catalog query composes inside the scope keyed by its name
  *    ([[keyed]], wrapped around every query by `Catalog.toQueries`).
  *    Composing query q again first closes q's previous scope, so a
  *    query's result stays valid until that same query is composed
  *    again: act on it before re-composing it. Other queries, on this
  *    thread or another, never free it;
  *  - a helper that specs and tools call directly opens a scope keyed by
  *    its own name the same way, and joins the caller's scope inside a
  *    query;
  *  - a streaming micro-batch runs in its own scope ([[batch]]), closed
  *    when the batch returns: a batch writes its output before it
  *    returns.
  *
  * Registering outside any scope throws: nothing would ever free it.
  * Composition registers on the composing thread, so scopes are
  * per-thread; Spark's stream threads start with none.
  */
final class RunScope private () extends AutoCloseable {
  private val frames = new ConcurrentLinkedQueue[Dataset[_]]
  private val dirs = new ConcurrentLinkedQueue[(String, Path)]

  /** Frees every frame at the layer that holds it and deletes every
    * scratch dir. Frames of a stopped SparkContext are skipped (their
    * storage went with it). Idempotent. */
  override def close(): Unit = {
    Iterator.continually(frames.poll()).takeWhile(_ != null)
      .filterNot(_.sparkSession.sparkContext.isStopped)
      .foreach(RunScope.release)
    Iterator.continually(dirs.poll()).takeWhile(_ != null)
      .foreach { case (_, p) => RunScope.deleteDir(p) }
  }
}

object RunScope {
  private val current = new ThreadLocal[RunScope]

  /** The open keyed scopes: each catalog query's (and each directly
    * called helper root's) last run. */
  private val open = TrieMap.empty[String, RunScope]

  // scratch dirs of runs still open at JVM exit
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      open.values.foreach(_.dirs.asScala.foreach(d => deleteDir(d._2)))))
  }

  /** Runs `body` in the scope keyed `key`: joins the current scope when
    * there is one, else closes `key`'s previous scope and opens a fresh
    * one, which stays open (its frames and dirs live) until `key` is
    * run again. */
  def keyed[T](key: String)(body: => T): T =
    if (current.get != null) body
    else {
      open.remove(key).foreach(_.close())
      val scope = new RunScope
      open(key) = scope
      within(scope)(body)
    }

  /** Runs `body` in a fresh scope that is closed when `body` returns —
    * a streaming micro-batch's scope. */
  def batch[T](body: => T): T = {
    val scope = new RunScope
    try within(scope)(body) finally scope.close()
  }

  private def within[T](scope: RunScope)(body: => T): T = {
    val outer = current.get
    current.set(scope)
    try body finally current.set(outer)
  }

  private def scope(what: String): RunScope = {
    val s = current.get
    if (s == null) throw new IllegalStateException(
      s"$what outside any RunScope: nothing would free it")
    s
  }

  /** Registers a persisted `ds` with the current scope; returns it. */
  def own[T](ds: Dataset[T]): Dataset[T] = {
    scope("a persisted frame").frames.add(ds)
    ds
  }

  /** An eager local checkpoint of `ds`, owned by the current scope.
    * MEMORY_AND_DISK: the checkpoint truncates lineage, so an evicted
    * memory-only block could not be recomputed. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    own(ds.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK))

  /** A fresh scratch dir under java.io.tmpdir, deleted with the current
    * scope. Its name carries `prefix` and [[jvmTag]]. */
  def scratch(prefix: String): String = {
    val s = scope("a scratch dir")
    val p = Files.createTempDirectory(prefix + jvmTag)
    s.dirs.add(prefix -> p)
    p.toString
  }

  /** Frees a frame's storage now, at whichever layer holds it: the
    * underlying RDD's blocks for a checkpointed frame (on which
    * `Dataset.unpersist` is a CacheManager no-op), the CacheManager
    * entry for a plain persist. Non-blocking. */
  def release(ds: Dataset[_]): Unit =
    CheckpointShim.checkpointedRdd(ds) match {
      case Some(rdd) => rdd.unpersist(blocking = false); ()
      case None => ds.unpersist(false); ()
    }

  private def deleteDir(p: Path): Unit =
    try FileUtils.deleteDirectory(p.toFile)
    catch { case _: java.io.IOException => () }

  /** (prefix -> dir) over the open keyed scopes' scratch dirs. */
  private[graft] def snapshot: Map[String, Path] =
    open.values.flatMap(_.dirs.asScala).toMap

  /** Scratch dir names carry this tag, so this JVM's dirs can be told
    * apart from a concurrent graft process's dirs of the same prefix. */
  private[graft] val jvmTag = s"-p${ProcessHandle.current().pid()}-"
}
