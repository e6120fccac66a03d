package graft.engine

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of per-(application, sfDir) session state: persisted
  * intermediates, memoized values (base relations, build-once txn
  * fixtures, staged stream layouts) and fixed scratch directories.
  *
  * Motivation for caching at all: Catalyst does not deduplicate
  * repeated logical subtrees, so a shared intermediate (normalized
  * ratings, the shingle inverted index) would otherwise recompute per
  * referencing subtree — up to 6× within ONE plan. Values are
  * decimal-exact, so caching cannot change bytes. MEMORY_AND_DISK:
  * at cluster scale the intermediate may exceed executor memory —
  * spill, don't OOM.
  *
  * Lifecycle — one map keyed by (scope, name), scope =
  * application|sfDir, and one rule: touching a NEW scope drops every
  * other scope's entries. A long-lived session sweeping many
  * scale-factor directories holds ONE directory's state instead of
  * accumulating all of them (the harness never interleaves sfDirs, so
  * eviction never thrashes; an interleaving caller just rebuilds,
  * which is correct, only slower). A dropped persisted frame is
  * unpersisted without blocking — executors free storage
  * asynchronously. A dropped directory path is NOT deleted: a lazily
  * evaluated frame already handed to a caller may still read it.
  * Entry names are global across operator families and must not
  * collide.
  *
  * Scratch: every fixed per-scope directory lives under ONE
  * per-application parent, `$tmpdir/graft_app_<applicationId>/`.
  * One shutdown hook deletes this JVM's parents; a killed JVM's parent
  * is removed by the first scratch use of a later JVM once it is
  * [[StaleScratchMillis]] old. Deletes go through [[TxnLog.destroy]],
  * which never follows a symlink (a shallow clone links its source's
  * snapshots). */
object DfCache {

  private final case class Entry(value: Any, persisted: Option[DataFrame])

  private val m =
    scala.collection.concurrent.TrieMap.empty[(String, String), Entry]

  private def entry(spark: SparkSession, sfDir: String, name: String)(
      build: => Entry): Any = {
    val scope = s"${spark.sparkContext.applicationId}|$sfDir"
    m.keys.filter(_._1 != scope).foreach { k =>
      m.remove(k).flatMap(_.persisted).foreach(_.unpersist(blocking = false))
    }
    m.getOrElseUpdate((scope, name), build).value
  }

  /** Persist-once frame for (application, sfDir, name). */
  def apply(spark: SparkSession, sfDir: String, name: String)(
      build: => DataFrame): DataFrame =
    entry(spark, sfDir, name) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      Entry(df, Some(df))
    }.asInstanceOf[DataFrame]

  /** Build-once value for (application, sfDir, name); eviction only
    * forgets it. */
  def memo[T](spark: SparkSession, sfDir: String, name: String)(
      build: => T): T =
    entry(spark, sfDir, name)(Entry(build, None)).asInstanceOf[T]

  /** The inventory: every live (scope, name) key ... */
  def keys: Set[(String, String)] = m.keySet.toSet

  /** ... and the persisted frames among them. */
  def frames: Map[(String, String), DataFrame] =
    m.iterator.flatMap { case (k, e) => e.persisted.map(k -> _) }.toMap

  /** Age past which a scratch parent can only belong to a dead JVM: no
    * single run approaches it, while a live session's parent is
    * re-stamped on every [[scratch]] call. */
  private[graft] val StaleScratchMillis: Long = 6L * 3600 * 1000

  private val AppDirPrefix = "graft_app_"
  /** Swept besides the per-application parents: the txn scratch of the
    * older one-dir-per-table layout and catalog test tables. */
  private val SweptPrefixes = Seq(AppDirPrefix, "graft_txn_", "graft_cat")

  private def tmpDir = new File(System.getProperty("java.io.tmpdir"))
  private def safe(s: String): String = s.replaceAll("[^A-Za-z0-9]", "_")

  private val liveParents =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      liveParents.forEach(p => TxnLog.destroy(p))))
  private lazy val sweepOnce: Unit =
    sweepStale(tmpDir, System.currentTimeMillis() - StaleScratchMillis)

  /** Delete every scratch dir directly under `root` last modified
    * before `cutoff`. */
  private[graft] def sweepStale(root: File, cutoff: Long): Unit =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => SweptPrefixes.exists(f.getName.startsWith) &&
        f.isDirectory && f.lastModified < cutoff)
      .foreach(f => try TxnLog.destroy(f.getAbsolutePath)
        catch { case NonFatal(_) => () })

  /** The fixed scratch directory of (application, sfDir, tag). Neither
    * created nor wiped here: the caller owns its contents. */
  def scratch(spark: SparkSession, sfDir: String, tag: String): String = {
    sweepOnce
    val parent = new File(tmpDir,
      AppDirPrefix + safe(spark.sparkContext.applicationId))
    parent.mkdirs()
    parent.setLastModified(System.currentTimeMillis())
    if (liveParents.add(parent.getAbsolutePath)) cleanupAtExit
    new File(parent, s"${tag}_${safe(sfDir)}").getAbsolutePath
  }
}
