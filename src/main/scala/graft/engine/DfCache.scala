package graft.engine

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of per-(application, sfDir) session state: persisted
  * intermediates, memoized values (base relations, build-once txn
  * fixtures, staged stream layouts), fixed scratch directories, and
  * the write-once layouts derived from a fixture.
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
  * snapshots).
  *
  * Layouts: a file layout derived from fixture files (a clustered or
  * partitioned copy, a stats sidecar, a summary table) is written once
  * under `/tmp/graft_scratch/<tag>/<name>/`, shared by every JVM on
  * that fixture, through [[layout]] — the one copy of the freshness
  * rule and the one rebuild. */
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

  /** Persist-once frame for (application, sfDir, name), bound to
    * `spark`: a [[QuerySession]] clone plans over it under its own
    * confs and still reads the cached rows. */
  def apply(spark: SparkSession, sfDir: String, name: String)(
      build: => DataFrame): DataFrame =
    QuerySession.bind(entry(spark, sfDir, name) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      Entry(df, Some(df))
    }.asInstanceOf[DataFrame], spark)

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

  /** Root of the layouts derived from fixture `sfDir`. Oracles that
    * read a layout's files (Verify's `__SCRATCH__`) resolve here. */
  def layoutRoot(sfDir: String): String =
    "/tmp/graft_scratch/" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** A layout's commit marker, written last: its content is the spec
    * the layout was built under. [[graft.sources.GraftCatalog]] keys
    * its resolution cache on it. */
  private[graft] val SpecFile = "_GRAFT_SPEC"

  private def newestUnder(f: File): Long =
    if (f.isDirectory)
      (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
        .map(newestUnder).toSeq).max
    else f.lastModified()

  /** Fresh: the spec file holds `spec` and is no older than the newest
    * file under every source. */
  private def fresh(dir: File, spec: String, sources: Seq[String]): Boolean = {
    val marker = new File(dir, SpecFile)
    marker.exists() && Files.readString(marker.toPath) == spec &&
      sources.forall(s => newestUnder(new File(s)) <= marker.lastModified())
  }

  private val layoutLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The directory of layout `name` derived from fixture `sfDir`,
    * (re)built by `write(dir)` unless fresh. `spec` names everything
    * besides `sources` that the files depend on (columns, clustering,
    * read semantics): a code change to the layout must change it.
    * `write` gets an absent directory and writes every part of the
    * layout under it (sidecars included), so a rebuild replaces them
    * together. A rebuild holds a JVM lock and a file lock (other JVMs
    * share the directory), re-checks freshness under them, clears the
    * directory (marker first) and writes the marker last. */
  def layout(sfDir: String, name: String, spec: String,
      sources: Seq[String])(write: String => Unit): String = {
    val dir = new File(layoutRoot(sfDir), name)
    if (!fresh(dir, spec, sources)) {
      dir.getParentFile.mkdirs()
      layoutLocks.computeIfAbsent(dir.getPath, _ => new AnyRef).synchronized {
        val ch = FileChannel.open(new File(dir.getParentFile, s"$name.lock")
          .toPath, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          ch.lock()
          if (!fresh(dir, spec, sources)) {
            new File(dir, SpecFile).delete()
            TxnLog.destroy(dir.getPath)
            write(dir.getPath)
            Files.writeString(new File(dir, SpecFile).toPath, spec)
          }
        } finally ch.close() // releases the file lock
      }
    }
    dir.getPath
  }
}
