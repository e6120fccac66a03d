package graft.engine

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mini transaction log: optimistic-concurrency multi-writer commits
  * and time-travel reads over plain-parquet versioned snapshots —
  * the Delta-lake idea reduced to its load-bearing mechanisms,
  * built on nothing but the filesystem's atomic create:
  *
  *  1. **Version claim**: commit N+1 is claimed by atomically
  *     creating `_txn_log/vN+1.claim` (`File.createNewFile` —
  *     exactly one concurrent writer can win), and the winner writes
  *     a unique OWNER TOKEN into the claim it won. A writer that
  *     loses the claim did its work against a stale snapshot.
  *  2. **Read-set validation (OCC)**: every commit records the
  *     per-file [min, max] KEY RANGES its delta wrote (one row per
  *     written file — metadata-scale at any transaction size, the
  *     lakehouse manifest-stats shape; never a key list collected to
  *     the driver). A losing writer intersects its READ ranges
  *     against the written ranges of every intervening commit:
  *     disjoint → its delta is still serializable, re-claim with the
  *     same delta (rebase without recompute); overlapping → the
  *     classic lost-update hazard, the transaction is REJECTED and
  *     re-runs against the new snapshot. Range intersection is
  *     CONSERVATIVE (a false overlap costs one re-run, never a lost
  *     update), and the delta is range-partitioned on write so file
  *     ranges stay tight.
  *  3. **Fenced publish**: EVERYTHING a commit publishes — snapshot,
  *     delta, meta, schema/mapping audit entries, idempotency record
  *     — is staged in a claim-scoped uniquely-named directory, and
  *     the commit marker is created as a HARD LINK to a payload file
  *     inside that stage. `link(2)` fails if the target exists, so
  *     exactly one writer wins (unlike rename, which silently
  *     replaces), and it fails if the stage was trashed by a claim
  *     thief, so a resumed zombie whose claim was stolen can never
  *     publish a marker pointing at destroyed data. The marker's
  *     CONTENT names the winning stage; [[finishPublish]] then moves
  *     each staged artifact to its canonical name. finishPublish is
  *     idempotent and runs from ANY process — a reader that sees a
  *     marked version whose snapshot/meta has not appeared simply
  *     finishes the publish itself, so a writer crash between marker
  *     and renames can never brick the table.
  *
  * A version is visible to readers only once its `vN.commit` marker
  * exists, so a crashed writer's half-written claim is invisible to
  * READERS. For WRITERS the dead slot is recovered in-code: a
  * claim's owner heartbeats the claim file's mtime while it works,
  * and a waiting writer that sees a claim go a full `claimTimeoutMs`
  * without a heartbeat treats it as abandoned, deletes it, trashes
  * its stage via atomic rename (restoring it if the marker turns out
  * to have been won — recovery then completes that publish), and
  * re-claims the slot — no external janitor is required for
  * liveness after a writer crash.
  *
  * Schemas are evolvable through the log: a delta may carry columns
  * the current snapshot lacks (ADD COLUMN), back-filled on existing
  * rows from the commit's declared defaults and recorded in a
  * `vN.schema` audit entry; time travel to an older version shows
  * the old schema for free because each version's snapshot is
  * self-describing parquet.
  *
  * Scale notes (100 TB): the per-version materialized snapshot is
  * the fixture-scale stand-in for file-level copy-on-write — a real
  * table format rewrites only the files a delta touches; the
  * per-file written ranges here ARE that format's file-stats
  * manifest entries, so conflict validation stays O(files) for any
  * transaction width, and the claim/marker pair is byte-for-byte the
  * atomic-rename commit protocol those formats use on object stores.
  * Deltas stay keyed and bounded by the transaction (shuffle sized
  * by the change, not the table). */
object TxnLog {

  /** Per-file [min, max] written-key ranges — the metadata-scale
    * write/read-set descriptor. */
  type KeyRanges = Seq[(Long, Long)]

  /** Files per delta write (range-partitioned so per-file key ranges
    * are tight and near-disjoint — wide hash-scattered files would
    * make every range span the whole domain and every conflict check
    * a false positive). Meta size is O(DELTA_FILES) per commit. */
  val DELTA_FILES = 4

  /** Per-commit metadata: the version, the snapshot version the
    * writer read, and the per-file key ranges the commit wrote
    * (upserts + deletes). */
  final case class CommitMeta(version: Long, readVersion: Long,
      writtenRanges: KeyRanges)

  /** Transaction outcome statistics for one `commit` call. */
  final case class TxnStats(version: Long, attempts: Int, conflicts: Int)

  final class Conflict(msg: String) extends RuntimeException(msg)

  /** A commit whose post-state violated the table's CHECK constraint
    * — rejected before anything became visible (the claim is
    * released, the log is untouched). */
  final class CheckViolation(msg: String) extends RuntimeException(msg)

  private def logDir(root: String): File = new File(root, "_txn_log")

  private def metaFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.meta")
  private def claimFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.claim")
  private def commitMarker(root: String, v: Long): File =
    new File(logDir(root), s"v$v.commit")
  private def schemaFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.schema")
  private def vacuumTombstone(root: String, v: Long): File =
    new File(logDir(root), s"v$v.vacuumed")
  private def statsFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.stats")

  /** Persisted ANALYZE artifact for `version` (`vN.stats`): per-column
    * NDV lines `col|ndv`, written by the CBO's
    * [[graft.plans.Cbo.analyzeColumns]] and read back BEFORE any NDV
    * data scan — the `ANALYZE TABLE ... FOR COLUMNS` split every
    * warehouse makes, keyed by SNAPSHOT VERSION so a rewrite at the
    * same path (a new commit) can never be served a stale distinct
    * count. Empty map when no artifact exists at that version. */
  def readColumnStats(root: String, version: Long): Map[String, Long] = {
    val f = statsFile(root, version)
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { line =>
        val p = line.split("\\|", -1)
        p(0) -> p(1).toLong
      }.toMap
  }

  /** Merge-write the ANALYZE artifact for `version`: existing columns
    * are kept, `ndv` entries win, and the write is temp-file + atomic
    * move so a concurrent reader never sees a torn artifact. The
    * artifact is ADVISORY metadata (a lost race loses nothing but a
    * recomputation), so last-writer-wins is the right durability
    * level — unlike the commit markers, which use link(2) fencing. */
  def writeColumnStats(root: String, version: Long,
      ndv: Map[String, Long]): Unit = {
    logDir(root).mkdirs()
    val merged = readColumnStats(root, version) ++ ndv
    val body = merged.toSeq.sortBy(_._1)
      .map { case (c, n) => s"$c|$n" }.mkString("\n")
    val tmp = new File(logDir(root),
      s".v$version.stats.tmp${System.nanoTime()}")
    Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, statsFile(root, version).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def init(root: String): Unit = { logDir(root).mkdirs(); () }

  /** Atomic create-with-content: hard-link `payload` (a file inside
    * the winner's stage) into `target`. POSIX `link(2)` fails if the
    * target exists — exactly one concurrent caller wins — unlike
    * `ATOMIC_MOVE`, whose `rename(2)` silently REPLACES an existing
    * target and therefore cannot decide a race. It also fails with
    * `NoSuchFileException` if the payload's stage was trashed by a
    * claim thief, which is precisely the fence a resumed zombie
    * needs: it cannot mark a version whose data no longer exists. */
  private def atomicLink(target: File, payload: File): Boolean =
    try { Files.createLink(target.toPath, payload.toPath); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** Complete (or re-complete) the publish of a COMMITTED version:
    * the marker's content names the winning writer's stage directory
    * and every artifact still sitting there is renamed to its
    * canonical home. Idempotent and safe from ANY process — readers
    * call it when a marked version's snapshot or meta has not
    * appeared, so a writer crash between marker creation and the
    * renames is recoverable by the next reader instead of bricking
    * the table. Each move is `ATOMIC_MOVE` with already-done
    * tolerated: two racing recoverers win disjoint subsets and
    * converge on the same published state. Markers with empty
    * content (clone bootstrap) published directly — no-op. */
  private[graft] def finishPublish(root: String, v: Long): Unit = {
    val marker = commitMarker(root, v)
    if (!marker.exists()) return
    val token =
      try new String(Files.readAllBytes(marker.toPath),
        StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    if (token.isEmpty) return
    val stage = new File(root, s".stage_v${v}_$token")
    // a claim thief parks a stage in a DETERMINISTIC trash name while
    // it checks the marker; if the thief crashed between parking and
    // restoring a version that turned out to be marked, the staged
    // artifacts would be stranded under a name nobody looks for —
    // restore them here, so the "any reader can finish a crashed
    // publish" invariant survives a crashed THIEF too
    val trash = new File(root, s".trash_v${v}_$token")
    if (!stage.isDirectory && trash.isDirectory)
      try {
        Files.move(trash.toPath, stage.toPath,
          StandardCopyOption.ATOMIC_MOVE)
        ()
      } catch {
        case _: java.nio.file.NoSuchFileException => ()
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    if (!stage.isDirectory) return
    def mv(from: File, to: File): Unit =
      try {
        Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)
        ()
      } catch {
        case _: java.nio.file.NoSuchFileException => ()
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    // a metadata-only commit publishes a symlink instead of moving bytes
    val linkSpec = new File(stage, "snapshot_link")
    if (linkSpec.exists()) {
      val target = new String(Files.readAllBytes(linkSpec.toPath),
        StandardCharsets.UTF_8)
      try Files.createSymbolicLink(Paths.get(root, s"snapshot_v$v"),
        Paths.get(root, target).toAbsolutePath)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      linkSpec.delete()
    }
    mv(new File(stage, "snapshot"), new File(root, s"snapshot_v$v"))
    mv(new File(stage, "delta"), new File(root, s"delta_v$v"))
    mv(new File(stage, "meta"), metaFile(root, v))
    mv(new File(stage, "schema"), schemaFile(root, v))
    mv(new File(stage, "mapping"), mappingFile(root, v))
    mv(new File(stage, "types"), typesFile(root, v))
    mv(new File(stage, "txnid"), txnIdFile(root, v))
    new File(stage, "decider").delete()
    stage.delete()
    ()
  }

  private def txnIdFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.txn")

  /** Sweep every MARKED version whose stage (or parked trash)
    * directory still survives and finish its publish. Covers the
    * partial-publish residue readMeta's meta-missing heal cannot see:
    * a finishPublish raced by a thief's stage rename can land
    * snapshot+meta at canonical names while mapping/schema/txnid stay
    * behind in the restored stage — a mapping read would then
    * silently serve the PRE-alter mapping and the idempotency record
    * would be invisible. One directory listing (metadata-scale);
    * unmarked stages (in-flight writers) are untouched. */
  private def healStages(root: String): Unit =
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        n.startsWith(".stage_v") || n.startsWith(".trash_v")
      }
      .flatMap(f => f.getName.split("_").find(_.startsWith("v"))
        .flatMap(s => scala.util.Try(s.stripPrefix("v").toLong).toOption))
      .distinct
      .foreach(v => if (commitMarker(root, v).exists())
        finishPublish(root, v))

  /** The version a given application-level transaction id already
    * committed as, if any — the Delta `txn` (appId, version) dedup
    * that makes a re-driven streaming micro-batch a no-op instead of
    * a double-apply. */
  def committedTxn(root: String, txnId: String): Option[Long] = {
    healStages(root)
    Option(logDir(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".txn"))
      .find(f => new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8) == txnId)
      .map(_.getName.stripPrefix("v").stripSuffix(".txn").toLong)
  }

  /** Largest version whose commit marker exists; -1 for an empty
    * table. Claims without markers (in-flight or crashed writers)
    * are invisible. */
  def latestCommitted(root: String): Long = {
    val files = Option(logDir(root).listFiles()).getOrElse(Array.empty)
    val committed = files.filter(_.getName.endsWith(".commit"))
      .map(_.getName.stripPrefix("v").stripSuffix(".commit").toLong)
    if (committed.isEmpty) -1L else committed.max
  }

  /** Time travel: the materialized snapshot as of `version`,
    * resolved through the COLUMN MAPPING in force at that version
    * (logical names; physically-absent mapped columns materialize
    * their declared default). The committer renames data into place
    * immediately after its marker, so a racing reader polls briefly
    * rather than failing on the microsecond marker-to-rename
    * window. */
  def read(spark: SparkSession, root: String, version: Long): DataFrame = {
    val df0 = readPhysical(spark, root, version)
    // declared-type promotion FIRST (by physical name): versions at
    // or above a widening commit read narrow historical files through
    // the wider type; versions below it never see the types table, so
    // time travel across the boundary shows the old schema
    val declared = currentTypes(root, version)
    val df =
      if (declared.isEmpty) df0
      else df0.select(df0.columns.map(c =>
        declared.get(c).map(t => col(c).cast(t).as(c))
          .getOrElse(col(c))): _*)
    currentMapping(root, version) match {
      case None => df
      case Some(m) =>
        val phys = df.columns.toSet
        df.select(col("key") +: m.map { case (l, p, d) =>
          if (phys(p)) col(p).as(l)
          else lit(d.map(Long.box).orNull)
            .cast(declared.getOrElse(p, "long")).as(l)
        }: _*)
    }
  }

  /** The snapshot as stored on disk — PHYSICAL column names, no
    * mapping resolution. Writers work here (deltas are translated to
    * physical before merge), readers go through [[read]]. */
  private def readPhysical(spark: SparkSession, root: String,
      version: Long): DataFrame = {
    require(version >= 0 && commitMarker(root, version).exists(),
      s"version $version does not exist or is uncommitted")
    require(!vacuumTombstone(root, version).exists(),
      s"version $version was vacuumed — its snapshot data is gone " +
        "(markers/metas remain for audit)")
    val dir = new File(root, s"snapshot_v$version")
    // self-healing read: a marked version whose snapshot has not
    // appeared is a publish another process can finish (crash between
    // marker and renames, or a thief's transient stage-trash/restore
    // window) — recover it here rather than waiting on the writer
    var waitedMs = 0L
    while (!dir.isDirectory && !Files.isSymbolicLink(dir.toPath) &&
        waitedMs < 3000L) {
      finishPublish(root, version)
      if (!dir.isDirectory) { Thread.sleep(25L); waitedMs += 25L }
    }
    // diagnosability: a snapshot that IS present as a name but leads
    // nowhere is a dangling link — the shallow-clone caveat (the
    // SOURCE table vacuumed the snapshot this clone references), not
    // a publish in flight
    if (!dir.isDirectory && Files.isSymbolicLink(dir.toPath))
      throw new IllegalStateException(
        s"version $version's snapshot is a dangling link to " +
          s"${Files.readSymbolicLink(dir.toPath)} — the referenced " +
          "snapshot was vacuumed from the source table this table " +
          "shallow-cloned (vacuuming a clone's SOURCE removes data the " +
          "clone references; re-clone or restore the source version)")
    require(dir.isDirectory,
      s"version $version is committed but its snapshot never appeared")
    // Explicit footer-derived schema: every snapshot is written by ONE
    // write job, so one footer is authoritative, and handing the
    // reader the schema skips the per-read schema-resolution job the
    // commit protocol otherwise pays on every snapshot read (r14 txn
    // stage profiles: recurring 1-task "parquet at readPhysical" jobs
    // bracketing every commit). Falls back to inference if the footer
    // walk finds nothing (racing publisher) — correctness never
    // depends on the fast path.
    parquetSchema(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir.getAbsolutePath)
      case None => spark.read.parquet(dir.getAbsolutePath)
    }
  }

  /** Driver-side schema of a parquet dir written by one Spark job:
    * first non-empty file's footer through Spark's own
    * parquet→Catalyst converter, nullability relaxed exactly the way
    * schema inference relaxes it (inference returns every field
    * nullable; handing the reader a REQUIRED field would change the
    * result frame's schema). */
  private def parquetSchema(spark: SparkSession,
      dir: File): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    def nullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = nullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    val canonical = dir.getCanonicalFile
    Option(canonical.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
      .sortBy(_.getName).headOption.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration())
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val msg =
          try reader.getFooter.getFileMetaData.getSchema
          finally reader.close()
        val converted = new org.apache.spark.sql.execution.datasources
          .parquet.ParquetToSparkSchemaConverter(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
              .sessionState.conf).convert(msg)
        StructType(converted.fields.map(f2 =>
          f2.copy(dataType = nullable(f2.dataType), nullable = true)))
      }
  }

  private def encodeRanges(rs: KeyRanges): Seq[String] =
    rs.map(r => s"${r._1}:${r._2}")
  private def decodeRange(s: String): (Long, Long) = {
    val p = s.split(":", 2); (p(0).toLong, p(1).toLong)
  }

  def readMeta(root: String, version: Long): CommitMeta = {
    val f = metaFile(root, version)
    // a marked version's meta may still be in its stage (publish
    // crash) — finish the publish before falling back to checkpoints
    if (!f.exists()) finishPublish(root, version)
    if (f.exists()) {
      val lines = new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).linesIterator.toSeq
      CommitMeta(lines.head.toLong, lines(1).toLong,
        lines.drop(2).map(decodeRange))
    } else {
      // compacted away: serve from the newest checkpoint covering it
      val ckpt = Option(logDir(root).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".ckpt"))
        .map(c => c.getName.stripPrefix("checkpoint_")
          .stripSuffix(".ckpt").toLong -> c)
        .filter(_._1 >= version)
        .sortBy(_._1).headOption
        .getOrElse(throw new IllegalStateException(
          s"no meta or checkpoint for version $version"))._2
      new String(Files.readAllBytes(ckpt.toPath), StandardCharsets.UTF_8)
        .linesIterator
        .map(_.split("\\|", -1))
        .find(_.head.toLong == version)
        .map(p => CommitMeta(p(0).toLong, p(1).toLong,
          if (p(2).isEmpty) Nil
          else p(2).split(",").toSeq.map(decodeRange)))
        .getOrElse(throw new IllegalStateException(
          s"version $version missing from checkpoint ${ckpt.getName}"))
    }
  }

  /** Log compaction (the Delta checkpoint idea): squash every commit
    * meta ≤ the latest committed version into ONE checkpoint file and
    * delete the per-version metas, bounding log-directory file count
    * for long-lived tables. Read-set validation is unaffected —
    * [[readMeta]] transparently serves compacted versions from the
    * checkpoint. Commit markers stay (they are the visibility
    * source of truth and one byte each). Returns the checkpointed
    * version. */
  def checkpoint(root: String): Long = {
    val v = latestCommitted(root)
    require(v >= 0, "nothing to checkpoint")
    val body = (0L to v).map { u =>
      val m = readMeta(root, u)
      s"${m.version}|${m.readVersion}|${encodeRanges(m.writtenRanges).mkString(",")}"
    }.mkString("\n")
    val f = new File(logDir(root), s"checkpoint_$v.ckpt")
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    // only delete after the checkpoint is durably in place
    (0L to v).foreach(u => metaFile(root, u).delete())
    v
  }

  /** OPTIMIZE (small-file compaction): commit a new version whose
    * snapshot is the latest state bin-packed into `targetFiles`
    * hash-partitioned files — same rows, better layout. The delta is
    * EMPTY and the written-range set is EMPTY, so an optimize never
    * conflicts with any concurrent data commit (read-set validation
    * sees no overlap) — exactly how lakehouse formats make OPTIMIZE
    * a background citizen. Routed through [[commit]] itself, so it
    * inherits the full claim protocol: marker-fenced publish,
    * wait-for-marker on a lost claim, and age-checked recovery of a
    * crashed writer's orphaned claim. Returns the new version.
    *
    * Scale note (100 TB): compaction cost is a read+write of the
    * live data ONLY (no shuffle beyond the repartition), and the
    * hash-by-key layout means a downstream keyed join/agg can reuse
    * the partitioning. A real multi-TB table would compact per
    * partition-bucket; the claim protocol and empty-write-set
    * conflict rule carry over unchanged. */
  def optimize(spark: SparkSession, root: String,
      targetFiles: Int, maxAttempts: Int = 10): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    require(latestCommitted(root) >= 0, "nothing to optimize")
    commit(spark, root,
      _ => (emptyDelta(spark), Nil),
      maxAttempts = maxAttempts,
      layout = Some(_.repartition(targetFiles, col("key"))))
      .version
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` / an
    * Iceberg snapshot ref): create a new table at `dstRoot` whose
    * version 0 IS `srcRoot`'s latest committed snapshot, copying
    * ZERO data bytes — the clone's `snapshot_v0` is a filesystem
    * link to the source's snapshot directory (the local-FS stand-in
    * for a manifest that lists the source's files by reference).
    * The clone's v0 meta declares an EMPTY write set (creating a
    * clone conflicts with nothing), and subsequent commits on the
    * clone stage their own snapshots/deltas under `dstRoot` — the
    * two tables diverge freely and the source is never touched.
    * Like Delta, the clone starts with no change feed (its history
    * begins at the clone point); `changes`/lineage reads of the
    * clone cover only its own commits. At 100 TB a shallow clone is
    * a metadata-only operation — one link + one meta file — which is
    * the entire point: test/dev forks of production tables without a
    * copy job. Returns the source version that was cloned.
    *
    * BACK-REFERENCE (round-10; closes the classic Delta caveat where
    * the source does not know its snapshots are referenced): the
    * clone registers itself in the SOURCE's log (`clone_<tag>.ref`
    * naming the clone root and pinned version), and [[vacuum]] of
    * the source treats versions referenced by LIVE clones as pinned
    * — exactly like tags — so a routine retention sweep can no
    * longer sever a clone's data. A dropped clone (its root gone, or
    * its own v0 vacuumed) releases the pin: the stale ref is
    * garbage-collected on the source's next vacuum. The dangling-link
    * diagnostic in [[readPhysical]] stays as the backstop for refs
    * removed out-of-band. */
  def cloneShallow(srcRoot: String, dstRoot: String): Long = {
    val srcV = latestCommitted(srcRoot)
    require(srcV >= 0, "source table has no committed version to clone")
    require(!vacuumTombstone(srcRoot, srcV).exists(),
      s"source version $srcV was vacuumed")
    destroy(dstRoot)
    init(dstRoot)
    Files.createSymbolicLink(
      Paths.get(dstRoot, "snapshot_v0"),
      Paths.get(srcRoot, s"snapshot_v$srcV").toAbsolutePath)
    writeMeta(dstRoot, CommitMeta(0L, -1L, Nil))
    require(commitMarker(dstRoot, 0L).createNewFile(),
      s"clone target $dstRoot already has a committed v0")
    // back-ref AFTER the clone is materialized but before it is
    // handed to the caller: unique per (clone path, version), so
    // re-cloning the same destination just overwrites its own ref.
    // The tag is the full SHA-256 of the destination path — a 32-bit
    // hashCode could collide across two distinct clone destinations
    // of the same source version, silently dropping one clone's
    // vacuum pin
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(new File(dstRoot).getAbsolutePath
        .getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString + s"_v$srcV"
    Files.write(new File(logDir(srcRoot), s"clone_$tag.ref").toPath,
      s"${new File(dstRoot).getAbsolutePath}|$srcV"
        .getBytes(StandardCharsets.UTF_8))
    srcV
  }

  /** Source versions pinned by LIVE shallow clones; stale refs
    * (clone root gone, or the clone's own v0 dropped) are deleted —
    * the ref lifecycle is owned entirely by the source's vacuum. */
  private def clonePinnedVersions(root: String): Set[Long] =
    Option(logDir(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("clone_") &&
        f.getName.endsWith(".ref"))
      .flatMap { f =>
        // a truncated/corrupt ref is STALE, not fatal: treat it like
        // a dropped clone (delete the ref) instead of failing every
        // subsequent vacuum of the source
        scala.util.Try {
          val parts = new String(Files.readAllBytes(f.toPath),
            StandardCharsets.UTF_8).split("\\|", 2)
          (parts(0), parts(1).toLong)
        }.toOption match {
          case Some((dst, v)) =>
            val live = new File(dst, "_txn_log").isDirectory &&
              Files.isSymbolicLink(Paths.get(dst, "snapshot_v0")) &&
              !vacuumTombstone(dst, 0L).exists()
            if (live) Some(v) else { f.delete(); None }
          case None => f.delete(); None
        }
      }.toSet

  /** Retention vacuum: delete snapshot + delta data for all versions
    * older than the last `keepLast` committed ones, EXCEPT versions
    * pinned by a [[tag]]. Markers and metas stay (history remains
    * auditable; the data is what storage pays for) — a time-travel
    * read of a vacuumed version fails with the descriptive error in
    * [[read]] (a tombstone distinguishes "vacuumed" from "publish in
    * flight"). Returns the evicted versions. */
  def vacuum(root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val latest = latestCommitted(root)
    // tags pin explicitly; live shallow clones pin by back-reference
    val pinned = taggedVersions(root) ++ clonePinnedVersions(root)
    // REACHABILITY: a retained version whose snapshot is a LINK
    // (metadata-only commit) keeps its referent's data alive — the
    // same live-file rule a manifest-based vacuum applies. Resolve
    // each retained root transitively and protect what it lands on.
    val retained = ((latest - keepLast + 1) to latest) ++ pinned
    val reachable = retained.flatMap { v =>
      val p = Paths.get(root, s"snapshot_v$v")
      // Files.exists follows links, so a dangling link (source table
      // vacuumed under a clone) is simply not reachable — skip it
      // rather than letting toRealPath throw
      if (Files.exists(p))
        Some(p.toRealPath().getFileName.toString
          .stripPrefix("snapshot_v").toLong)
      else None
    }.toSet
    val evict = (0L to (latest - keepLast)).filterNot(pinned)
      .filterNot(reachable)
      .filterNot(vacuumTombstone(root, _).exists())
    evict.foreach { v =>
      destroyDir(new File(root, s"snapshot_v$v"))
      destroyDir(new File(root, s"delta_v$v"))
      vacuumTombstone(root, v).createNewFile()
    }
    evict
  }

  /** OPTIMIZE with CLUSTERING (`OPTIMIZE ... ZORDER BY key` on one
    * dimension): compaction that also SORTS — the post snapshot is
    * range-partitioned and sorted on the key, so the resulting files
    * hold pairwise-DISJOINT key ranges, which is exactly the layout
    * per-file stats skipping wants (a point or range read opens the
    * one or two files whose range intersects, not all of them). Same
    * empty-write-set commit as [[optimize]] — a clustering rewrite
    * never conflicts with concurrent data commits. At 100 TB this is
    * the background job that turns ingest-ordered files into
    * query-ordered files; cost is one read+sort+write of live data,
    * amortized across every subsequent pruned scan. */
  def optimizeClustered(spark: SparkSession, root: String,
      targetFiles: Int, maxAttempts: Int = 10): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    require(latestCommitted(root) >= 0, "nothing to optimize")
    commit(spark, root,
      _ => (emptyDelta(spark), Nil),
      maxAttempts = maxAttempts,
      layout = Some(_.repartitionByRange(targetFiles, col("key"))
        .sortWithinPartitions("key")))
      .version
  }

  /** Did version `v`'s commit evolve the schema (ADD COLUMN audit
    * entry present)? */
  def schemaChanged(root: String, v: Long): Boolean =
    schemaFile(root, v).exists()

  private def tagFile(root: String, name: String): File =
    new File(logDir(root), s"tag_$name.ref")

  /** NAMED SNAPSHOT REFERENCE (an Iceberg TAG / a Delta named
    * version): pin `name` to a committed `version`. A tag is a
    * retention root — [[vacuum]] never evicts a tagged version — so
    * an auditor's pinned read ("the table as the Q3 report saw it")
    * survives any retention policy. At 100 TB the tag is one tiny
    * ref file in the log directory; the alternative (a copy of the
    * pinned state) is the whole table. Re-tagging moves the ref
    * (last write wins), `tag_<name>.ref` holding just the version. */
  def tag(root: String, name: String, version: Long): Unit = {
    require(commitMarker(root, version).exists(),
      s"cannot tag uncommitted version $version")
    require(!vacuumTombstone(root, version).exists(),
      s"cannot tag vacuumed version $version")
    Files.write(tagFile(root, name).toPath,
      version.toString.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** The version a tag points at (fails on an unknown tag). */
  def tagVersion(root: String, name: String): Long = {
    val f = tagFile(root, name)
    require(f.exists(), s"no tag named '$name'")
    new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).trim.toLong
  }

  /** Time travel by NAME: read the snapshot a tag pins. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, tagVersion(root, name))

  /** Every version currently pinned by a tag — vacuum's skip set. */
  private def taggedVersions(root: String): Set[Long] =
    Option(logDir(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("tag_") &&
        f.getName.endsWith(".ref"))
      .map(f => new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).trim.toLong)
      .toSet

  // ------------------------------------------------------------------
  // COLUMN MAPPING (the Delta column-mapping / Iceberg field-id idea):
  // logical names are resolved through a per-version mapping to the
  // PHYSICAL names stored in parquet, so RENAME and DROP are pure
  // metadata commits — no data file is ever rewritten — and a column
  // re-added after a drop binds to a FRESH physical name, so the old
  // physical data can never resurrect under the new logical column.
  // ------------------------------------------------------------------

  /** (logical, physical, default-for-physically-absent) triples, in
    * read order. The full mapping is snapshotted per metadata commit
    * (`vN.mapping`) — O(columns), not O(history). */
  type ColMapping = Vector[(String, String, Option[Long])]

  private def mappingFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.mapping")

  // ------------------------------------------------------------------
  // TYPE WIDENING (the Delta type-widening / Iceberg schema-evolution
  // idea): `ALTER COLUMN ... TYPE` publishes a per-version DECLARED
  // TYPE table (`vN.types`, physical name → DDL type) as a pure
  // metadata commit. Historical files keep their narrow physical
  // type and read THROUGH the widening (Spark 4's parquet readers
  // promote int32→int64 etc. natively when handed the wider schema);
  // post-widen snapshots are stored wide because the merge's union
  // coerces to the declared type. Time travel below the ALTER shows
  // the old narrow schema for free, exactly like the mapping.
  // ------------------------------------------------------------------

  private def typesFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.types")

  /** Declared types in force at `upTo` (physical name → DDL type);
    * empty before the first widening commit. */
  def currentTypes(root: String, upTo: Long): Map[String, String] = {
    healStages(root)
    Option(logDir(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".types"))
      .map(f => f.getName.stripPrefix("v")
        .stripSuffix(".types").toLong -> f)
      .filter(_._1 <= upTo)
      .sortBy(-_._1).headOption
      .map(p => new String(Files.readAllBytes(p._2.toPath),
        StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty)
        .map { line =>
          val i = line.indexOf('|'); line.substring(0, i) ->
            line.substring(i + 1)
        }.toMap)
      .getOrElse(Map.empty)
  }

  /** Is `to` a LOSSLESS widening of `from`? The supported promotions
    * are the ones Spark's parquet readers execute natively: int →
    * bigint/double/decimal(≥10,0), bigint → decimal(≥20,0), float →
    * double, and decimal precision growth at fixed-or-grown scale
    * with the integral digits never shrinking. */
  private[graft] def isWidening(from: String, to: String): Boolean = {
    import org.apache.spark.sql.types._
    def parse(s: String): DataType =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(s)
    (parse(from), parse(to)) match {
      case (a, b) if a == b => false
      case (IntegerType, LongType | DoubleType) => true
      case (IntegerType, d: DecimalType) =>
        d.precision - d.scale >= 10
      case (LongType, d: DecimalType) =>
        d.precision - d.scale >= 20
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale
      case _ => false
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN <logical> TYPE <newType>` —
    * metadata-only widening: one commit publishing a linked snapshot
    * plus the new declared-type table. No data file is rewritten;
    * reads of HISTORICAL versions that predate the ALTER keep the
    * narrow schema (time travel across the boundary), current reads
    * promote narrow physical files through the declared type, and
    * the next data commit stores its snapshot wide (union coercion
    * in the merge). Narrowing is refused. */
  def alterColumnType(spark: SparkSession, root: String,
      logical: String, newType: String): Long = {
    require(logical != "key", "the key column cannot change type")
    val v = latestCommitted(root)
    require(v >= 0, "cannot evolve the schema of an empty table")
    val mapping = currentMapping(root, v)
    val physical = mapping
      .flatMap(_.find(_._1 == logical).map(_._2)).getOrElse(logical)
    val physField = readPhysical(spark, root, v)
      .schema.find(_.name == physical)
    require(physField.isDefined || mapping.exists(_.exists(e =>
        e._1 == logical)),
      s"no column named '$logical'")
    val declared = currentTypes(root, v)
    val cur = declared.getOrElse(physical,
      physField.map(_.dataType.catalogString).getOrElse("bigint"))
    // idempotent no-op: ALTER to the type already in force succeeds
    // without a commit (ANSI behavior; also the entry-level twin of
    // the concurrent same-target fast path in typesUpdate below)
    if (cur == newType) return v
    require(isWidening(cur, newType),
      s"ALTER COLUMN TYPE only widens: $cur -> $newType is not a " +
        "lossless promotion")
    // the types map is REBUILT from the freshly-claimed base on every
    // commit attempt: a concurrent widening of a different column
    // landing between the read above and the publish must survive the
    // retry (merging a stale snapshot of the map would lose it), and
    // a concurrent widening of THIS column past `newType` must abort
    // rather than silently narrow
    commit(spark, root, _ => (emptyDelta(spark), Nil),
      linkSnapshot = true,
      typesUpdate = Some { claimedV =>
        val fresh = currentTypes(root, claimedV - 1)
        val freshCur = fresh.getOrElse(physical, cur)
        // idempotent fast path: a concurrent alter that already landed
        // the IDENTICAL target type leaves nothing to do — succeed as
        // a no-op instead of tripping the (irreflexive) widening check
        if (freshCur == newType) fresh + (physical -> newType)
        else if (freshCur != cur && !isWidening(freshCur, newType))
          throw new Conflict(
            s"concurrent ALTER COLUMN TYPE moved $physical to " +
              s"$freshCur; $freshCur -> $newType is no longer a " +
              "widening")
        else fresh + (physical -> newType)
      }).version
  }

  private def parseMapping(f: File): ColMapping =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { line =>
        val p = line.split("\\|", -1)
        (p(0), p(1), if (p(2) == "NULL") None else Some(p(2).toLong))
      }.toVector

  private def writeMappingTo(f: File, m: ColMapping): Unit = {
    val body = m.map { case (l, p, d) =>
      s"$l|$p|${d.map(_.toString).getOrElse("NULL")}"
    }.mkString("\n")
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** The mapping in force at `upTo`: the newest `vN.mapping` with
    * N ≤ upTo (file-listing scan — metadata-scale). None before the
    * first mapping commit: reads pass physical names through, which
    * is also why time travel to a pre-rename version shows the OLD
    * schema for free. */
  def currentMapping(root: String, upTo: Long): Option[ColMapping] = {
    healStages(root)
    Option(logDir(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".mapping"))
      .map(f => f.getName.stripPrefix("v")
        .stripSuffix(".mapping").toLong -> f)
      .filter(_._1 <= upTo)
      .sortBy(-_._1).headOption
      .map(p => parseMapping(p._2))
  }

  /** Identity bootstrap: the latest snapshot's physical non-key
    * columns, each mapped to itself. */
  private def bootstrapMapping(spark: SparkSession,
      root: String): ColMapping = {
    val v = latestCommitted(root)
    currentMapping(root, v).getOrElse(
      readPhysical(spark, root, v).columns.filter(_ != "key")
        .map(c => (c, c, Option.empty[Long])).toVector)
  }

  /** Translate a LOGICAL delta to PHYSICAL column names through the
    * mapping (absent mapping = identity). Logical columns without a
    * mapping entry pass through unchanged — they are brand-new ADD
    * COLUMNs, registered into the mapping at publish. */
  private def toPhysical(delta: DataFrame,
      mapping: Option[ColMapping]): DataFrame =
    mapping.fold(delta) { m =>
      val byLogical = m.map(e => e._1 -> e._2).toMap
      delta.columns.foldLeft(delta) { (d, c) =>
        byLogical.get(c).filter(_ != c)
          .fold(d)(p => d.withColumnRenamed(c, p))
      }
    }

  /** RENAME COLUMN — metadata-only: the new mapping points the new
    * logical name at the SAME physical column, the commit's snapshot
    * is a link to the previous version's (zero data rewritten), and
    * the claim/marker protocol makes it race-safe like any other
    * commit. Returns the committed version. */
  def renameColumn(spark: SparkSession, root: String,
      from: String, to: String): Long = {
    require(from != "key" && to != "key", "the key column cannot move")
    val base = bootstrapMapping(spark, root)
    require(base.exists(_._1 == from), s"no column named '$from'")
    require(!base.exists(_._1 == to), s"column '$to' already exists")
    metadataCommit(spark, root,
      base.map { case (l, p, d) => (if (l == from) to else l, p, d) })
  }

  /** DROP COLUMN — metadata-only: the mapping entry is removed; the
    * physical data stays in old snapshots (time travel still sees
    * it) but no current read resolves it. */
  def dropColumn(spark: SparkSession, root: String,
      name: String): Long = {
    require(name != "key", "the key column cannot be dropped")
    val base = bootstrapMapping(spark, root)
    require(base.exists(_._1 == name), s"no column named '$name'")
    metadataCommit(spark, root, base.filterNot(_._1 == name))
  }

  /** ADD COLUMN via mapping with a declared default — the re-add
    * after a DROP. The logical name binds to a FRESH physical name
    * (`<name>__gen<version>`), so rows still carrying the DROPPED
    * column's physical data can never leak into the new column: a
    * read materializes the default until real writes arrive. */
  def addColumnMapped(spark: SparkSession, root: String,
      logical: String, default: Long): Long = {
    val base = bootstrapMapping(spark, root)
    require(!base.exists(_._1 == logical),
      s"column '$logical' already exists")
    val physical = s"${logical}__gen${latestCommitted(root) + 1}"
    metadataCommit(spark, root,
      base :+ ((logical, physical, Some(default))))
  }

  /** A schema-change commit: empty delta, empty write set (conflicts
    * with nothing), snapshot LINKED to the previous version's, new
    * mapping published at the committed version. */
  private def metadataCommit(spark: SparkSession, root: String,
      newMapping: ColMapping): Long = {
    require(latestCommitted(root) >= 0,
      "cannot evolve the schema of an empty table")
    commit(spark, root, _ => (emptyDelta(spark), Nil),
      mappingUpdate = Some(newMapping), linkSnapshot = true).version
  }

  private def writeMetaTo(f: File, meta: CommitMeta): Unit = {
    val body = (Seq(meta.version.toString, meta.readVersion.toString) ++
      encodeRanges(meta.writtenRanges)).mkString("\n")
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def writeMeta(root: String, meta: CommitMeta): Unit =
    writeMetaTo(metaFile(root, meta.version), meta)

  /** Distributed [min, max] of a keyed frame — the metadata-scale
    * read/write-set descriptor (ONE aggregation row comes back to
    * the driver; never a key collect). Empty frame → empty ranges. */
  def range(df: DataFrame, keyCol: String = "key"): KeyRanges = {
    val r = df.agg(min(col(keyCol)).as("mn"), max(col(keyCol)).as("mx"))
      .collect()(0)
    if (r.isNullAt(0)) Nil else Seq((r.getLong(0), r.getLong(1)))
  }

  /** Conservative range intersection — the conflict predicate. A
    * false overlap costs one transaction re-run; a missed overlap
    * would be a lost update, and ranges make that impossible. */
  def rangesOverlap(a: KeyRanges, b: KeyRanges): Boolean =
    a.exists(x => b.exists(y => x._1 <= y._2 && y._1 <= x._2))

  /** Per-file [min, max] key ranges of a just-written delta — read
    * from the files' OWN FOOTERS, driver-side ([[FooterStats]]), not
    * via a Spark job. The parquet writer records exact per-column
    * min/max for LONG columns, so the values are identical to the
    * data-computed aggregate this used to run; what changes is the
    * cost: one fewer Spark job (scan + groupBy exchange + collect)
    * per commit across the whole txn family, which the r13/r14 stage
    * profiles showed is commit-protocol driver latency, not data
    * work. This is exactly how a real table format derives its
    * manifest ranges — from write-time file stats, never a re-read.
    * A file whose footer has no `key` min/max (statistics disabled,
    * a non-LONG key) gets its range from the [[range]] aggregate
    * instead: dropping it would hide its writes from
    * [[rangesOverlap]], a lost update. */
  private[graft] def fileRanges(spark: SparkSession,
      path: String): KeyRanges =
    FooterStats.read(new java.io.File(path))
      .flatMap { fs =>
        fs.cols.get("key")
          .flatMap(c => for (mn <- c.min; mx <- c.max) yield Seq((mn, mx)))
          .getOrElse(range(spark.read.parquet(fs.path)))
      }
      .sortBy(_._1)

  /** Apply a keyed delta (key, …value cols…, op ∈ upsert|delete) to
    * a snapshot (key, …value cols…): upserts replace the columns the
    * delta carries (columns it omits carry over — column-level
    * upsert), deletes remove, untouched keys carry over. Columns the
    * SNAPSHOT lacks are ADD COLUMNs: existing rows back-fill from
    * `defaults` (NULL when undeclared). */
  def applyDelta(snapshot: DataFrame, delta: DataFrame,
      defaults: Map[String, Long] = Map.empty): DataFrame = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val sCols = snapshot.columns.filter(_ != "key").toSeq
    val dCols = delta.columns.filter(c => c != "key" && c != "op").toSet
    val newCols = delta.columns
      .filter(c => dCols(c) && !sCols.contains(c)).toSeq
    val valueCols = sCols.map {
      case c if dCols(c) => coalesce(col(s"d.$c"), col(s"s.$c")).as(c)
      case c => col(s"s.$c").as(c)
    } ++ newCols.map { c =>
      defaults.get(c) match {
        case Some(d) => coalesce(col(s"d.$c"), lit(d)).as(c)
        case None => col(s"d.$c").as(c)
      }
    }
    snapshot.as("s").join(delta.as("d"), Seq("key"), "full_outer")
      .filter(coalesce($"d.op", lit("upsert")) =!= "delete")
      .select((col("key") +: valueCols): _*)
  }

  private def emptyDelta(spark: SparkSession): DataFrame =
    emptySnapshot(spark).withColumn("op", lit("upsert")).limit(0)

  /** Does this writer still own `claim`? The steal path deletes (or
    * a thief re-creates) the claim file, so token mismatch or a read
    * failure both mean "stolen". */
  private def ownsClaim(claim: File, token: String): Boolean =
    try new String(Files.readAllBytes(claim.toPath),
      StandardCharsets.UTF_8) == token
    catch { case _: java.io.IOException => false }

  /** One optimistic transaction. `txn` maps the base snapshot to
    * (delta, readRanges): the delta to commit and the key ranges the
    * transaction's result DEPENDS on (its read set, metadata-scale).
    * Loops: read latest → build → claim; on a lost claim, validates
    * the read ranges against every intervening commit's written
    * ranges — rebase (reuse the delta) when disjoint, full re-run
    * when overlapping (the lost update that blind last-writer-wins
    * would silently absorb). `barrier`, when set, is awaited between
    * snapshot read and claim — the test hook that forces two writers
    * into a genuine race deterministically. `defaults` back-fill ADD
    * COLUMNs the delta introduces; `layout` re-layouts the post
    * snapshot (OPTIMIZE); `prePublish` is a test-only fault-injection
    * hook that runs after staging, before the fenced publish.
    *
    * `baseline` declares that the FIRST delta `txn` returns was built
    * against that already-scanned version (a SQL UPDATE/MERGE whose
    * rewrite ran before commit() was entered) — validation then spans
    * every commit after `baseline`, not just those after this call's
    * first snapshot read. `rerunOnConflict=false` makes the
    * transaction NON-RETRYABLE: a read-range conflict throws
    * [[Conflict]] instead of re-running `txn`, which is mandatory
    * when `txn` cannot actually rebuild (it replays a pre-computed
    * delta, so a re-run would re-commit stale rows — the silent lost
    * update). Disjoint intervening commits still rebase (the delta
    * stays valid), so non-retryable writers keep full concurrency
    * against non-overlapping traffic. */
  def commit(spark: SparkSession, root: String,
      txn: DataFrame => (DataFrame, KeyRanges),
      barrier: Option[java.util.concurrent.CyclicBarrier] = None,
      maxAttempts: Int = 10,
      txnId: Option[String] = None,
      claimTimeoutMs: Long = 30000L,
      check: Option[org.apache.spark.sql.Column] = None,
      defaults: Map[String, Long] = Map.empty,
      layout: Option[DataFrame => DataFrame] = None,
      mappingUpdate: Option[ColMapping] = None,
      linkSnapshot: Boolean = false,
      baseline: Option[Long] = None,
      rerunOnConflict: Boolean = true,
      prePublish: Long => Unit = _ => (),
      // a FUNCTION of the version being claimed, not a fixed map:
      // with rerunOnConflict a concurrent widening of a DIFFERENT
      // column can land between the caller's read and the publish,
      // and a map captured before commit() would silently overwrite
      // it on retry (lost update of the types table) — recompute from
      // the fresh base each attempt
      typesUpdate: Option[Long => Map[String, String]] = None): TxnStats = {
    // recover any crashed publish of the current head first: its
    // idempotency record (txnid) may still be sitting in the stage,
    // and the committedTxn check below must see it
    val head0 = latestCommitted(root)
    if (head0 >= 0) finishPublish(root, head0)
    // idempotent retry: an application txn id that already committed
    // returns its version without touching the log (attempts = 0 is
    // the caller-visible proof nothing re-applied)
    txnId.flatMap(committedTxn(root, _)) match {
      case Some(v) => return TxnStats(v, 0, 0)
      case None =>
    }
    def conflictOrRerun(what: String): Unit =
      if (!rerunOnConflict)
        throw new Conflict(
          s"non-retryable transaction: $what — a concurrent commit " +
            "wrote into this transaction's read ranges after its " +
            "delta was computed; replaying the pre-built delta would " +
            "be a lost update, so the statement fails instead")
    var attempts = 0
    var conflicts = 0
    var pending: Option[(DataFrame, KeyRanges, Long)] = None // delta, readRanges, builtAt
    var prePublishFired = false
    while (attempts < maxAttempts) {
      attempts += 1
      val base = latestCommitted(root)
      val pair: (DataFrame, KeyRanges) = pending match {
        case Some((d, rr, builtAt)) =>
          // rebase path: the delta was built at `builtAt`; valid iff
          // no commit in (builtAt, base] wrote into our read ranges
          val clash = ((builtAt + 1) to base).exists(v =>
            rangesOverlap(readMeta(root, v).writtenRanges, rr))
          if (clash) {
            conflictOrRerun(s"conflict while rebasing past v$base")
            conflicts += 1
            pending = None
            val snap =
              if (base < 0) emptySnapshot(spark)
              else read(spark, root, base)
            val built = txn(snap)
            pending = Some((built._1, built._2, base))
            built
          } else (d, rr)
        case None =>
          val snap =
            if (base < 0) emptySnapshot(spark)
            else read(spark, root, base)
          val built = txn(snap)
          // a pre-scanned transaction (SQL row-level DML) validates
          // from the version its rewrite actually read, which may be
          // older than the snapshot this loop just fetched
          pending = Some((built._1, built._2,
            baseline.fold(base)(math.min(_, base))))
          built
      }
      val delta = pair._1
      val readRanges = pair._2
      // the race-pinning hook trips once, on the writers' FIRST
      // attempts — a retrying loser must not wait on a partner that
      // already committed and left
      if (attempts == 1) barrier.foreach(_.await())
      val v = latestCommitted(root) + 1
      val claim = claimFile(root, v)
      if (claim.createNewFile()) {
        // we own version v: fence it with a unique token, and
        // heartbeat the claim's mtime while we work so waiting
        // writers can tell "slow" from "dead"
        val token = java.util.UUID.randomUUID().toString
        Files.write(claim.toPath, token.getBytes(StandardCharsets.UTF_8))
        val heartbeat = startHeartbeat(claim, claimTimeoutMs)
        val stage = new File(root, s".stage_v${v}_$token")
        def abandon(): Unit = { destroyDir(stage); conflicts += 1; pending = None }
        // voluntary early release (clash / CHECK / typesUpdate abort):
        // only delete the claim while it is still OURS — after a
        // heartbeat-lapse steal the file at this path is the THIEF's
        // fresh claim, and deleting it would hand the slot to a third
        // writer and force the rightful owner to abandon its work
        def releaseClaim(): Unit =
          if (ownsClaim(claim, token)) { claim.delete(); () }
        try {
          // validate the read set against commits we did not see when
          // the delta was built
          val builtAt = pending.get._3
          val clash = ((builtAt + 1) until v).exists(u =>
            rangesOverlap(readMeta(root, u).writtenRanges, readRanges))
          if (clash) {
            // release the claim and re-run against the newer snapshot
            releaseClaim()
            conflictOrRerun(s"conflict validating claim of v$v")
            conflicts += 1
            pending = None
          } else {
            val mapping = if (v == 0) None else currentMapping(root, v - 1)
            val keyed = toPhysical(delta, mapping).localCheckpoint(true)
            // v0's base is an empty frame with the DELTA's own
            // columns, so the first commit of a wide table does not
            // inherit emptySnapshot's fixture (key, value) shape
            val prevSnap =
              if (v == 0) keyed.drop("op").limit(0)
              else readPhysical(spark, root, v - 1)
            val post0 = applyDelta(prevSnap, keyed, defaults)
            val post = layout.map(_(post0)).getOrElse(post0)
            // CHECK constraint: enforced on the POST state (resolved
            // to LOGICAL names if a mapping is in force), before
            // anything becomes visible; a violating commit releases
            // its claim and rejects — the log is left untouched
            check.foreach { c =>
              val checkView = mappingUpdate.orElse(mapping) match {
                case None => post
                case Some(m) =>
                  val phys = post.columns.toSet
                  post.select(col("key") +: m.map { case (l, p, d) =>
                    if (phys(p)) col(p).as(l)
                    else lit(d.map(Long.box).orNull).cast("long").as(l)
                  }: _*)
              }
              val bad = checkView.filter(!c).limit(1).count()
              if (bad > 0) {
                releaseClaim()
                throw new CheckViolation(
                  s"commit v$v rejected: post-state violates CHECK $c")
              }
            }
            // STAGE everything — data AND log artifacts — under the
            // claim-scoped unique directory. Nothing reaches a
            // canonical name except through finishPublish, from the
            // stage the marker itself names, so a resumed zombie can
            // never clobber a committed version's files. A
            // metadata-only commit (linkSnapshot) stages NO snapshot
            // bytes: its snapshot publishes as a link to the
            // previous version's.
            stage.mkdirs()
            if (!linkSnapshot)
              post.write.mode("overwrite").parquet(s"$stage/snapshot")
            else
              Files.write(new File(stage, "snapshot_link").toPath,
                s"snapshot_v${v - 1}".getBytes(StandardCharsets.UTF_8))
            keyed.repartitionByRange(DELTA_FILES, col("key"))
              .write.mode("overwrite").parquet(s"$stage/delta")
            val written = fileRanges(spark, s"$stage/delta")
            writeMetaTo(new File(stage, "meta"),
              CommitMeta(v, builtAt, written))
            val newCols = keyed.columns
              .filter(c => c != "key" && c != "op")
              .filterNot(prevSnap.columns.contains)
            if (newCols.nonEmpty)
              Files.write(new File(stage, "schema").toPath,
                newCols.map(c => s"ADD|$c|" +
                  defaults.get(c).map(_.toString).getOrElse("NULL"))
                  .mkString("\n").getBytes(StandardCharsets.UTF_8))
            // the commit's mapping: an explicit schema change, or the
            // identity extension a mapped table needs when a delta
            // ADDs brand-new columns (without it the mapped read
            // would silently hide them)
            val mappingOut = mappingUpdate.orElse(
              mapping.filter(_ => newCols.nonEmpty).map(m =>
                m ++ newCols.map(c => (c, c, defaults.get(c)))))
            mappingOut.foreach(m =>
              writeMappingTo(new File(stage, "mapping"), m))
            typesUpdate.foreach { t =>
              // the rebuild can refuse (a concurrent widening made
              // the caller's premise invalid): release the slot
              // before propagating, like a CHECK violation does
              val types =
                try t(v)
                catch { case e: Throwable =>
                  releaseClaim(); destroyDir(stage); throw e
                }
              Files.write(new File(stage, "types").toPath,
                types.map { case (p, ty) => s"$p|$ty" }.mkString("\n")
                  .getBytes(StandardCharsets.UTF_8))
              ()
            }
            txnId.foreach(id =>
              Files.write(new File(stage, "txnid").toPath,
                id.getBytes(StandardCharsets.UTF_8)))
            if (!prePublishFired) { prePublishFired = true; prePublish(v) }
            // FENCED PUBLISH: re-verify we still own the claim (a
            // stalled writer may have had it stolen), then let the
            // marker's atomic hard-link decide the race — a failed
            // link (target exists, or our stage was trashed by a
            // thief) means someone else owns v and our work is a
            // CONFLICT, never a silent co-success
            if (!ownsClaim(claim, token)) abandon()
            else {
              val decider = new File(stage, "decider")
              Files.write(decider.toPath,
                token.getBytes(StandardCharsets.UTF_8))
              val won =
                try atomicLink(commitMarker(root, v), decider)
                catch { case _: java.nio.file.NoSuchFileException => false }
              if (!won) abandon()
              else {
                // we ARE the unique committer of v: the marker names
                // our stage, so the publish completes here — or, if
                // we die first, in whichever reader arrives next
                finishPublish(root, v)
                return TxnStats(v, attempts, conflicts)
              }
            }
          }
        } finally heartbeat.interrupt()
      }
      else {
        // lost the claim: wait for its owner to finish (marker) or
        // release (claim gone) rather than burning attempts spinning
        val t0 = System.nanoTime()
        while (claimFile(root, v).exists() &&
            !commitMarker(root, v).exists() &&
            (System.nanoTime() - t0) < claimTimeoutMs * 1000000L)
          Thread.sleep(math.min(20L, math.max(claimTimeoutMs / 8, 1L)))
        // age-checked claim steal: a live owner heartbeats the mtime
        // every claimTimeoutMs/4, so a claim whose mtime is a full
        // claimTimeoutMs old belongs to a crashed writer — delete it
        // (plus any unmarked leftovers it published) and let the loop
        // re-claim the freed slot
        val orphan = claimFile(root, v)
        if (orphan.exists() && !commitMarker(root, v).exists() &&
            System.currentTimeMillis() - orphan.lastModified() >=
              claimTimeoutMs &&
            // a stale claim carrying a multi-table INTENT is resolved
            // through its coordinator first: decided → the recovery
            // publishes it (marker appears, we wait like any loser);
            // undecided → rolled back and the slot steals as usual
            !(pendingFile(root, v).exists() && recoverPending(root, v))) {
          orphan.delete()
          // trash-then-check: rename each orphaned stage aside
          // ATOMICALLY, then re-check the marker. If the presumed-dead
          // owner actually won the marker inside the window, restore
          // its stage so finishPublish can complete that commit; only
          // markerless stages are destroyed. (The owner's marker
          // hard-link fails once the stage is renamed — it can never
          // mark a version whose data we trashed. Log artifacts need
          // no cleanup here: meta/schema/mapping/txnid only reach
          // _txn_log through finishPublish, after the marker exists.)
          Option(new File(root).listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith(s".stage_v${v}_"))
            .foreach { st =>
              // DETERMINISTIC trash name (.trash_v{v}_{token}): if we
              // crash between parking and restoring a marked version's
              // stage, finishPublish derives this exact name from the
              // marker's token and restores it — a random name would
              // strand the committed artifacts forever
              val trash = new File(root, st.getName
                .replaceFirst("^\\.stage_", ".trash_"))
              try {
                Files.move(st.toPath, trash.toPath,
                  StandardCopyOption.ATOMIC_MOVE)
                if (commitMarker(root, v).exists())
                  Files.move(trash.toPath, st.toPath,
                    StandardCopyOption.ATOMIC_MOVE)
                else destroyDir(trash)
              } catch {
                case _: java.nio.file.NoSuchFileException => ()
              }
            }
          ()
        }
      }
      // loop re-validates against the new latest and retries
    }
    throw new Conflict(s"gave up after $maxAttempts attempts")
  }

  // ------------------------------------------------------------------
  // MULTI-TABLE ATOMIC COMMIT: one transaction spanning N tables
  // (corpus + manifest is the canonical pair) with ALL-OR-NOTHING
  // visibility, built from the same primitives as single-table
  // commit. Protocol:
  //
  //   1. CLAIM the next version in every table in SORTED ROOT ORDER
  //      (a global lock order — two multi-table writers can never
  //      deadlock), validating each table's read set under its claim
  //      exactly as commit() does; any clash releases every claim
  //      and retries against fresh snapshots.
  //   2. STAGE every table's artifacts under ONE SHARED TOKEN and
  //      write a `vN.pending` intent in each log naming the token and
  //      the COORDINATOR path.
  //   3. DECIDE with one atomic hard link: the coordinator file's
  //      creation commits the whole transaction.
  //   4. COMPLETE: create each table's marker (hard link from its own
  //      stage decider — finishPublish then works unchanged) and
  //      finish each publish; drop the pendings.
  //
  // Crash anywhere: markers only exist after the coordinator, so if
  // ANY table shows the commit, the coordinator exists and recovery
  // ([[recoverPending]] — run by the single-table steal path when it
  // trips over a pending version, or explicitly) finishes every other
  // table; if the coordinator was never created, recovery rolls every
  // table back. Either way: both visible or neither, never a mix.
  // ------------------------------------------------------------------

  private def pendingFile(root: String, v: Long): File =
    new File(logDir(root), s"v$v.pending")

  /** Resolve a crashed multi-table participant at (root, v): finish
    * the publish if its coordinator decided COMMIT, roll back if the
    * coordinator was never created. Only call when the owning writer
    * is known dead (the age-checked steal path) or from explicit
    * recovery — a live writer between intent and decision would be
    * rolled back otherwise. Returns true iff the version is now
    * committed. */
  private[graft] def recoverPending(root: String, v: Long): Boolean = {
    val pf = pendingFile(root, v)
    if (!pf.exists()) return commitMarker(root, v).exists()
    val parts = new String(Files.readAllBytes(pf.toPath),
      StandardCharsets.UTF_8).split("\\|", 2)
    val (token, coord) = (parts(0), new File(parts(1)))
    if (coord.exists()) {
      val decider = new File(new File(root, s".stage_v${v}_$token"),
        "decider")
      try atomicLink(commitMarker(root, v), decider)
      catch { case _: java.nio.file.NoSuchFileException => }
      finishPublish(root, v)
      pf.delete()
      commitMarker(root, v).exists()
    } else {
      // never decided: roll the intent back
      destroyDir(new File(root, s".stage_v${v}_$token"))
      pf.delete()
      claimFile(root, v).delete()
      false
    }
  }

  /** Recover every pending multi-table intent in `root`'s log. */
  def recoverMulti(root: String): Unit =
    Option(logDir(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".pending"))
      .map(_.getName.stripPrefix("v").stripSuffix(".pending").toLong)
      .foreach(recoverPending(root, _))

  /** One atomic transaction across `parts` (root → txn), committing a
    * version in EVERY table with all-or-nothing visibility. Fault
    * hooks: `preDecide` runs after intents are written but before the
    * coordinator (a crash here must roll back everywhere);
    * `postDecide(i)` runs before table i's marker is created (a crash
    * here must still surface the commit in every table via
    * recovery). Returns per-table stats in sorted-root order. */
  def commitMulti(spark: SparkSession,
      parts: Seq[(String, DataFrame => (DataFrame, KeyRanges))],
      maxAttempts: Int = 10,
      claimTimeoutMs: Long = 30000L,
      preDecide: () => Unit = () => (),
      postDecide: Int => Unit = _ => ()): Seq[TxnStats] = {
    require(parts.nonEmpty, "commitMulti needs at least one table")
    val ordered = parts.sortBy(_._1)
    val roots = ordered.map(_._1)
    require(roots.distinct.size == roots.size,
      "commitMulti: one entry per table")
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      // phase 1: claim + validate per table, in lock order
      val token = java.util.UUID.randomUUID().toString
      val claimed = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, File, Thread, DataFrame, KeyRanges, Long)]
      var clash = false
      try {
        ordered.foreach { case (root, txn) =>
          if (!clash) {
            val base = latestCommitted(root)
            val snap =
              if (base < 0) emptySnapshot(spark) else read(spark, root, base)
            val (delta, rr) = txn(snap)
            val v = latestCommitted(root) + 1
            val claim = claimFile(root, v)
            if (!claim.createNewFile()) { clash = true }
            else {
              Files.write(claim.toPath,
                token.getBytes(StandardCharsets.UTF_8))
              val hb = startHeartbeat(claim, claimTimeoutMs)
              claimed += ((root, v, claim, hb, delta, rr, base))
              val conflicted = ((base + 1) until v).exists(u =>
                rangesOverlap(readMeta(root, u).writtenRanges, rr))
              if (conflicted) clash = true
            }
          }
        }
        if (!clash) {
          // phase 2: stage everything under the SHARED token + intents
          val coord = new File(logDir(claimed.head._1),
            s"mtxn_$token.coord")
          claimed.zipWithIndex.foreach {
            case ((root, v, _, _, delta, rr, base), _) =>
              val stage = new File(root, s".stage_v${v}_$token")
              stage.mkdirs()
              val mapping =
                if (v == 0) None else currentMapping(root, v - 1)
              val keyed = toPhysical(delta, mapping).localCheckpoint(true)
              val prevSnap =
                if (v == 0) keyed.drop("op").limit(0)
                else readPhysical(spark, root, v - 1)
              applyDelta(prevSnap, keyed)
                .write.mode("overwrite").parquet(s"$stage/snapshot")
              keyed.repartitionByRange(DELTA_FILES, col("key"))
                .write.mode("overwrite").parquet(s"$stage/delta")
              writeMetaTo(new File(stage, "meta"),
                CommitMeta(v, base, fileRanges(spark, s"$stage/delta")))
              Files.write(new File(stage, "decider").toPath,
                token.getBytes(StandardCharsets.UTF_8))
              Files.write(pendingFile(root, v).toPath,
                s"$token|${coord.getAbsolutePath}"
                  .getBytes(StandardCharsets.UTF_8))
          }
          preDecide()
          // RE-VERIFY FENCE (the single-table ownsClaim fence, per
          // table): a writer stalled past claimTimeoutMs can have a
          // claim stolen and its intent rolled back by recoverPending
          // (coordinator not yet created) — and a concurrent writer
          // may have committed that version since. Deciding COMMIT
          // now would publish SOME tables of this transaction and not
          // others (the mixed commit the protocol rules out), so
          // every table must still hold its claim (token match) and
          // its intent before the coordinator link is attempted.
          val stolen = claimed.exists { case (root, v, claim, _, _, _, _) =>
            !ownsClaim(claim, token) || !pendingFile(root, v).exists()
          }
          if (stolen) clash = true
          else {
            // phase 3: THE decision — one atomic link
            val won = atomicLink(coord,
              new File(new File(claimed.head._1,
                s".stage_v${claimed.head._2}_$token"), "decider"))
            require(won, s"coordinator $coord already existed")
            // POST-LINK FENCE RE-CHECK: a claim stolen in the window
            // between the pre-link fence and the link just above is
            // unrecoverable (recoverPending already destroyed the
            // stolen table's stage AND its pending, so recoverMulti
            // can never finish that table's publish). The decision
            // must NOT be revoked here: stolenPostLink fires exactly
            // when a thief judged our heartbeat lapsed, and that same
            // thief can run recoverPending on a NON-stolen table of
            // this transaction in the link→revoke window — it sees
            // the coordinator (read BEFORE any delete we might do)
            // and durably publishes that table; deleting the
            // coordinator and retrying would then re-apply the delta
            // on the next attempt (a double commit). Once the link
            // exists the decision is irrevocable, so a post-link
            // steal is the same durable mixed-commit error as losing
            // a marker to a foreign writer below: fail loudly.
            val stolenPostLink = claimed.collect {
              case (root, v, claim, _, _, _, _)
                  if !ownsClaim(claim, token) ||
                    !pendingFile(root, v).exists() => s"$root@v$v"
            }
            require(stolenPostLink.isEmpty,
              s"commitMulti decided COMMIT but ${stolenPostLink.mkString(",")} " +
                "lost its claim/intent between the pre-link fence and " +
                "the coordinator link — DURABLE mixed commit: the " +
                "stolen table's stage was rolled back and recoverMulti " +
                "cannot finish its publish while the other tables " +
                "commit; reconcile manually")
            // phase 4: complete every table (recovery can take over at
            // any point from here — the coordinator has decided)
            claimed.zipWithIndex.foreach {
              case ((root, v, _, _, _, _, _), i) =>
                postDecide(i)
                val decider = new File(
                  new File(root, s".stage_v${v}_$token"), "decider")
                val linked =
                  try atomicLink(commitMarker(root, v), decider)
                  catch {
                    case _: java.nio.file.NoSuchFileException => false
                  }
                // the marker must be OURS: a swallowed link failure
                // against a foreign marker (our stage rolled back, the
                // slot recommitted by someone else after the fence)
                // must surface as the mixed-commit hazard it is, never
                // as silent success
                if (!linked) {
                  val mk = commitMarker(root, v)
                  val owner =
                    try new String(Files.readAllBytes(mk.toPath),
                      StandardCharsets.UTF_8)
                    catch { case _: java.io.IOException => "" }
                  require(owner == token,
                    s"commitMulti decided COMMIT but table $root lost " +
                      s"v$v to a foreign writer after the decision — " +
                      "DURABLE mixed commit: tables marked earlier in " +
                      "this transaction are committed and recoverMulti " +
                      s"cannot restore atomicity; reconcile $root manually")
                }
                finishPublish(root, v)
                pendingFile(root, v).delete()
            }
          }
          if (!clash)
          return claimed.toSeq.map { case (_, v, _, _, _, _, _) =>
            TxnStats(v, attempts, attempts - 1)
          }
        }
      } finally {
        claimed.foreach { case (root, v, claim, hb, _, _, _) =>
          hb.interrupt()
          // only release what is still OURS and what phase 3 did not
          // decide: after a steal the claim/pending at (root, v) may
          // belong to a foreign writer (recoverPending freed the slot
          // and someone re-claimed it) — deleting those would sabotage
          // the new owner. A decided transaction keeps its claims
          // until completion removed the pendings (claims of committed
          // versions are inert).
          val ours = ownsClaim(claim, token)
          val pendingOurs =
            try pendingFile(root, v).exists() &&
              new String(Files.readAllBytes(pendingFile(root, v).toPath),
                StandardCharsets.UTF_8).startsWith(s"$token|")
            catch { case _: java.io.IOException => false }
          if (ours && !commitMarker(root, v).exists()) {
            if (!pendingOurs && !pendingFile(root, v).exists())
              claim.delete()
            else if (pendingOurs && clash) {
              pendingFile(root, v).delete(); claim.delete()
              destroyDir(new File(root, s".stage_v${v}_$token"))
            }
          }
        }
      }
      Thread.sleep(10L)
    }
    throw new Conflict(s"commitMulti gave up after $maxAttempts attempts")
  }

  /** Daemon thread refreshing `claim`'s mtime every `timeoutMs/4`
    * while the owning commit runs — the liveness signal the
    * age-checked claim steal in `commit` keys off. */
  private def startHeartbeat(claim: File, timeoutMs: Long): Thread = {
    val t = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          claim.setLastModified(System.currentTimeMillis())
          Thread.sleep(math.max(timeoutMs / 4, 5L))
        }
      } catch { case _: InterruptedException => }
    }, s"txn-claim-heartbeat-${claim.getName}")
    t.setDaemon(true)
    t.start()
    t
  }

  def emptySnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("key", "value")
  }

  /** Remove a table root recursively (test/operator scratch). */
  def destroy(root: String): Unit = destroyDir(new File(root))

  /** Recursive delete that NEVER traverses a symlink: a shallow
    * clone's snapshot is a link to the SOURCE's data, and dropping
    * the clone must drop the reference, not the referent (the
    * ownership rule every lakehouse clone implementation needs —
    * deleting through the link would silently destroy the source
    * table's files). */
  private def destroyDir(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(destroyDir)
    f.delete(); ()
  }
}
