package graft.engine

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mini transaction log: optimistic-concurrency multi-writer commits
  * and time-travel reads over plain-parquet versioned snapshots —
  * the Delta-lake idea reduced to its load-bearing mechanisms,
  * built on nothing but the filesystem's atomic create and link.
  *
  * ONE COMMIT PROTOCOL serves a transaction over one table
  * ([[commit]]) and over several ([[commitMulti]]); each attempt
  * runs these steps, every table through the same code:
  *
  *  1. **Build or rebase.** `txn` maps the latest snapshot to a delta
  *     and its READ RANGES (per-file [min, max] keys, metadata-scale).
  *     A delta built earlier is reused when no commit since wrote
  *     into its read ranges (rebase without recompute); otherwise
  *     `txn` runs again on the new snapshot — or, for a non-retryable
  *     transaction, [[Conflict]] is thrown (replaying a pre-built
  *     delta would be a lost update). Range intersection is
  *     CONSERVATIVE: a false overlap costs one re-run, never a lost
  *     update.
  *  2. **Claim.** Version N+1 of every table, in SORTED ROOT ORDER
  *     (a global lock order: two writers never deadlock), by
  *     atomically creating `_txn_log/vN+1.claim` and writing one
  *     shared OWNER TOKEN into it; a heartbeat thread refreshes each
  *     claim's mtime. A writer that loses a claim releases the ones it
  *     holds, waits for the owner's marker, and steals the slot only
  *     once its mtime is a full `claimTimeoutMs` old — resolving a
  *     stale multi-table intent through [[recoverPending]] first.
  *  3. **Validate** each read set, under the claims, against the
  *     written ranges of every commit since its delta was built.
  *  4. **Stage** everything a commit publishes — snapshot (or a
  *     `snapshot_link` for metadata-only commits), delta, meta,
  *     schema and mapping entries, declared types, idempotency
  *     record, and the `decider` payload holding the token — in the
  *     claim-scoped directory `.stage_vN_<token>`. Nothing reaches a
  *     canonical name except through [[finishPublish]].
  *  5. **Fenced publish.** Every claim must still be ours (a stalled
  *     writer may have been robbed) before the decision:
  *     - one table: the marker `vN.commit`, created as a HARD LINK to
  *       the stage's `decider`, decides. `link(2)` fails if the target
  *       exists (exactly one winner, unlike rename) and if a thief
  *       trashed the stage, so a resumed zombie can never mark
  *       destroyed data;
  *     - several tables: a `vN.pending` intent in every log names the
  *       token and a coordinator; the coordinator `mtxn_<token>.coord`
  *       (a link in the first table's log) decides ALL of them, then
  *       each table's marker is linked and published.
  *     The marker's content names the winning stage, and
  *     [[finishPublish]] moves each staged artifact to its canonical
  *     name. One `finally` releases only what is still the attempt's
  *     own: never a decided table, and never an intent a crash left
  *     for recovery.
  *
  * Crash points and the recovery that owns each:
  *  - after a claim, before the decision (no intent): the claim is
  *    invisible to READERS (a version exists only once its marker
  *    does); the next WRITER's age-checked steal deletes it and
  *    trashes the unmarked stage — no external janitor;
  *  - after the intents, before the coordinator: [[recoverPending]]
  *    (the steal path, or [[recoverMulti]]) rolls every table back;
  *  - after the coordinator, before some markers: [[recoverPending]]
  *    links the missing markers and publishes them — both tables
  *    visible or neither, never a mix;
  *  - after a marker, before the publish renames: any reader
  *    ([[read]], [[readMeta]]) or [[healStages]] finishes the publish,
  *    as does the next commit's look at its head;
  *  - a thief dying between parking a stage in trash and restoring
  *    it: [[finishPublish]] restores the deterministic trash name.
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
    // write job, so its files share one footer schema, and handing the
    // reader the schema skips the per-read schema-resolution job the
    // commit protocol otherwise pays on every snapshot read (r14 txn
    // stage profiles: recurring 1-task "parquet at readPhysical" jobs
    // bracketing every commit). A file whose schema differs is refused
    // by name: pinning the first file's schema would silently null or
    // coerce its columns. Falls back to inference if the footer walk
    // finds nothing (racing publisher) — correctness never depends on
    // the fast path.
    parquetSchema(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir.getAbsolutePath)
      case None => spark.read.parquet(dir.getAbsolutePath)
    }
  }

  /** Driver-side schema of a parquet dir written by one Spark job:
    * the non-empty files' footers through Spark's own
    * parquet→Catalyst converter, nullability relaxed exactly the way
    * schema inference relaxes it (inference returns every field
    * nullable; handing the reader a REQUIRED field would change the
    * result frame's schema). Throws naming the first file whose
    * schema differs from the first file's. */
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
    val converter = new org.apache.spark.sql.execution.datasources
      .parquet.ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf)
    val schemas = Option(dir.getCanonicalFile.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
      .sortBy(_.getName).toSeq.map { f =>
        f -> nullable(converter.convert(FooterStats.schema(f)))
      }
    schemas.headOption.map { case (first, s0) =>
      schemas.find(_._2 != s0).foreach { case (odd, s1) =>
        throw new IllegalStateException(
          s"${dir.getPath}: ${odd.getName} has schema ${s1.simpleString}" +
            s", but ${first.getName} has ${s0.simpleString} — a " +
            "snapshot's files must share one schema")
      }
      s0.asInstanceOf[StructType]
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

  /** The token a log file (marker, intent) names; "" when absent. */
  private def tokenOf(f: File): String =
    try new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).takeWhile(_ != '|')
    catch { case _: java.io.IOException => "" }

  /** One optimistic transaction over one table. `txn` maps the base
    * snapshot to (delta, readRanges): the delta to commit and the key
    * ranges the transaction's result DEPENDS on (its read set,
    * metadata-scale). `barrier`, when set, is awaited between
    * snapshot read and claim on the first attempt — the test hook
    * that forces two writers into a genuine race deterministically.
    * `defaults` back-fill ADD COLUMNs the delta introduces; `layout`
    * re-layouts the post snapshot (OPTIMIZE); `prePublish` is a
    * test-only fault-injection hook that runs once, after staging,
    * before the fenced publish. `stats.conflicts` counts read-set
    * clashes plus publishes lost to a claim thief.
    *
    * `baseline` declares that the delta `txn` returns was built
    * against that already-scanned version (a SQL UPDATE/MERGE whose
    * rewrite ran before commit() was entered) — validation then spans
    * every commit after `baseline`, not just those after this call's
    * snapshot read. `rerunOnConflict=false` makes the transaction
    * NON-RETRYABLE: a read-range conflict throws [[Conflict]] instead
    * of re-running `txn`, which is mandatory when `txn` cannot
    * actually rebuild (it replays a pre-computed delta, so a re-run
    * would re-commit stale rows — the silent lost update). Disjoint
    * intervening commits still rebase (the delta stays valid), so
    * non-retryable writers keep full concurrency against
    * non-overlapping traffic. */
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
    txnId.flatMap(committedTxn(root, _)).fold(
      runProtocol(spark, Seq(Part(root, txn, baseline, check, defaults,
          layout, mappingUpdate, linkSnapshot, typesUpdate, txnId)),
        barrier, maxAttempts, claimTimeoutMs, rerunOnConflict,
        vs => prePublish(vs.head), _ => ()).head)(TxnStats(_, 0, 0))
  }

  /** One atomic transaction across `parts` (root → txn), committing a
    * version in EVERY table with all-or-nothing visibility (corpus +
    * manifest is the canonical pair). Fault hooks: `preDecide` runs
    * once, after the intents are written but before the coordinator
    * (a crash here must roll back everywhere); `postDecide(i)` runs
    * before table i's marker is created (a crash here must still
    * surface the commit in every table via recovery). Returns
    * per-table stats in sorted-root order. */
  def commitMulti(spark: SparkSession,
      parts: Seq[(String, DataFrame => (DataFrame, KeyRanges))],
      maxAttempts: Int = 10,
      claimTimeoutMs: Long = 30000L,
      preDecide: () => Unit = () => (),
      postDecide: Int => Unit = _ => ()): Seq[TxnStats] = {
    require(parts.nonEmpty, "commitMulti needs at least one table")
    val ordered = parts.sortBy(_._1)
    require(ordered.map(_._1).distinct.size == ordered.size,
      "commitMulti: one entry per table")
    runProtocol(spark, ordered.map { case (root, txn) => Part(root, txn) },
      None, maxAttempts, claimTimeoutMs, rerunOnConflict = true,
      _ => preDecide(), postDecide)
  }

  /** One table of a transaction: its root, its `txn` and the
    * per-table options [[commit]] documents. */
  private final case class Part(root: String,
      txn: DataFrame => (DataFrame, KeyRanges),
      baseline: Option[Long] = None,
      check: Option[org.apache.spark.sql.Column] = None,
      defaults: Map[String, Long] = Map.empty,
      layout: Option[DataFrame => DataFrame] = None,
      mappingUpdate: Option[ColMapping] = None,
      linkSnapshot: Boolean = false,
      typesUpdate: Option[Long => Map[String, String]] = None,
      txnId: Option[String] = None)

  /** Version `v` of `part`'s table, claimed by one attempt. */
  private final case class Claimed(part: Part, v: Long, file: File,
      heartbeat: Thread, stage: File) {
    def root: String = part.root
    def decider: File = new File(stage, "decider")
  }

  /** The commit protocol of the object scaladoc, for `parts` in
    * sorted-root order. A single table is decided by its marker; only
    * several tables write intents and a coordinator. Returns per-table
    * stats in `parts` order. */
  private def runProtocol(spark: SparkSession, parts: Seq[Part],
      barrier: Option[java.util.concurrent.CyclicBarrier], maxAttempts: Int,
      claimTimeoutMs: Long, rerunOnConflict: Boolean,
      prePublish: Seq[Long] => Unit, postDecide: Int => Unit): Seq[TxnStats] = {
    val multi = parts.size > 1
    // per table: the delta, its read ranges and the version it was
    // built at; and the read-set clashes and lost publishes so far
    val built = Array.fill(parts.size)(Option.empty[(DataFrame, KeyRanges, Long)])
    val conflicts = Array.fill(parts.size)(0)
    // did a commit in (builtAt, until) write into table i's read set?
    def clashes(i: Int, until: Long): Boolean = built(i).exists {
      case (_, readRanges, builtAt) => ((builtAt + 1) until until).exists(u =>
        rangesOverlap(readMeta(parts(i).root, u).writtenRanges, readRanges))
    }
    def clash(i: Int, what: String): Unit = {
      if (!rerunOnConflict)
        throw new Conflict(
          s"non-retryable transaction: $what — a concurrent commit " +
            "wrote into this transaction's read ranges after its " +
            "delta was computed; replaying the pre-built delta would " +
            "be a lost update, so the statement fails instead")
      conflicts(i) += 1
      built(i) = None
    }
    // still ours: the claim's token, and (several tables) the intent
    def holds(c: Claimed, token: String): Boolean =
      ownsClaim(c.file, token) && (!multi || pendingFile(c.root, c.v).exists())
    var attempts = 0
    var prePublishFired = false
    while (attempts < maxAttempts) {
      attempts += 1
      parts.indices.foreach { i =>
        val base = latestCommitted(parts(i).root)
        if (clashes(i, base + 1)) clash(i, s"conflict while rebasing past v$base")
        if (built(i).isEmpty) {
          val (delta, readRanges) = parts(i).txn(
            if (base < 0) emptySnapshot(spark) else read(spark, parts(i).root, base))
          // a pre-scanned transaction (SQL row-level DML) validates
          // from the version its rewrite actually read, which may be
          // older than the snapshot this loop just fetched
          built(i) = Some((delta, readRanges,
            parts(i).baseline.fold(base)(math.min(_, base))))
        }
      }
      // the race-pinning hook trips once, on the writers' FIRST
      // attempts — a retrying loser must not wait on a partner that
      // already committed and left
      if (attempts == 1) barrier.foreach(_.await())
      val token = java.util.UUID.randomUUID().toString
      val claims = scala.collection.mutable.ArrayBuffer.empty[Claimed]
      var lost = Option.empty[(String, Long)]
      var rollBack = false
      var committed = false
      try {
        parts.foreach { p =>
          if (lost.isEmpty) {
            val v = latestCommitted(p.root) + 1
            val claim = claimFile(p.root, v)
            if (claim.createNewFile()) {
              Files.write(claim.toPath, token.getBytes(StandardCharsets.UTF_8))
              claims += Claimed(p, v, claim, startHeartbeat(claim, claimTimeoutMs),
                new File(p.root, s".stage_v${v}_$token"))
            } else lost = Some((p.root, v))
          }
        }
        val clashed =
          if (lost.isDefined) Nil else claims.indices.filter(i => clashes(i, claims(i).v))
        clashed.foreach(i => clash(i, s"conflict validating claim of v${claims(i).v}"))
        if (lost.isEmpty && clashed.isEmpty) {
          claims.indices.foreach { i =>
            stage(spark, claims(i), built(i).get._1, built(i).get._3, token)
          }
          val coord = new File(logDir(claims.head.root), s"mtxn_$token.coord")
          if (multi) claims.foreach(c => Files.write(pendingFile(c.root, c.v).toPath,
            s"$token|${coord.getAbsolutePath}".getBytes(StandardCharsets.UTF_8)))
          if (!prePublishFired) { prePublishFired = true; prePublish(claims.map(_.v).toSeq) }
          // RE-VERIFY FENCE: a writer stalled past claimTimeoutMs can
          // have a claim stolen (and an undecided intent rolled back)
          // and the slot recommitted by someone else — deciding now
          // would publish over it, or publish SOME tables of this
          // transaction and not others
          val stolen = claims.indices.filterNot(i => holds(claims(i), token))
          stolen.foreach(conflicts(_) += 1)
          rollBack = stolen.nonEmpty
          if (!rollBack && !multi) {
            // THE decision for one table: a failed link (target
            // exists, or our stage was trashed by a thief) means
            // someone else owns v — a conflict, never a co-success
            committed = linkMarker(claims.head)
            if (committed) finishPublish(claims.head.root, claims.head.v)
            else conflicts(0) += 1
          } else if (!rollBack) {
            // THE decision for several tables: one atomic link
            require(atomicLink(coord, claims.head.decider),
              s"coordinator $coord already existed")
            // POST-LINK FENCE: a claim stolen between the fence above
            // and the link is unrecoverable — recoverPending already
            // destroyed that table's stage and intent. The decision
            // must NOT be revoked: the thief that judged our heartbeat
            // lapsed can run recoverPending on another table of this
            // transaction right now, see the coordinator and publish
            // it, so a retry would commit the delta twice. Once the
            // link exists the decision is irrevocable: fail loudly.
            val stolenPostLink = claims.collect {
              case c if !holds(c, token) => s"${c.root}@v${c.v}"
            }
            require(stolenPostLink.isEmpty,
              s"commitMulti decided COMMIT but ${stolenPostLink.mkString(",")} " +
                "lost its claim/intent between the pre-link fence and " +
                "the coordinator link — DURABLE mixed commit: the " +
                "stolen table's stage was rolled back and recoverMulti " +
                "cannot finish its publish while the other tables " +
                "commit; reconcile manually")
            // complete every table (recovery can take over at any
            // point from here — the coordinator has decided)
            claims.zipWithIndex.foreach { case (c, i) =>
              postDecide(i)
              // the marker must be OURS: a link failure against a
              // foreign marker (our stage rolled back, the slot
              // recommitted after the fence) is the mixed-commit
              // hazard, never a silent success
              require(linkMarker(c) || tokenOf(commitMarker(c.root, c.v)) == token,
                s"commitMulti decided COMMIT but table ${c.root} lost " +
                  s"v${c.v} to a foreign writer after the decision — " +
                  "DURABLE mixed commit: tables marked earlier in " +
                  "this transaction are committed and recoverMulti " +
                  s"cannot restore atomicity; reconcile ${c.root} manually")
              finishPublish(c.root, c.v)
              pendingFile(c.root, c.v).delete()
            }
            committed = true
          }
        }
      } finally claims.foreach { c =>
        c.heartbeat.interrupt()
        // release only what is still ours: never a table whose marker
        // we won (claims of committed versions are inert), and never
        // an intent a crash left between intents and decision — that
        // one belongs to recovery, unless the fence rolls it back
        val intent = tokenOf(pendingFile(c.root, c.v)) == token
        if (tokenOf(commitMarker(c.root, c.v)) != token && (rollBack || !intent)) {
          if (intent) pendingFile(c.root, c.v).delete()
          if (ownsClaim(c.file, token)) c.file.delete()
          destroyDir(c.stage)
        }
      }
      if (committed)
        return claims.indices.map(i => TxnStats(claims(i).v, attempts, conflicts(i)))
      lost.foreach { case (root, v) => awaitClaim(root, v, claimTimeoutMs) }
      // loop re-validates against the new latest and retries
    }
    throw new Conflict(s"gave up after $maxAttempts attempts")
  }

  /** Create `c`'s marker as a link to its stage's decider; false when
    * the marker exists or a thief trashed the stage. */
  private def linkMarker(c: Claimed): Boolean =
    try atomicLink(commitMarker(c.root, c.v), c.decider)
    catch { case _: java.nio.file.NoSuchFileException => false }

  /** Stage `c`'s commit of `delta` (built at `builtAt`) under
    * `c.stage`. A metadata-only commit (linkSnapshot) stages NO
    * snapshot bytes: its snapshot publishes as a link to the previous
    * version's. Throws [[CheckViolation]] before anything is staged
    * when the post state violates the table's CHECK. */
  private def stage(spark: SparkSession, c: Claimed, delta: DataFrame,
      builtAt: Long, token: String): Unit = {
    val (p, root, v, stage) = (c.part, c.root, c.v, c.stage)
    val mapping = if (v == 0) None else currentMapping(root, v - 1)
    val keyed = toPhysical(delta, mapping).localCheckpoint(true)
    // v0's base is an empty frame with the DELTA's own columns, so
    // the first commit of a wide table does not inherit
    // emptySnapshot's fixture (key, value) shape
    val prevSnap =
      if (v == 0) keyed.drop("op").limit(0)
      else readPhysical(spark, root, v - 1)
    val post0 = applyDelta(prevSnap, keyed, p.defaults)
    val post = p.layout.map(_(post0)).getOrElse(post0)
    // CHECK constraint: enforced on the POST state (resolved to
    // LOGICAL names if a mapping is in force)
    p.check.foreach { check =>
      val checkView = p.mappingUpdate.orElse(mapping) match {
        case None => post
        case Some(m) =>
          val phys = post.columns.toSet
          post.select(col("key") +: m.map { case (l, ph, d) =>
            if (phys(ph)) col(ph).as(l)
            else lit(d.map(Long.box).orNull).cast("long").as(l)
          }: _*)
      }
      if (checkView.filter(!check).limit(1).count() > 0)
        throw new CheckViolation(
          s"commit v$v rejected: post-state violates CHECK $check")
    }
    stage.mkdirs()
    if (!p.linkSnapshot)
      post.write.mode("overwrite").parquet(s"$stage/snapshot")
    else
      Files.write(new File(stage, "snapshot_link").toPath,
        s"snapshot_v${v - 1}".getBytes(StandardCharsets.UTF_8))
    // a delta with no partitions (the empty delta of a metadata commit
    // or OPTIMIZE) is written as it is: for such an input Spark builds
    // the range exchange's partitioner lazily, on AQE's
    // QueryStageCreator pool thread, and its sampling job there carries
    // no job tag
    (if (keyed.queryExecution.toRdd.getNumPartitions == 0) keyed
     else keyed.repartitionByRange(DELTA_FILES, col("key")))
      .write.mode("overwrite").parquet(s"$stage/delta")
    writeMetaTo(new File(stage, "meta"),
      CommitMeta(v, builtAt, fileRanges(spark, s"$stage/delta")))
    val newCols = keyed.columns
      .filter(c => c != "key" && c != "op")
      .filterNot(prevSnap.columns.contains)
    if (newCols.nonEmpty)
      Files.write(new File(stage, "schema").toPath,
        newCols.map(c => s"ADD|$c|" +
          p.defaults.get(c).map(_.toString).getOrElse("NULL"))
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
    // the commit's mapping: an explicit schema change, or the identity
    // extension a mapped table needs when a delta ADDs brand-new
    // columns (without it the mapped read would silently hide them)
    p.mappingUpdate.orElse(
      mapping.filter(_ => newCols.nonEmpty).map(m =>
        m ++ newCols.map(c => (c, c, p.defaults.get(c)))))
      .foreach(m => writeMappingTo(new File(stage, "mapping"), m))
    // the types rebuild can refuse (a concurrent widening made the
    // caller's premise invalid); the protocol's release drops the slot
    p.typesUpdate.foreach(t =>
      Files.write(new File(stage, "types").toPath,
        t(v).map { case (ph, ty) => s"$ph|$ty" }.mkString("\n")
          .getBytes(StandardCharsets.UTF_8)))
    p.txnId.foreach(id =>
      Files.write(new File(stage, "txnid").toPath,
        id.getBytes(StandardCharsets.UTF_8)))
    Files.write(c.decider.toPath, token.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** After losing the claim of (root, v): wait for its owner to finish
    * (marker) or release (claim gone) rather than burning attempts
    * spinning, then steal the slot if the claim is orphaned. */
  private def awaitClaim(root: String, v: Long, claimTimeoutMs: Long): Unit = {
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
    }
  }

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

  /** Daemon thread refreshing `claim`'s mtime every `timeoutMs/4`
    * while the owning commit runs — the liveness signal the
    * age-checked claim steal keys off. */
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
