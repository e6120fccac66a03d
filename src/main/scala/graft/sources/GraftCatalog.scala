package graft.sources

import java.io.File
import java.util

import scala.collection.concurrent.TrieMap

import graft.engine.DfCache

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Read-only DataSourceV2 `TableCatalog` exposing parquet fixture
  * tables through multi-part SQL identifiers — the catalog rung of
  * the extension ladder (expression → aggregate → plan → rule →
  * source → sink → CATALOG).
  *
  * The NAMESPACE IS THE DIRECTORY PATH: each namespace segment is one
  * path component under the configured root (default `/`), and the
  * table name is the `<name>.parquet` entry in that directory, so
  *
  * {{{
  *   QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
  *     spark.sql("""SELECT * FROM graft.root.testdata.`sf0.01`.lineitem""")
  *   }
  * }}}
  *
  * resolves `/root/testdata/sf0.01/lineitem.parquet`. One catalog
  * instance therefore serves every scale factor of a query — no
  * per-sfDir conf rewiring, which matters because Spark instantiates
  * a catalog once per session and never re-reads its options.
  *
  * Resolution is cached per (path, layout fingerprint): the
  * fingerprint is the directory's layout spec
  * ([[graft.engine.DfCache.SpecFile]]) when present (the
  * derived-layout discipline — a layout rebuilt under different
  * read semantics gets a fresh `Table`, the stale resolution dies),
  * else the data file's mtime (a regenerated fixture invalidates
  * too). Tables delegate to Spark's own `ParquetTable`, so scans
  * keep the full vectorized reader with filter/column/partition
  * pushdown — the catalog adds naming, not an execution path.
  *
  * Scale notes (100 TB): a metastore-backed TableCatalog is exactly
  * this shape — identifier → (files, schema, stats) resolution with
  * a freshness key — and because `loadTable` returns the standard
  * file table, everything Catalyst can push at a path scan it pushes
  * here (PlanSpec pins pushed filters + pruned read schema through
  * the catalog route). */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = "/"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse("/")
  }

  override def name(): String = catalogName

  // declare column-DEFAULT support so Spark routes
  // `ALTER TABLE ... ADD COLUMN ... DEFAULT n` here instead of
  // rejecting it at analysis
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def dirOf(namespace: Array[String]): File =
    new File((root +: namespace.toSeq).mkString("/"))

  private def fileOf(ident: Identifier): File =
    new File(dirOf(ident.namespace()), s"${ident.name()}.parquet")

  /** Layout fingerprint: the layout spec file's content if the
    * directory declares one, else the newest mtime under the table
    * path. */
  private def fingerprint(dir: File, table: File): String = {
    val spec = new File(dir, DfCache.SpecFile)
    if (spec.exists())
      new String(java.nio.file.Files.readAllBytes(spec.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    else {
      def newest(f: File): Long =
        if (f.isDirectory)
          (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
            .map(newest).toSeq).max
        else f.lastModified()
      s"mtime=${newest(table)}"
    }
  }

  private val resolved = TrieMap.empty[String, Table]

  private def parquetTable(ident: Identifier, path: String,
      userSchema: Option[StructType] = None): Table =
    ParquetTable(
      s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}",
      SparkSession.active,
      CaseInsensitiveStringMap.empty(),
      Seq(path),
      userSchema,
      classOf[ParquetFileFormat])

  /** A name resolving to a [[graft.engine.TxnLog]] table root (a
    * directory with a `_txn_log`) instead of a plain parquet file. */
  private def txnRoot(ident: Identifier): Option[File] = {
    val dir = new File(dirOf(ident.namespace()), ident.name())
    if (new File(dir, "_txn_log").isDirectory) Some(dir) else None
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style METADATA TABLE: `<table>$history` on a txn table
    // resolves to the commit log itself — version, base-read version,
    // file count, written key span, and the operation kind derived
    // from the published artifacts (a linked snapshot is a metadata
    // commit, an empty write set over a real snapshot is an
    // optimize). The rows come straight from the log (one per commit
    // — metadata-scale by definition), served via a LocalScan.
    if (ident.name().endsWith("$history")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$history"))
      val root = txnRoot(base).getOrElse(
        throw new NoSuchTableException(
          ident.namespace() :+ ident.name()))
      return new TxnHistoryTable(
        s"$catalogName.${ident.name()}", root.getAbsolutePath)
    }
    if (ident.name().endsWith("$files")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$files"))
      val root = txnRoot(base).getOrElse(
        throw new NoSuchTableException(
          ident.namespace() :+ ident.name()))
      return new TxnFilesTable(
        s"$catalogName.${ident.name()}", root.getAbsolutePath)
    }
    // `<table>$changes` — the CHANGE FEED as a TABLE (Delta's
    // table_changes / CDF read). TABLE-SHAPED data, so unlike
    // $history/$files it is NOT a LocalScan: the committed delta
    // directories are exposed as a hive-partitioned layout
    // (`_changes/version=N` → symlink to `delta_vN`, links are
    // metadata-scale and idempotently refreshed here) and served as
    // one parquet V2 relation — `version` becomes a genuine
    // PARTITION COLUMN, so "changes since version N" PRUNES to the
    // matching directories before any data page is read: the
    // CDC-consumer contract at 100 TB. Physical column names (the
    // stored feed; mapping-aware consumers resolve via vN.mapping).
    if (ident.name().endsWith("$changes")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$changes"))
      val root = txnRoot(base).getOrElse(
        throw new NoSuchTableException(
          ident.namespace() :+ ident.name()))
      val latest = graft.engine.TxnLog.latestCommitted(
        root.getAbsolutePath)
      if (latest < 0)
        throw new NoSuchTableException(ident.namespace() :+ ident.name())
      val feed = new File(root, "_changes")
      feed.mkdirs()
      // drop links whose delta was vacuumed, add links for new commits
      Option(feed.listFiles()).getOrElse(Array.empty).foreach { l =>
        if (java.nio.file.Files.isSymbolicLink(l.toPath) &&
            !java.nio.file.Files.exists(l.toPath)) l.delete()
      }
      (0L to latest).foreach { v =>
        val link = new File(feed, s"version=$v")
        val target = new File(root, s"delta_v$v")
        if (target.isDirectory && !java.nio.file.Files
            .isSymbolicLink(link.toPath) && !link.exists()) {
          // check-then-act on shared state: two sessions loading the
          // feed concurrently can both pass the exists() check — the
          // loser's create must be an idempotent no-op, not a failed
          // query (same tolerant style as TxnLog.finishPublish)
          try java.nio.file.Files.createSymbolicLink(link.toPath,
            target.toPath.toAbsolutePath)
          catch {
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
          ()
        }
      }
      val opts = new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("mergeSchema", "true"))
      return ParquetTable(
        s"$catalogName.${ident.name()}",
        SparkSession.active, opts, Seq(feed.getAbsolutePath), None,
        classOf[ParquetFileFormat])
    }
    if (ident.name().endsWith("$partitions")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$partitions"))
      val root = txnRoot(base).getOrElse(
        throw new NoSuchTableException(
          ident.namespace() :+ ident.name()))
      return new TxnPartitionsTable(
        s"$catalogName.${ident.name()}", root.getAbsolutePath)
    }
    txnRoot(ident) match {
      case Some(root) =>
        // transactional table: resolve the LATEST committed snapshot
        // (never cached — the whole point of the log is that latest
        // moves; snapshot dirs themselves are immutable) and wrap it
        // writable: INSERT INTO commits through the OCC log
        val v = graft.engine.TxnLog.latestCommitted(root.getAbsolutePath)
        if (v < 0) {
          // CREATE TABLE without data yet: no snapshot to delegate
          // reads to, but the declared schema was persisted at create
          // time — INSERT INTO must resolve (the most basic DDL→DML
          // sequence), reads fail loudly until v0 lands
          val declared = new File(root, "_txn_log/create.schema")
          if (!declared.exists())
            throw new NoSuchTableException(
              ident.namespace() :+ ident.name())
          val cols = new String(java.nio.file.Files.readAllBytes(
            declared.toPath), java.nio.charset.StandardCharsets.UTF_8)
            .linesIterator.filter(_.nonEmpty).toSeq
          return new TxnTable(
            s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}",
            root.getAbsolutePath,
            StructType(cols.map(c => org.apache.spark.sql.types
              .StructField(c, org.apache.spark.sql.types.LongType,
                nullable = c != "key"))),
            None)
        }
        versionedTable(ident, root, v)
      case None =>
        val f = fileOf(ident)
        if (!f.exists())
          throw new NoSuchTableException(ident.namespace() :+ ident.name())
        val key = s"${f.getAbsolutePath}|${fingerprint(dirOf(ident.namespace()), f)}"
        // drop resolutions of the same path under older fingerprints
        resolved.keys.filter(k =>
          k.startsWith(f.getAbsolutePath + "|") && k != key)
          .foreach(resolved.remove)
        // hard cap: re-resolving is one footer read, so on overflow
        // the whole map resets rather than growing with every
        // directory a long session ever touched
        if (resolved.size > 256) resolved.clear()
        resolved.getOrElseUpdate(key, parquetTable(ident, f.getAbsolutePath))
    }
  }

  /** The transactional table AT version v — the one construction
    * every read path (latest, `VERSION AS OF`, `TIMESTAMP AS OF`)
    * shares, so the DECLARED TYPES widening and the rename mapping
    * apply identically at every version boundary: a `VERSION AS OF`
    * at/after an ALTER COLUMN TYPE must show the widened schema just
    * like TxnLog.read does (pre-fix, time travel returned the raw
    * physical table and the two read paths disagreed at exactly the
    * widen version, whose metadata-only snapshot still holds narrow
    * files). Widening is metadata-only: Spark 4's parquet readers
    * promote narrow physical files (int32 under a declared bigint,
    * etc.) natively when handed the wider schema. */
  private def versionedTable(ident: Identifier, root: File,
      v: Long): Table = {
    val declaredTypes = graft.engine.TxnLog.currentTypes(
      root.getAbsolutePath, v)
    val pt =
      if (declaredTypes.isEmpty)
        parquetTable(ident, s"$root/snapshot_v$v")
      else {
        val physSchema =
          parquetTable(ident, s"$root/snapshot_v$v").schema()
        val widened = StructType(physSchema.fields.map(f =>
          declaredTypes.get(f.name).map(t => f.copy(dataType =
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(t))).getOrElse(f)))
        parquetTable(ident, s"$root/snapshot_v$v", Some(widened))
      }
    val mapping = graft.engine.TxnLog.currentMapping(
      root.getAbsolutePath, v)
    val logicalSchema = mapping match {
      case None => pt.schema()
      case Some(m) =>
        val phys = pt.schema()
        StructType(phys.fields.find(_.name == "key").toSeq ++
          m.map { case (l, p, d) =>
            phys.fields.find(_.name == p).map(_.copy(name = l))
              .getOrElse(org.apache.spark.sql.types.StructField(
                l, org.apache.spark.sql.types.LongType,
                nullable = d.isEmpty))
          })
    }
    new TxnTable(
      s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}",
      root.getAbsolutePath, logicalSchema, Some(pt), mapping, v)
  }

  /** SQL time travel (`VERSION AS OF n`) for transactional tables:
    * Spark routes the version literal here; a version is readable
    * iff its commit marker exists (TxnLog's visibility rule). Reads
    * through [[versionedTable]], so declared-type widening and the
    * rename mapping hold at historical versions too. */
  override def loadTable(ident: Identifier, version: String): Table =
    txnRoot(ident) match {
      case Some(root) =>
        val v = version.toLong
        val snap = new File(root, s"snapshot_v$v")
        val marker = new File(root, s"_txn_log/v$v.commit")
        if (!marker.exists() || !snap.isDirectory)
          throw new NoSuchTableException(ident.namespace() :+ ident.name())
        versionedTable(ident, root, v)
      case None =>
        throw new UnsupportedOperationException(
          s"$catalogName: VERSION AS OF is only defined for " +
            "transactional (_txn_log) tables")
    }

  /** SQL time travel by TIME (`TIMESTAMP AS OF t`): resolve the
    * LARGEST version whose commit marker was published at or before
    * `timestamp` (micros since epoch — Spark's contract for this
    * overload). The marker's mtime IS the commit's visibility
    * instant, so "the table as of 14:05" means "every commit that
    * had published by 14:05" — exactly Delta/Iceberg's
    * timestamp-resolution rule (scan the log's commit times, pick
    * the floor). O(versions-scan) over marker files — metadata. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    txnRoot(ident) match {
      case Some(root) =>
        val tsMs = timestamp / 1000L
        val latest = graft.engine.TxnLog.latestCommitted(
          root.getAbsolutePath)
        val v = (0L to latest)
          .filter(u => new File(root, s"_txn_log/v$u.commit")
            .lastModified() <= tsMs)
          .lastOption
          .getOrElse(throw new NoSuchTableException(
            ident.namespace() :+ ident.name()))
        versionedTable(ident, root, v)
      case None =>
        throw new UnsupportedOperationException(
          s"$catalogName: TIMESTAMP AS OF is only defined for " +
            "transactional (_txn_log) tables")
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace)
    if (!dir.isDirectory)
      throw new NoSuchNamespaceException(namespace)
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
    val plain = entries
      .filter(_.getName.endsWith(".parquet"))
      .map(f => Identifier.of(namespace,
        f.getName.stripSuffix(".parquet")))
    // transaction-log tables are directories carrying a _txn_log —
    // loadTable resolves them, so the listing must show them too
    val txn = entries
      .filter(d => d.isDirectory &&
        new File(d, "_txn_log").isDirectory)
      .map(d => Identifier.of(namespace, d.getName))
    plain ++ txn
  }

  override def tableExists(ident: Identifier): Boolean =
    fileOf(ident).exists() || txnRoot(ident).isDefined

  /** `CREATE TABLE` / CTAS — only for TRANSACTIONAL tables under the
    * JVM's temp root (fixture data stays read-only; the guard makes
    * a mistyped identifier a loud error, not a stray directory).
    * The new table is an initialized empty txn log; CTAS's follow-up
    * write lands as commit v0 through the staged-file INSERT path.
    * Schema contract: BIGINT columns with the primary key `key`
    * first — the txn fixture family. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = new File(dirOf(ident.namespace()), ident.name())
    val tmp = new File(System.getProperty("java.io.tmpdir")).getAbsolutePath
    if (!dir.getAbsolutePath.startsWith(tmp))
      throw new UnsupportedOperationException(
        s"$catalogName: CREATE TABLE is only supported under $tmp " +
          "(fixture namespaces are read-only)")
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        s"$catalogName: partition transforms are not supported here")
    require(schema.fields.nonEmpty && schema.fields.head.name == "key" &&
      schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType),
      s"$catalogName: txn tables need BIGINT columns with 'key' first, " +
        s"got ${schema.simpleString}")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.namespace() :+ ident.name())
    graft.engine.TxnLog.init(dir.getAbsolutePath)
    // persist the declared columns so the table resolves BEFORE its
    // first commit (CREATE TABLE then INSERT INTO as two statements)
    java.nio.file.Files.write(
      new File(dir, "_txn_log/create.schema").toPath,
      schema.fieldNames.mkString("\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    new TxnTable(
      s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}",
      dir.getAbsolutePath, schema, None)
  }

  /** `ALTER TABLE ... RENAME COLUMN / DROP COLUMN` on transactional
    * tables: each change is one METADATA-ONLY commit through the
    * column mapping ([[graft.engine.TxnLog.renameColumn]] /
    * `dropColumn`) — a linked snapshot plus a mapping file, zero
    * data rewritten, full claim/marker race safety. Anything else
    * (type changes, nested fields) is refused loudly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = txnRoot(ident).getOrElse(
      throw new UnsupportedOperationException(
        s"$catalogName: ALTER TABLE is only defined for " +
          "transactional (_txn_log) tables"))
    val spark = SparkSession.active
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "nested fields are not supported")
        graft.engine.TxnLog.renameColumn(spark,
          root.getAbsolutePath, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "nested fields are not supported")
        graft.engine.TxnLog.dropColumn(spark,
          root.getAbsolutePath, d.fieldNames()(0))
      // ALTER TABLE ... ADD COLUMN ... DEFAULT n — BACKFILL-FREE:
      // one metadata-only commit (linked snapshot + mapping entry);
      // no data file is rewritten, reads materialize the default
      // until real writes arrive, and time travel below the ALTER
      // still shows the old schema (the Delta/Iceberg default
      // semantic). The default must be a LITERAL the mapping can
      // store — BIGINT, the txn column family.
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "nested fields are not supported")
        require(a.dataType() == org.apache.spark.sql.types.LongType,
          s"$catalogName: txn tables are BIGINT-columned, got " +
            a.dataType().simpleString)
        val default = Option(a.defaultValue()).map { dv =>
          dv.getValue.value() match {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case other => throw new UnsupportedOperationException(
              s"$catalogName: DEFAULT must be an integer literal, " +
                s"got $other")
          }
        }.getOrElse(throw new UnsupportedOperationException(
          s"$catalogName: ADD COLUMN on a txn table requires a " +
            "DEFAULT (backfill-free adds materialize it on read)"))
        graft.engine.TxnLog.addColumnMapped(spark,
          root.getAbsolutePath, a.fieldNames()(0), default)
      // ALTER TABLE ... ALTER COLUMN ... TYPE — metadata-only
      // WIDENING (int→bigint, decimal precision up, ...): one commit
      // publishing a linked snapshot plus the declared-type table;
      // historical narrow files read through the promotion, the next
      // data commit stores wide. Narrowing is refused by the engine.
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "nested fields are not supported")
        graft.engine.TxnLog.alterColumnType(spark,
          root.getAbsolutePath, u.fieldNames()(0),
          u.newDataType().catalogString)
      case other =>
        throw new UnsupportedOperationException(
          s"$catalogName: unsupported ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  /** `DROP TABLE` — transactional tables under the temp root only
    * (the same writability boundary as CREATE). */
  override def dropTable(ident: Identifier): Boolean =
    txnRoot(ident) match {
      case Some(dir) if dir.getAbsolutePath.startsWith(
          new File(System.getProperty("java.io.tmpdir")).getAbsolutePath) =>
        graft.engine.TxnLog.destroy(dir.getAbsolutePath)
        true
      case Some(_) =>
        throw new UnsupportedOperationException(
          s"$catalogName: DROP TABLE outside the temp root is refused")
      case None if fileOf(ident).exists() =>
        throw new UnsupportedOperationException(
          s"$catalogName: fixture tables are read-only")
      case None => false
    }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only catalog")

  // SupportsNamespaces: namespaces are directories; existence is the
  // only property they carry
  override def listNamespaces(): Array[Array[String]] =
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => Array(d.getName))

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    val dir = dirOf(namespace)
    if (!dir.isDirectory)
      throw new NoSuchNamespaceException(namespace)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => namespace :+ d.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    dirOf(namespace).isDirectory

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.singletonMap("location",
      dirOf(namespace).getAbsolutePath)
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only catalog")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only catalog")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only catalog")
}

/** A transactional table through the catalog: reads delegate to the
  * standard parquet table over the LATEST committed snapshot (full
  * vectorized scan + pushdown), and `INSERT INTO` runs the real
  * distributed-ingest shape — executor [[org.apache.spark.sql.connector.write.DataWriter]]s
  * stage their partitions as files on shared storage, task-commit
  * messages carry only (path, key-range, row-count) MANIFESTS, and
  * the driver's job commit turns the staged files into one
  * [[graft.engine.TxnLog]] OCC commit (claim → validate → fenced
  * publish). Data never rides through commit messages; the driver
  * handles metadata only — the shape that holds at any transaction
  * width. Insert semantics are keyed UPSERT (the table declares a
  * primary key; this is the MERGE-sink contract, not a bag append).
  * Long-typed columns only — the txn fixture's schema family. */
private[graft] class TxnTable(tableName: String, root: String,
    tableSchema: StructType, delegate: Option[Table],
    mapping: Option[graft.engine.TxnLog.ColMapping] = None,
    scannedVersion: Long = -1L)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  import org.apache.spark.sql.connector.read.ScanBuilder
  import org.apache.spark.sql.connector.write._

  /** SQL `UPDATE` / `MERGE INTO` via DELTA-BASED row-level operations
    * (`SupportsDelta` — the Iceberg merge-on-read rewrite contract):
    * Spark plans the rewrite so the WRITE receives only the CHANGED
    * rows, each tagged insert/update/delete, with the declared row
    * id (`key`) identifying targets. The deltas land through the
    * same staged-file manifest path as INSERT and commit as one OCC
    * transaction — a MERGE's cost is the matched+inserted rows, not
    * a table rewrite (copy-on-write group rewrites would be the
    * alternative; delta writes are the 100 TB answer because the
    * log's applyDelta already IS merge-on-read keyed reconciliation). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new RowLevelOperation with SupportsDelta {
          override def command(): RowLevelOperation.Command = info.command()
          // the row id must be non-nullable; `key` is the primary
          // key (never null in any snapshot), the parquet reader
          // just can't declare it — adjust the reported schema
          override def newScanBuilder(
              options: CaseInsensitiveStringMap): ScanBuilder =
            new KeyNotNullScanBuilder(
              TxnTable.this.newScanBuilder(options))
          override def newWriteBuilder(
              wi: LogicalWriteInfo): DeltaWriteBuilder =
            new DeltaWriteBuilder {
              override def build(): DeltaWrite = new DeltaWrite {
                override def toBatch: DeltaBatchWrite =
                  // the write validates against the version this
                  // table was LOADED at — the version the rewrite's
                  // scan actually read — so commits landing between
                  // the DML's scan and its job commit are seen
                  new TxnDeltaBatchWrite(root, wi.schema(),
                    scannedVersion)
              }
            }
          override def rowId(): Array[
              org.apache.spark.sql.connector.expressions.NamedReference] =
            Array(org.apache.spark.sql.connector.expressions
              .Expressions.column("key"))
        }
    }

  override def name(): String = tableName
  // `key` is the primary key — never null in any snapshot. Declaring
  // it is required for row-level operations (row ids cannot be
  // nullable) and lets the scan report the same.
  override def schema(): StructType =
    StructType(tableSchema.fields.map(f =>
      if (f.name == "key") f.copy(nullable = false) else f))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val inner = delegate.getOrElse(throw new IllegalStateException(
      s"$tableName has no committed version to read yet"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(options)
    mapping match {
      case None => inner
      case Some(m) =>
        // VIRTUAL columns (added via mapping with a DEFAULT, no
        // physical data yet — the backfill-free ADD COLUMN) are
        // served by appending the constant default to every row in
        // the readers themselves: distributed, prune-aware, zero
        // data rewritten. Physically-backed columns go through the
        // positional name translation as before.
        val physNames = delegate.get.schema().fieldNames.toSet
        val virtual = m.collect {
          case (l, p, d) if !physNames(p) => (l, d)
        }
        if (virtual.isEmpty) new MappedScanBuilder(inner, m)
        else new MappedVirtualScanBuilder(inner,
          m.filter(e => physNames(e._2)), virtual)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new TxnBatchWrite(root, info.schema(), doTruncate)
      }
    }

  /** `DELETE FROM t WHERE ...` — metadata-routed row deletion: Spark
    * pushes the (source-translatable) predicate here, the matching
    * keys become a DELETE delta, and the whole DML is one OCC commit
    * whose write set is the deleted keys' file ranges. The delta is
    * sized by the DAMAGE (matched rows), never the table — the
    * filter-pushdown form of row-level delete, the same contract
    * `SupportsDelete` gives Iceberg's filter deletes. */
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, lit}
    graft.engine.TxnLog.commit(spark, root, { snap =>
      val cond = filters.map(TxnTable.filterToColumn)
        .reduceOption(_ && _).getOrElse(lit(true))
      val victims = snap.filter(cond)
        .select(col("key"), lit("delete").as("op"))
      (victims, graft.engine.TxnLog.range(victims))
    })
    ()
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(TxnTable.translatable)
}

private[graft] object TxnTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** The V1 filter subset the delete path accepts; anything else
    * makes `canDeleteWhere` return false and Spark falls back to a
    * rewrite plan (which this table does not provide — loud failure
    * beats silent wrong deletion). */
  private[sources] def translatable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In | _: IsNull |
         _: IsNotNull => true
    case And(l, r) => translatable(l) && translatable(r)
    case Or(l, r) => translatable(l) && translatable(r)
    case Not(c) => translatable(c)
    case _ => false
  }

  private[sources] def filterToColumn(f: Filter): Column = f match {
    case EqualTo(a, v) => col(a) === lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case And(l, r) => filterToColumn(l) && filterToColumn(r)
    case Or(l, r) => filterToColumn(l) || filterToColumn(r)
    case Not(c) => !filterToColumn(c)
    case other => throw new UnsupportedOperationException(
      s"DELETE filter not translatable: $other")
  }
}

/** Name-translating scan for COLUMN-MAPPED transactional tables: a
  * rename never moves data, so the delegate's positional rows are
  * byte-identical under the logical and physical schemas — the
  * wrapper only translates NAMES: logical→physical on the column
  * prune going down, physical→logical on the read schema coming up.
  * Filter pushdown is not forwarded (Spark keeps the filters in the
  * plan above the scan — correct, merely unpruned; the delegate
  * still prunes columns, which is the scan cost that matters). */
private[graft] class MappedScanBuilder(
    delegate: org.apache.spark.sql.connector.read.ScanBuilder,
    mapping: graft.engine.TxnLog.ColMapping)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.connector.read.{Batch, Scan,
    SupportsPushDownRequiredColumns}

  private val l2p = mapping.map(e => e._1 -> e._2).toMap
  private val p2l = mapping.map(e => e._2 -> e._1).toMap

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate match {
      case d: SupportsPushDownRequiredColumns =>
        d.pruneColumns(StructType(requiredSchema.fields.map(f =>
          f.copy(name = l2p.getOrElse(f.name, f.name)))))
      case _ =>
    }

  override def build(): Scan = {
    val inner = delegate.build()
    new Scan {
      override def readSchema(): StructType =
        StructType(inner.readSchema().fields.map(f =>
          f.copy(name = p2l.getOrElse(f.name, f.name))))
      override def toBatch: Batch = inner.toBatch
      override def description(): String =
        s"mapped(${inner.description()})"
    }
  }
}

/** [[MappedScanBuilder]] plus VIRTUAL columns: logical columns whose
  * physical data does not exist yet (the backfill-free
  * `ADD COLUMN ... DEFAULT`) are appended to every row as CONSTANTS
  * inside the partition readers — the read stays fully distributed
  * and column-pruned; only the mapping metadata knows the value.
  * Readers are forced onto the row-based path (`supportColumnarReads
  * = false`) so one JoinedRow covers every inner source. At 100 TB
  * this is exactly how Delta/Iceberg serve added-with-default
  * columns: from metadata at read time, never by rewriting files. */
private[graft] class MappedVirtualScanBuilder(
    delegate: org.apache.spark.sql.connector.read.ScanBuilder,
    physMapping: graft.engine.TxnLog.ColMapping,
    virtualAll: Seq[(String, Option[Long])])
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
    JoinedRow}

  private val l2p = physMapping.map(e => e._1 -> e._2).toMap
  private val p2l = physMapping.map(e => e._2 -> e._1).toMap
  private val virtualByName = virtualAll.toMap
  private var requestedVirtual: Seq[(String, Option[Long])] = virtualAll

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val (virt, phys) = requiredSchema.fields.partition(f =>
      virtualByName.contains(f.name))
    requestedVirtual = virt.toSeq.map(f => f.name -> virtualByName(f.name))
    delegate match {
      case d: SupportsPushDownRequiredColumns =>
        d.pruneColumns(StructType(phys.map(f =>
          f.copy(name = l2p.getOrElse(f.name, f.name)))))
      case _ =>
    }
  }

  override def build(): Scan = {
    val inner = delegate.build()
    val virtuals = requestedVirtual
    new Scan {
      override def readSchema(): StructType =
        StructType(inner.readSchema().fields.map(f =>
          f.copy(name = p2l.getOrElse(f.name, f.name))) ++
          virtuals.map { case (l, d) =>
            org.apache.spark.sql.types.StructField(l,
              org.apache.spark.sql.types.LongType,
              nullable = d.isEmpty)
          })
      override def description(): String =
        s"mappedVirtual(${inner.description()}, " +
          s"+${virtuals.map(_._1).mkString(",")})"
      override def toBatch: Batch = {
        val innerBatch = inner.toBatch
        new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            innerBatch.planInputPartitions()
          override def createReaderFactory(): PartitionReaderFactory = {
            val innerFactory = innerBatch.createReaderFactory()
            val consts = virtuals.map(_._2).toArray
            new PartitionReaderFactory {
              override def supportColumnarReads(
                  p: InputPartition): Boolean = false
              override def createReader(
                  p: InputPartition): PartitionReader[InternalRow] = {
                val r = innerFactory.createReader(p)
                new PartitionReader[InternalRow] {
                  private val joined = new JoinedRow
                  private val extra = {
                    val g = new GenericInternalRow(consts.length)
                    consts.zipWithIndex.foreach {
                      case (Some(v), i) => g.setLong(i, v)
                      case (None, i) => g.setNullAt(i)
                    }
                    g
                  }
                  override def next(): Boolean = r.next()
                  override def get(): InternalRow = joined(r.get(), extra)
                  override def close(): Unit = r.close()
                }
              }
            }
          }
        }
      }
    }
  }
}

/** Manifest-style task-commit message: where the task staged its
  * rows, and the key range + count it wrote — never the rows. */
private[graft] case class TxnStagedFile(path: String, kmin: Long,
    kmax: Long, rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[graft] class TxnBatchWrite(root: String,
    writeSchema: StructType, truncate: Boolean = false)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  private val stageDir = new File(root,
    s".insert_stage_${java.util.UUID.randomUUID()}")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    stageDir.mkdirs()
    TxnStageWriterFactory(stageDir.getAbsolutePath, writeSchema.length)
  }

  /** Driver job commit: staged files → ONE OCC transaction. The
    * delta is read back distributedly from the staged files; the
    * commit message ranges become the transaction's read set (a
    * keyed upsert's conservative serializability guard). In truncate
    * mode (`INSERT OVERWRITE`) the delta additionally deletes every
    * pre-existing key the staged rows don't replace, and the read
    * set is the FULL key domain — an overwrite semantically depends
    * on (and conflicts with) everything, which is exactly what the
    * OCC validator should see. The replace is still one atomic
    * commit: readers see the old table or the new, never a mix. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.collect {
      case m: TxnStagedFile if m.rows > 0 => m
    }
    val spark = SparkSession.active
    try {
      if (staged.nonEmpty) {
        import org.apache.spark.sql.functions.{col, lit}
        val fields = writeSchema.fieldNames.toSeq
        val schema = StructType(fields.map(f =>
          org.apache.spark.sql.types.StructField(f,
            org.apache.spark.sql.types.LongType,
            nullable = f != "key")))
        val ranges =
          if (truncate) Seq((Long.MinValue, Long.MaxValue))
          else staged.map(m => (m.kmin, m.kmax))
        graft.engine.TxnLog.commit(spark, root, { snap =>
          val rows = spark.read.schema(schema)
            .csv(staged.map(_.path): _*)
            .withColumn("op", lit("upsert"))
          val delta =
            if (!truncate) rows
            else {
              val dels = snap
                .join(rows.select("key"), Seq("key"), "left_anti")
                .select(col("key") +: fields.filter(_ != "key")
                  .map(f => lit(0L).as(f)) :+
                  lit("delete").as("op"): _*)
              dels.unionByName(rows)
            }
          (delta, ranges)
        })
        ()
      } else if (truncate) {
        // INSERT OVERWRITE from an empty query still truncates
        import org.apache.spark.sql.functions.{col, lit}
        val fields = writeSchema.fieldNames.toSeq
        graft.engine.TxnLog.commit(spark, root, { snap =>
          (snap.select(col("key") +: fields.filter(_ != "key")
              .map(f => lit(0L).as(f)) :+ lit("delete").as("op"): _*),
            Seq((Long.MinValue, Long.MaxValue)))
        })
        ()
      }
    } finally {
      Option(stageDir.listFiles()).getOrElse(Array.empty)
        .foreach(_.delete())
      stageDir.delete()
      ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    Option(stageDir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    stageDir.delete()
    ()
  }
}

private[graft] case class TxnStageWriterFactory(stageDir: String,
    nCols: Int)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write.DataWriter
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.spark.sql.connector.write.WriterCommitMessage
      private val file = new File(stageDir, s"part_${partitionId}_$taskId.csv")
      private val out = new java.io.PrintWriter(
        new java.io.BufferedWriter(new java.io.FileWriter(file)))
      private var kmin = Long.MaxValue
      private var kmax = Long.MinValue
      private var n = 0L

      // NULL discipline: a NULL primary key is rejected LOUDLY (the
      // row id identifies the target row — there is no meaningful
      // null-keyed upsert); a NULL value column is encoded as an
      // empty CSV field, which the txn layer's applyDelta already
      // treats as "absent" (new keys read back NULL; existing keys
      // keep their prior value — the log's column-level-upsert
      // convention). Silent 0s from an unchecked getLong are neither.
      override def write(row: InternalRow): Unit = {
        if (row.isNullAt(0))
          throw new IllegalArgumentException(
            "cannot INSERT a NULL primary key into a txn table")
        val k = row.getLong(0)
        kmin = math.min(kmin, k); kmax = math.max(kmax, k); n += 1
        out.println((0 until nCols).map(i =>
          if (row.isNullAt(i)) "" else row.getLong(i).toString)
          .mkString(","))
      }

      override def commit(): WriterCommitMessage = {
        out.close()
        TxnStagedFile(file.getAbsolutePath, kmin, kmax, n)
      }

      override def abort(): Unit = { out.close(); file.delete(); () }
      override def close(): Unit = out.close()
    }
}

/** Declares the `key` column non-nullable in the scan's reported
  * schema — required by row-level operations (row ids cannot be
  * nullable) and true by construction: `key` is the table's primary
  * key and every snapshot row carries it. Positional row data is
  * untouched. */
private[graft] class KeyNotNullScanBuilder(
    delegate: org.apache.spark.sql.connector.read.ScanBuilder)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.connector.read.{Batch, Scan,
    SupportsPushDownRequiredColumns}

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate match {
      case d: SupportsPushDownRequiredColumns =>
        d.pruneColumns(requiredSchema)
      case _ =>
    }

  override def build(): Scan = {
    val inner = delegate.build()
    new Scan {
      override def readSchema(): StructType =
        StructType(inner.readSchema().fields.map(f =>
          if (f.name == "key") f.copy(nullable = false) else f))
      override def toBatch: Batch = inner.toBatch
      override def description(): String =
        s"keyNotNull(${inner.description()})"
    }
  }
}

/** Delta-based row-level write: executors stage ONLY the changed
  * rows (insert/update → upsert, delete → delete) as op-tagged CSV
  * files; the driver folds the staged files into one OCC commit.
  * Same manifest discipline as [[TxnBatchWrite]]: messages carry
  * paths and key ranges, never rows. */
private[graft] class TxnDeltaBatchWrite(root: String,
    writeSchema: StructType, scannedVersion: Long)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  import org.apache.spark.sql.connector.write._

  private val stageDir = new File(root,
    s".rlo_stage_${java.util.UUID.randomUUID()}")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    stageDir.mkdirs()
    TxnDeltaWriterFactory(stageDir.getAbsolutePath, writeSchema.length)
  }

  /** NON-RETRYABLE commit: the delta was computed by Spark's rewrite
    * against the snapshot at `scannedVersion`, so it cannot be
    * rebuilt by re-running a closure — the staged rows are already
    * stale if anything overlapping committed since the scan. The
    * transaction therefore validates from `scannedVersion` (not from
    * commit-entry time) and FAILS with [[graft.engine.TxnLog.Conflict]]
    * on any read-range conflict instead of replaying the stale delta
    * (which would silently overwrite the concurrent commit — the
    * classic lost update, e.g. a MERGE's `t.value + s.cnt` computed
    * pre-race clobbering a concurrent increment). Disjoint
    * concurrent commits still rebase fine. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.collect {
      case m: TxnStagedFile if m.rows > 0 => m
    }
    val spark = SparkSession.active
    try {
      if (staged.nonEmpty) {
        val schema = StructType(writeSchema.fieldNames.map(f =>
          org.apache.spark.sql.types.StructField(f,
            org.apache.spark.sql.types.LongType,
            nullable = f != "key")) :+
          org.apache.spark.sql.types.StructField("op",
            org.apache.spark.sql.types.StringType, nullable = false))
        val ranges = staged.map(m => (m.kmin, m.kmax))
        graft.engine.TxnLog.commit(spark, root, { _ =>
          (spark.read.schema(schema).csv(staged.map(_.path): _*), ranges)
        },
          baseline = if (scannedVersion >= 0) Some(scannedVersion) else None,
          rerunOnConflict = false)
        ()
      }
    } finally {
      Option(stageDir.listFiles()).getOrElse(Array.empty)
        .foreach(_.delete())
      stageDir.delete()
      ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    Option(stageDir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    stageDir.delete()
    ()
  }
}

private[graft] case class TxnDeltaWriterFactory(stageDir: String,
    nCols: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  import org.apache.spark.sql.connector.write.{DeltaWriter,
    WriterCommitMessage}
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val file = new File(stageDir, s"rlo_${partitionId}_$taskId.csv")
      private val out = new java.io.PrintWriter(
        new java.io.BufferedWriter(new java.io.FileWriter(file)))
      private var kmin = Long.MaxValue
      private var kmax = Long.MinValue
      private var n = 0L

      private def track(k: Long): Unit = {
        kmin = math.min(kmin, k); kmax = math.max(kmax, k); n += 1
      }

      // same NULL discipline as the INSERT writer: null key = loud
      // error, null value = empty field (applyDelta's "absent")
      override def insert(row: InternalRow): Unit = {
        if (row.isNullAt(0))
          throw new IllegalArgumentException(
            "cannot write a NULL primary key into a txn table")
        track(row.getLong(0))
        out.println((0 until nCols).map(i =>
          if (row.isNullAt(i)) "" else row.getLong(i).toString)
          .mkString("", ",", ",upsert"))
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = insert(row)

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        val k = id.getLong(0)
        track(k)
        out.println((k +: Seq.fill(nCols - 1)(0L))
          .mkString("", ",", ",delete"))
      }

      override def commit(): WriterCommitMessage = {
        out.close()
        TxnStagedFile(file.getAbsolutePath, kmin, kmax, n)
      }

      override def abort(): Unit = { out.close(); file.delete(); () }
      override def close(): Unit = out.close()
    }
}

/** The `$history` metadata table: one row per committed version,
  * materialized driver-side from the transaction log (commit metas +
  * published artifacts) and served through a [[LocalScan]] — the
  * same shape Iceberg's metadata tables take, and legitimately
  * driver-resident: the log IS metadata, one row per commit. */
private[graft] class TxnHistoryTable(tableName: String, root: String)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.types._

  private val historySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("read_version", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("wmin", LongType, nullable = true),
    StructField("wmax", LongType, nullable = true)))

  override def name(): String = tableName
  override def schema(): StructType = historySchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = historySchema
        override def rows(): Array[InternalRow] = {
          val latest = graft.engine.TxnLog.latestCommitted(root)
          (0L to latest).map { v =>
            val m = graft.engine.TxnLog.readMeta(root, v)
            val snap = java.nio.file.Paths.get(root, s"snapshot_v$v")
            val op =
              if (java.nio.file.Files.isSymbolicLink(snap)) "metadata"
              else if (m.writtenRanges.isEmpty) "optimize"
              else "write"
            val r = new GenericInternalRow(6)
            r.setLong(0, m.version)
            r.setLong(1, m.readVersion)
            r.update(2, UTF8String.fromString(op))
            r.setInt(3, m.writtenRanges.size)
            if (m.writtenRanges.isEmpty) { r.setNullAt(4); r.setNullAt(5) }
            else {
              r.setLong(4, m.writtenRanges.map(_._1).min)
              r.setLong(5, m.writtenRanges.map(_._2).max)
            }
            r: InternalRow
          }.toArray
        }
      }
    }
}

/** The `$files` metadata table: one row per data file of the LATEST
  * committed snapshot, with stats read from the parquet FOOTERS —
  * row count and the key column's min/max — exactly what a manifest
  * stores, obtained without reading a single data page. Files are
  * numbered in key-min order (physical file names are
  * uuid-nondeterministic and would defeat any oracle). Driver-side
  * and O(files): this IS metadata, the same honesty argument as
  * `$history`. */
private[graft] class TxnFilesTable(tableName: String, root: String)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._

  private val filesSchema = StructType(Seq(
    StructField("file_index", IntegerType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("kmin", LongType, nullable = true),
    StructField("kmax", LongType, nullable = true)))

  override def name(): String = tableName
  override def schema(): StructType = filesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = filesSchema
        override def rows(): Array[InternalRow] =
          graft.engine.FooterStats.latestSnapshot(root).zipWithIndex
            .map { case (f, i) =>
              val key = f.cols.get("key")
              val r = new GenericInternalRow(4)
              r.setInt(0, i)
              r.setLong(1, f.nRows)
              key.flatMap(_.min).fold(r.setNullAt(2))(r.setLong(2, _))
              key.flatMap(_.max).fold(r.setNullAt(3))(r.setLong(3, _))
              r: InternalRow
            }.toArray
      }
    }
}

/** The `$partitions` metadata table — the third of the metadata trio
  * next to `$history` and `$files`: one row per PARTITION of the
  * latest snapshot, where a partition is a maximal run of files whose
  * footer key ranges merge into one disjoint interval
  * ([[graft.engine.FooterStats.partitionRuns]] — the interval-merge a
  * manifest planner runs to answer "which partitions does this range
  * touch"). A clustered table reports one partition per file; a
  * hash-layout table reports ONE partition spanning everything —
  * honestly, "no partition structure". Per partition: file count,
  * row count, key min/max. Driver-side LocalScan over footer stats,
  * O(files) — metadata, same honesty argument as `$files`. */
private[graft] class TxnPartitionsTable(tableName: String, root: String)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._

  private val partSchema = StructType(Seq(
    StructField("partition_index", IntegerType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("kmin", LongType, nullable = true),
    StructField("kmax", LongType, nullable = true)))

  override def name(): String = tableName
  override def schema(): StructType = partSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = partSchema
        override def rows(): Array[InternalRow] = {
          graft.engine.FooterStats.partitionRuns(
            graft.engine.FooterStats.latestSnapshot(root))
            .map { case (i, nf, nr, mn, mx) =>
              val r = new GenericInternalRow(5)
              r.setInt(0, i)
              r.setLong(1, nf)
              r.setLong(2, nr)
              mn.fold(r.setNullAt(3))(r.setLong(3, _))
              mx.fold(r.setNullAt(4))(r.setLong(4, _))
              r: InternalRow
            }.toArray
        }
      }
    }
}

object GraftCatalog {
  val NAME = "graft"

  /** The session conf that names this catalog `graft`. A key sets it
    * on its own [[graft.engine.QuerySession]], so the caller's session
    * never gains the catalog while the returned frame keeps resolving
    * through it. */
  val Conf: (String, String) =
    s"spark.sql.catalog.$NAME" -> classOf[GraftCatalog].getName

  /** The catalog-qualified SQL identifier of the table at `path`
    * (`<dir>/<table>` for `<dir>/<table>.parquet`); a metadata-table
    * suffix (`$files`, `$history`, …) rides on the last segment. */
  def ident(path: String): String =
    (NAME +: new File(path).getAbsolutePath.split("/").filter(_.nonEmpty))
      .map(p => s"`$p`").mkString(".")
}
