package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{QuerySession, Tables}
import graft.sources.GraftCatalog

/** Scans / sources / sinks (SURVEY.md §2.1).
  *
  * Scale notes: all reads are plain parquet scans through the vectorized
  * reader; projection/filter reach the scan node (asserted in
  * PlanShapeSpec). The csv/parquet round-trips write to a per-sf temp dir
  * and read back with an explicit schema — at cluster scale these become
  * distributed writes (no coalesce except in the harness sink).
  */
object ScanOps {

  /** Stable scratch dir per scale-factor dir (round-trips must not
    * collide across sf runs in one process). */
  private def scratch(sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"/tmp/graft_scratch/$tag"
  }

  /** Full scan. lineitem has NO unique key (dup (orderkey, linenumber)
    * pairs exist) — the canonical order must cover every column. */
  def scanParquet(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    li.orderBy(li.columns.map(col): _*)
  }

  val scanParquetSql: String =
    "SELECT * FROM lineitem ORDER BY ALL"

  /** The same pruned-and-filtered aggregate, resolved through the
    * [[graft.sources.GraftCatalog]] SQL identifier instead of a
    * path — the catalog rung of the extension ladder. The catalog
    * returns Spark's standard parquet table, so the scan KEEPS
    * filter pushdown and column pruning (CatalogSpec pins pushed
    * filters + a 3-column read schema and proves the result is
    * byte-identical to the path-based twin below); the oracle is the
    * same relational query. */
  def catalogScan(spark: SparkSession, sfDir: String): DataFrame =
    QuerySession(spark, Seq(GraftCatalog.Conf)) { spark =>
      catalogAgg(spark.table(GraftCatalog.ident(s"$sfDir/lineitem")))
    }

  /** Path-based twin of [[catalogScan]] — the differential partner. */
  def catalogScanPathTwin(spark: SparkSession, sfDir: String): DataFrame =
    catalogAgg(Tables.lineitem(spark, sfDir))

  private def catalogAgg(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    import graft.engine.Exact._
    li.filter($"l_returnflag" === "R")
      .groupBy($"l_linestatus")
      .agg(count(lit(1)).as("n"), xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_linestatus")
  }

  val catalogScanSql: String =
    s"""SELECT l_linestatus, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_returnflag = 'R'
       |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Column-pruned scan — Catalyst pushes the 3-column projection into
    * the parquet reader (ReadSchema shows only these columns). */
  def scanProjection(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity")
  }

  val scanProjectionSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin

  /** Text ingest round-trip: write `part` as csv, read back with an
    * explicit schema (never inference), compare against the parquet
    * original — proves the csv source preserves values. */
  def scanCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = scratch(sfDir) + "/part_csv"
    Tables.part(spark, sfDir).write.mode("overwrite")
      .option("header", "true").csv(path)
    spark.read.schema(Tables.partSchema)
      .option("header", "true").csv(path)
      .orderBy($"p_partkey")
  }

  val scanCsvRoundtripSql: String =
    "SELECT * FROM part ORDER BY p_partkey"

  /** JSON-lines ingest round-trip: write `supplier` as json, read
    * back with an explicit schema. Doubles survive because Spark
    * writes shortest-round-trip decimal reprs and reads them back to
    * the identical double. */
  def scanJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = scratch(sfDir) + "/supplier_json"
    Tables.supplier(spark, sfDir).write.mode("overwrite").json(path)
    spark.read.schema(Tables.supplierSchema).json(path)
      .orderBy($"s_suppkey")
  }

  val scanJsonRoundtripSql: String =
    "SELECT * FROM supplier ORDER BY s_suppkey"

  /** Line-oriented text ingest round-trip (the `mv_*.txt`-style raw
    * path): write `p_name` as text lines, read back via the text
    * source. Values are newline-free strings, so the round-trip is
    * lossless. */
  def scanTextRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = scratch(sfDir) + "/part_text"
    Tables.part(spark, sfDir).select($"p_name".as("value"))
      .write.mode("overwrite").text(path)
    spark.read.text(path).select($"value".as("p_name"))
      .orderBy($"p_name")
  }

  val scanTextRoundtripSql: String =
    "SELECT p_name FROM part ORDER BY p_name"

  /** ORC ingest round-trip: write `nation` as ORC, read back. Proves
    * the second columnar source preserves values; the oracle compares
    * against the parquet original (DuckDB has no ORC reader — equality
    * with the parquet-sourced result IS the round-trip property). */
  def scanOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = scratch(sfDir) + "/nation_orc"
    Tables.nation(spark, sfDir).write.mode("overwrite").orc(path)
    spark.read.schema(Tables.nationSchema).orc(path)
      .orderBy($"n_nationkey")
  }

  val scanOrcRoundtripSql: String =
    "SELECT * FROM nation ORDER BY n_nationkey"

  /** XML ingest round-trip (Spark 4's built-in XML source — the format
    * enterprise feeds still arrive in): write `region` as row-tagged
    * XML, read back with an explicit schema. Oracle compares against
    * the parquet original (DuckDB has no XML reader — equality with
    * the parquet-sourced result IS the round-trip property, as with
    * ORC). */
  def scanXmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = scratch(sfDir) + "/region_xml"
    Tables.region(spark, sfDir).write.mode("overwrite")
      .option("rowTag", "region").xml(path)
    spark.read.schema(Tables.regionSchema)
      .option("rowTag", "region").xml(path)
      .orderBy($"r_regionkey")
  }

  val scanXmlRoundtripSql: String =
    "SELECT * FROM region ORDER BY r_regionkey"

  /** PERMISSIVE dirty-CSV ingest — the "a single malformed row must
    * not kill a 100 TB load" contract. A deterministic dirty file is
    * staged from the fixture (every `o_orderkey % 10 < 3` order as a
    * well-formed line; every `% 10 == 7` as a line whose key field
    * cannot parse as BIGINT), read back under PERMISSIVE mode with an
    * explicit `columnNameOfCorruptRecord` column, and reduced to
    * good/corrupt counts plus the exact revenue over parsed rows —
    * the accept/quarantine split of a production ingest gate.
    *
    * Oracle: the staging rules are pure arithmetic on `orders`, so
    * the expected output is plain SQL over the fixture — no file I/O
    * on the oracle side. Prices ride a DECIMAL(18,2) string image
    * (mirrored in the oracle) because raw double formatting is not
    * engine-portable; parsing the 2-dp image recovers the identical
    * double. A type failure (not a short row) marks corruption — the
    * CSV reader null-fills short rows rather than flagging them. */
  def scanCsvDirty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact.xsum
    val path = scratch(sfDir) + "/orders_dirty_csv"
    val o = Tables.orders(spark, sfDir)
    val good = o.filter($"o_orderkey" % 10 < 3)
      .select(concat_ws(",", $"o_orderkey",
        $"o_totalprice".cast("decimal(18,2)"), $"o_orderstatus").as("value"))
    val bad = o.filter($"o_orderkey" % 10 === 7)
      .select(concat(lit("X"), $"o_orderkey", lit(",garbage,Z")).as("value"))
    good.unionAll(bad).write.mode("overwrite").text(path)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .agg(count(when($"_corrupt".isNull, 1)).as("n_good"),
        count($"_corrupt").as("n_corrupt"),
        xsum(when($"_corrupt".isNull, $"price")).as("sum_price"))
  }

  val scanCsvDirtySql: String =
    s"""SELECT
       |  COUNT(CASE WHEN o_orderkey % 10 < 3 THEN 1 END) AS n_good,
       |  COUNT(CASE WHEN o_orderkey % 10 = 7 THEN 1 END) AS n_corrupt,
       |  ${graft.engine.Exact.sqlXsum(
      "CASE WHEN o_orderkey % 10 < 3 THEN " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) END")}
       |    AS sum_price
       |FROM orders""".stripMargin

  /** Hive-style partition pruning: events re-laid-out partitioned by
    * event_type, then scanned with a partition predicate — the scan
    * reads ONLY the matching directory (PlanSpec asserts the partition
    * filter; at 100 TB this is the layout decision that turns a full
    * sweep into a 1/N-cost read). Values are identical to filtering
    * the flat table, which is exactly what the oracle does. */
  /** The events table re-laid-out Hive-partitioned by event_type in
    * the scratch dir (built once, rebuilt if the source is newer —
    * stale derived data must never outlive its source). Shared by the
    * static-pruning scan and the dynamic-partition-pruning join. */
  def eventsByType(spark: SparkSession, sfDir: String): DataFrame = {
    val path = scratch(sfDir) + "/events_by_type"
    val marker = new java.io.File(path, "_SUCCESS")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val src = new java.io.File(s"$sfDir/events.parquet")
    // Layout fingerprint (the bucketed-join _SPEC discipline): the
    // derived data is only valid for the READ SEMANTICS it was built
    // under. The fixture's ts unit has flipped across driver
    // generations (ns → µs); an mtime check alone cannot catch a
    // regenerated source with a preserved timestamp, and caught-but-
    // rebuilt-by-buggy-reader layouts poison every downstream read.
    val spec = new java.io.File(path, "_GRAFT_SPEC")
    val want =
      s"v2|tsIsNanos=${Tables.eventsTsIsNanos(spark, sfDir)}"
    val specOk = spec.exists() &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!marker.exists() || !specOk ||
        newestUnder(src) > marker.lastModified()) {
      Tables.events(spark, sfDir)
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    spark.read.parquet(path)
  }

  def scanPartitionPruning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    eventsByType(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy(date_trunc("DAY", $"ts").as("day"))
      .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  val scanPartitionPruningSql: String =
    s"""SELECT date_trunc('day', ts) AS day, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("value")} AS sum_value
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY day""".stripMargin

  /** DYNAMIC partition pruning: the fact side is the partitioned
    * layout, the partition key values arrive at runtime from a
    * filtered, broadcast dimension — Catalyst injects a
    * DynamicPruningExpression into the scan's partition filters
    * (asserted in PlanSpec), so only the dimension-selected
    * directories are read. At 100 TB this is the difference between
    * scanning 2/N partitions and scanning the whole fact table when
    * the partition predicate is only known join-time. The dimension
    * here derives from the same source (conversion-relevant types),
    * keeping the oracle purely relational. */
  def scanDpp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    val dim = Tables.events(spark, sfDir)
      .groupBy($"event_type").agg(count(lit(1)).as("type_n"))
      .filter($"event_type".isin("purchase", "signup"))
      .select($"event_type".as("d_type"), $"type_n")
    eventsByType(spark, sfDir)
      .join(dim, $"event_type" === $"d_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), xsum($"value").as("sum_value"),
        max($"type_n").as("type_n"))
      .orderBy($"event_type")
  }

  val scanDppSql: String =
    s"""WITH dim AS (
       |  SELECT event_type AS d_type, COUNT(*) AS type_n
       |  FROM events GROUP BY 1
       |  HAVING event_type IN ('purchase', 'signup'))
       |SELECT e.event_type, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("e.value")} AS sum_value,
       |  MAX(d.type_n) AS type_n
       |FROM events e JOIN dim d ON e.event_type = d.d_type
       |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Parquet sink round-trip: write a filtered slice, read it back.
    * The oracle recomputes the same filter from the source table. */
  def sinkParquet(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = scratch(sfDir) + "/lineitem_sink"
    Tables.lineitem(spark, sfDir)
      .filter($"l_returnflag" === "R")
      .write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    back.orderBy(back.columns.map(col): _*)
  }

  val sinkParquetSql: String =
    """SELECT * FROM lineitem WHERE l_returnflag = 'R'
      |ORDER BY ALL""".stripMargin

  /** Parquet schema evolution: two generations of the same dataset
    * land under one root (`gen=1` with the original columns, `gen=2`
    * with an added `r_clen`), and ONE read with
    * `mergeSchema = true` returns the unioned schema — old files
    * null-fill the new column, the `gen=` directory name comes back
    * as a partition column. This is how a long-lived parquet lake
    * absorbs additive schema change without rewriting history
    * (mergeSchema is off by default because footer-merging every file
    * costs a listing pass — turned on explicitly here, which is the
    * documented production practice for evolving tables). */
  def scanMergeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = scratch(sfDir) + "/nation_evolved"
    Tables.nation(spark, sfDir)
      .select($"n_nationkey", $"n_name")
      .write.mode("overwrite").parquet(s"$root/gen=1")
    Tables.nation(spark, sfDir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.mode("overwrite").parquet(s"$root/gen=2")
    spark.read.option("mergeSchema", "true").parquet(root)
      .select($"n_nationkey", $"n_name", $"n_regionkey",
        $"gen".cast("int").as("gen"))
      .orderBy($"gen", $"n_nationkey")
  }

  val scanMergeSchemaSql: String =
    """SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
      |  CAST(1 AS INTEGER) AS gen
      |FROM nation
      |UNION ALL
      |SELECT n_nationkey, n_name, n_regionkey, CAST(2 AS INTEGER)
      |FROM nation
      |ORDER BY gen, n_nationkey""".stripMargin

  /** Partitioned sink with LAYOUT CONTROL — the write-side twin of
    * [[scanPartitionPruning]]: `orders` lands Hive-partitioned by
    * o_orderstatus, pre-shuffled so each status writes EXACTLY ONE
    * file (`repartition(status)` → every status's rows in one task),
    * and clustered within that file by `sortWithinPartitions
    * (o_orderstatus, o_orderdate, o_orderkey)` so downstream
    * date-range scans hit contiguous row groups (parquet min/max
    * stats prune inside the file). The sort MUST lead with the
    * partition column: FileFormatWriter demands task rows ordered by
    * the partition columns and silently inserts its own (unstable)
    * sort when they are not — which would destroy the date
    * clustering; leading with o_orderstatus satisfies the required
    * ordering so our sort is the one the files inherit. This is the canonical 100 TB table-layout recipe:
    * without the repartition, EVERY upstream task writes a file into
    * EVERY status dir — the small-files explosion (tasks × partitions
    * files); with it, file count = partition count. The query reads
    * the layout back and emits per-status row counts, date range,
    * exact price sum AND the observed file count — `n_files = 1` is
    * asserted against the oracle's literal 1, so the layout property
    * itself is oracle-checked, not just narrated. Within-file
    * sortedness is pinned in Round5Spec (reads one physical file
    * directly and checks monotonicity). */
  def sinkPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    val path = scratch(sfDir) + "/orders_by_status"
    Tables.orders(spark, sfDir)
      .repartition($"o_orderstatus")
      .sortWithinPartitions($"o_orderstatus", $"o_orderdate", $"o_orderkey")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    spark.read.parquet(path)
      .select($"o_orderstatus", $"o_orderdate", $"o_totalprice",
        input_file_name().as("fname"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        countDistinct($"fname").as("n_files"),
        min($"o_orderdate").as("first_date"),
        max($"o_orderdate").as("last_date"),
        xsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val sinkPartitionedSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(1 AS BIGINT) AS n_files,
       |  MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date,
       |  ${graft.engine.Exact.sqlXsum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** `binaryFile` source: whole files as (path, length, content)
    * rows — the ingestion format for multimodal corpora (images,
    * audio) where each FILE is the record and decoding happens
    * downstream ([[MultimodalOps]]). The query reads the fixture's
    * own parquet files as opaque blobs and emits name/size/sha256 —
    * content-addressed bookkeeping, proven byte-identical against
    * DuckDB's read_blob. At 100 TB this source shines at what it's
    * for (many medium files, no splitting — one task per file) and
    * the scale knob is spark.sql.files.maxPartitionBytes-style
    * packing of small files per task, which binaryFile does
    * automatically via FilePartition packing. */
  def scanBinaryFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$sfDir/*.parquet")
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        $"length")
      .orderBy($"file_name")
  }

  /** Oracle: DuckDB's read_blob over the same directory (the
    * `__SFDIR__` token is resolved by Verify to the sweep's fixture
    * dir). DuckDB 1.0 has no BLOB hash function, so the differential
    * check is name+size; CONTENT equality (sha-256 of every payload
    * vs java.nio ground truth) is pinned in Round5Spec instead. */
  val scanBinaryFilesSql: String =
    """SELECT regexp_extract(filename, '[^/]+$') AS file_name,
      |  CAST(size AS BIGINT) AS length
      |FROM read_blob('__SFDIR__/*.parquet')
      |ORDER BY file_name""".stripMargin

  /** Z-order tile width: 16-bit interleaved key >> 10 → 64 tile
    * directories of 32×32 cells each. A production table would keep
    * more key bits per dimension and shift down to O(1000)
    * directories; the mechanics are identical. */
  private val Z_SHIFT = 10

  /** Write-once Z-ORDER clustered lineitem layout: each row's
    * (l_orderkey % 256, l_partkey % 256) cell maps through the codegen'd
    * [[graft.functions.ZOrder]] Morton key to a tile directory
    * `zb = z >> 10`. Same freshness contract as every derived layout
    * (_SUCCESS mtime vs source + _GRAFT_SPEC fingerprint). */
  private[graft] def zorderLayoutDir(spark: SparkSession, sfDir: String): String = {
    val path = scratch(sfDir) + "/lineitem_zorder"
    val marker = new java.io.File(path, "_SUCCESS")
    val spec = new java.io.File(path, "_GRAFT_SPEC")
    // (l_orderkey, l_partkey) cells: both spread across the full
    // 0..255 residue range at EVERY fixture SF (l_suppkey's domain is
    // only 0..9 at sf0.001 — a y coordinate built on it leaves most
    // tiles empty at small scale).
    val want = s"v2|x=l_orderkey%256|y=l_partkey%256|zb=z>>$Z_SHIFT"
    val src = new java.io.File(s"$sfDir/lineitem.parquet")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val fresh = marker.exists() && spec.exists() &&
      newestUnder(src) <= marker.lastModified() &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!fresh) {
      graft.functions.ZOrder.register(spark)
      // repartition BY tile before the partitioned write — one file
      // per directory, not (shuffle partitions × tiles) fragments.
      Tables.lineitem(spark, sfDir)
        .withColumn("zx", org.apache.spark.sql.functions.expr(
          "cast(l_orderkey % 256 as int)"))
        .withColumn("zy", org.apache.spark.sql.functions.expr(
          "cast(l_partkey % 256 as int)"))
        .withColumn("zb", org.apache.spark.sql.functions.expr(
          s"cast((graft_zorder(zx, zy) >> $Z_SHIFT) as int)"))
        .repartition(org.apache.spark.sql.functions.col("zb"))
        .write.mode("overwrite").partitionBy("zb").parquet(path)
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    path
  }

  /** Box bounds for [[scanZorder]] — deliberately NOT tile-aligned, so
    * the pruned tile set (4 of 64) still needs the residual cell
    * predicate inside each tile. */
  private val (zXlo, zXhi, zYlo, zYhi) = (40, 80, 70, 120)

  /** 2-D box aggregation against the Z-order layout: MULTI-column
    * partition pruning from a single clustering key. A directory
    * layout can only partition by one expression; Z-ordering makes
    * that one expression serve range predicates on BOTH dimensions —
    * the tile ids covering the box are enumerated driver-side (pure
    * arithmetic over tile coordinates, metadata-scale: ≤ #tiles, like
    * any partition listing) and land in the scan's PartitionFilters,
    * so only those directories are read (asserted in PlanSpec). Here
    * the box covers 4/64 tiles — a 16× I/O cut; at 100 TB with
    * O(1000) tiles this is the difference between a full scan and
    * touching a few percent of the files, for EITHER-dimension
    * predicates that plain single-column partitioning can't serve.
    * The oracle is layout-free: the same box filter over raw lineitem. */
  def scanZorder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.Exact._
    val tiles = for {
      xh <- (zXlo >> 5) to (zXhi >> 5)
      yh <- (zYlo >> 5) to (zYhi >> 5)
    } yield graft.functions.ZOrder.interleave8(xh, yh).toInt
    spark.read.parquet(zorderLayoutDir(spark, sfDir))
      .filter($"zb".isin(tiles: _*) &&
        $"zx".between(zXlo, zXhi) && $"zy".between(zYlo, zYhi))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val scanZorderSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey % 256 BETWEEN $zXlo AND $zXhi
       |  AND l_partkey % 256 BETWEEN $zYlo AND $zYhi
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** Write-once range-clustered lineitem layout + per-FILE min/max
    * stats sidecar — the Delta/Iceberg data-skipping mechanics
    * (manifest file stats) on plain parquet. `repartitionByRange`
    * clusters rows by `l_shipdate` into 16 files with tight,
    * near-disjoint date ranges; one extra pass collects each file's
    * (min, max) into a one-file sidecar table. Same freshness
    * contract as every derived layout. */
  private[graft] def statsLayoutDir(spark: SparkSession,
      sfDir: String): String = {
    val path = scratch(sfDir) + "/lineitem_statskip"
    val marker = new java.io.File(path, "_SUCCESS")
    val spec = new java.io.File(path, "_GRAFT_SPEC")
    val statsMarker = new java.io.File(path + "_stats", "_SUCCESS")
    val want = "v1|cluster=l_shipdate|files=16|stats=min_max_per_file"
    val src = new java.io.File(s"$sfDir/lineitem.parquet")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val fresh = marker.exists() && spec.exists() && statsMarker.exists() &&
      newestUnder(src) <= marker.lastModified() &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!fresh) {
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"),
          col("l_returnflag"))
        .repartitionByRange(16, col("l_shipdate"))
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("l_shipdate")).as("min_d"),
          max(col("l_shipdate")).as("max_d"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path + "_stats")
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    path
  }

  /** Date-range bounds for [[scanStatsSkipping]] — half a year out of
    * the fixture's ~7-year l_shipdate span, so stats pruning keeps
    * only ~2 of the 16 range-clustered files. */
  private[graft] val (skipLo, skipHi) =
    ("1997-01-01 00:00:00", "1997-06-30 23:59:59")

  /** FILE-STATS DATA SKIPPING: resolve the per-file min/max sidecar
    * against the query's date predicate and hand the scan ONLY the
    * files whose [min,max] intersects it — the other ~87% are never
    * opened. This is exactly what a lakehouse manifest does at
    * 100 TB: the stats table is metadata-scale (one row per file —
    * thousands of rows for millions of gigabytes), so the driver-side
    * resolve is a manifest lookup, not a data scan, and the residual
    * in-file predicate still runs (file ranges overlap at the
    * boundaries). The oracle is layout-free: the same date filter
    * over raw lineitem. StatsSkippingSpec pins the file-count cut. */
  def scanStatsSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = statsLayoutDir(spark, sfDir)
    val lo = to_timestamp(lit(skipLo))
    val hi = to_timestamp(lit(skipHi))
    val files = spark.read.parquet(dir + "_stats")
      .filter($"max_d" >= lo && $"min_d" <= hi)
      .select($"file").collect().map(_.getString(0))
    require(files.nonEmpty, "stats pruning removed every file")
    spark.read.parquet(files.toSeq: _*)
      .filter($"l_shipdate".between(lo, hi))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val scanStatsSkippingSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_shipdate BETWEEN TIMESTAMP '$skipLo'
       |  AND TIMESTAMP '$skipHi'
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** Write-once MORTON-CLUSTERED flat-file layout + TWO-column
    * per-file min/max sidecar: rows ordered by the codegen'd
    * [[graft.functions.ZOrder]] key of (l_orderkey%256, l_partkey%256)
    * and range-split into 16 files, so each file's (x, y) bounding
    * box is tight in BOTH dimensions — the property that makes
    * multi-column stats skipping work from ONE clustering order
    * (Delta/Iceberg `OPTIMIZE ZORDER BY` + manifest column stats).
    * Same freshness contract as every derived layout. */
  private[graft] def stats2dLayoutDir(spark: SparkSession,
      sfDir: String): String = {
    val path = scratch(sfDir) + "/lineitem_statskip2d"
    val marker = new java.io.File(path, "_SUCCESS")
    val spec = new java.io.File(path, "_GRAFT_SPEC")
    val statsMarker = new java.io.File(path + "_stats", "_SUCCESS")
    val want = "v1|cluster=zorder(l_orderkey%256,l_partkey%256)|files=16|stats=2d_min_max"
    val src = new java.io.File(s"$sfDir/lineitem.parquet")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val fresh = marker.exists() && spec.exists() && statsMarker.exists() &&
      newestUnder(src) <= marker.lastModified() &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!fresh) {
      graft.functions.ZOrder.register(spark)
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_returnflag"))
        .withColumn("zx", expr("cast(l_orderkey % 256 as int)"))
        .withColumn("zy", expr("cast(l_partkey % 256 as int)"))
        .withColumn("z", expr("graft_zorder(zx, zy)"))
        .repartitionByRange(16, col("z"))
        .drop("z")
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("zx")).as("min_x"), max(col("zx")).as("max_x"),
          min(col("zy")).as("min_y"), max(col("zy")).as("max_y"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path + "_stats")
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    path
  }

  /** 2-D box bounds for [[scanStatsSkipping2d]] — same box as the
    * Z-order directory key, so the two pruning mechanisms (partition
    * directories vs per-file stats) are directly comparable. */
  private[graft] val (s2Xlo, s2Xhi, s2Ylo, s2Yhi) = (40, 80, 70, 120)

  /** MULTI-COLUMN file-stats data skipping: the round-7 sidecar
    * generalized from a 1-D date range to a CONJUNCTIVE 2-D box —
    * per-file (min, max) on TWO columns over Morton-clustered files,
    * the read resolving both predicates against the metadata-scale
    * sidecar and opening only files whose bounding box intersects
    * the query box (the residual in-file predicate still runs; file
    * boxes overlap at curve boundaries). One clustering order serves
    * range predicates on EITHER OR BOTH dimensions — at 100 TB this
    * is how a lakehouse manifest answers `x BETWEEN … AND y BETWEEN
    * …` by touching a few percent of files, without the directory
    * explosion of nested partitioning. Round10Spec pins the file cut
    * AND that pruned-out files hold zero qualifying rows; the oracle
    * is layout-free. */
  def scanStatsSkipping2d(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stats2dLayoutDir(spark, sfDir)
    val files = spark.read.parquet(dir + "_stats")
      .filter($"max_x" >= s2Xlo && $"min_x" <= s2Xhi &&
        $"max_y" >= s2Ylo && $"min_y" <= s2Yhi)
      .select($"file").collect().map(_.getString(0))
    require(files.nonEmpty, "2-D stats pruning removed every file")
    spark.read.parquet(files.toSeq: _*)
      .filter($"zx".between(s2Xlo, s2Xhi) && $"zy".between(s2Ylo, s2Yhi))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val scanStatsSkipping2dSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey % 256 BETWEEN $s2Xlo AND $s2Xhi
       |  AND l_partkey % 256 BETWEEN $s2Ylo AND $s2Yhi
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** Buckets in the deletion-vector base layout (one file per
    * bucket; the bucket id is the file's stable identity). */
  private[graft] val DV_BUCKETS = 8

  /** Write-once MERGE-ON-READ base layout: lineitem hash-bucketed
    * into [[DV_BUCKETS]] files with an EXPLICIT per-bucket row
    * position stamped at write time — the (bucket, pos) pair is the
    * row's stable physical address (Iceberg's `(_file, _pos)`),
    * immune to read-order nondeterminism because it is stored, not
    * derived. Delete "waves" never touch these files. */
  private[graft] def dvLayoutDir(spark: SparkSession, sfDir: String): String = {
    val path = scratch(sfDir) + "/lineitem_dv_base"
    val marker = new java.io.File(path, "_SUCCESS")
    val spec = new java.io.File(path, "_GRAFT_SPEC")
    val want = s"v1|buckets=$DV_BUCKETS|pos=row_number_at_write"
    val src = new java.io.File(s"$sfDir/lineitem.parquet")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val fresh = marker.exists() && spec.exists() &&
      newestUnder(src) <= marker.lastModified() &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!fresh) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"))
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"), col("l_shipdate"))
        .withColumn("bucket",
          pmod(hash(col("l_orderkey")), lit(DV_BUCKETS)).cast("int"))
        .withColumn("pos", (row_number().over(w) - 1).cast("long"))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    path
  }

  /** DELETION VECTORS (merge-on-read deletes — Delta DVs / Iceberg
    * positional delete files): two delete waves are committed as
    * per-bucket POSITION BITMAPS (64-bit words via shifted-bit
    * `bit_or`, one row per touched (bucket, word) — the roaring-
    * bitmap idea in its exact dense form) against the immutable base
    * layout; the read ORs the waves' bitmaps, joins them to the base
    * on the row's stored (bucket, pos>>6) address, and drops rows
    * whose bit is set. Deleting costs O(deleted positions) sidecar
    * bytes instead of rewriting data files — at 100 TB a 1%-delete
    * wave writes megabytes, not a terabyte of copy-on-write — and
    * the read-side tax is a broadcast-sized bitmap probe until
    * OPTIMIZE materializes (Round10Spec pins merge-on-read ≡
    * copy-on-write rewrite AND the sidecar-vs-rewrite byte ratio).
    * The two waves here delete by predicate (returnflag 'R' rows,
    * then quantity > 45) — the oracle is the layout-free double
    * NOT-filter. */
  def scanDeletionVectors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(dvLayoutDir(spark, sfDir))
    val bitOfPos = expr("shiftleft(1L, cast(pmod(pos, 64) as int))")
    def dvOf(pred: org.apache.spark.sql.Column): DataFrame = base
      .filter(pred)
      .groupBy($"bucket", shiftright($"pos", 6).as("word"))
      .agg(bit_or(bitOfPos).as("bits"))
    // wave 1: purge returned lines; wave 2: purge bulk quantities
    // explicit renames break the base→dv self-join lineage so the
    // join condition can never degenerate to a trivially-true
    // same-attribute compare
    val dv = dvOf($"l_returnflag" === "R")
      .unionByName(dvOf($"l_quantity" > 45.0))
      .groupBy($"bucket", $"word").agg(bit_or($"bits").as("bits"))
      .select($"bucket".as("dv_bucket"), $"word".as("dv_word"), $"bits")
    val live = base
      .join(broadcast(dv),
        $"bucket" === $"dv_bucket" &&
          shiftright($"pos", 6) === $"dv_word", "left")
      .filter($"bits".isNull || ($"bits".bitwiseAND(bitOfPos)) === 0L)
    live.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val scanDeletionVectorsSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE NOT (l_returnflag = 'R') AND NOT (l_quantity > 45.0)
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** HIDDEN FILE-METADATA COLUMNS (`_metadata.file_name` /
    * `_metadata.row_index`): every row of the 16-file range-clustered
    * layout reports which physical file it came from and its ordinal
    * within that file — the addressing scheme behind row-level
    * lineage, positional deletes, and manifest debugging. The query
    * profiles the layout per file: row count, the file's l_shipdate
    * span (tight, because the layout is range-clustered on that key),
    * and the row_index span (0 … n-1 — pinning that the ordinal is
    * per-file and dense). Cross-engine by construction: the oracle
    * reads the SAME physical files with DuckDB's `filename` /
    * `file_row_number` read options (`__SCRATCH__` resolves to this
    * sweep's layout dir), so both engines must agree on the file
    * boundaries themselves, not just row values. Metadata columns are
    * generated by the reader — zero bytes of storage; at 100 TB the
    * file profile is a metadata-scale aggregate (one group per file). */
  def scanFileMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = statsLayoutDir(spark, sfDir)
    spark.read.parquet(dir)
      .select(col("l_shipdate"),
        col("_metadata.file_name").as("file_name"),
        col("_metadata.row_index").as("row_index"))
      .groupBy($"file_name")
      .agg(count(lit(1)).as("n"),
        min($"l_shipdate").as("min_d"), max($"l_shipdate").as("max_d"),
        min($"row_index").as("min_ri"), max($"row_index").as("max_ri"))
      .orderBy($"min_d", $"file_name")
  }

  /** Two-generation layout for PARTITION-SPEC EVOLUTION: generation 1
    * (orderkey < 750) is partitioned by ship month alone; generation
    * 2 (the "later ingest") by (l_returnflag, ship_month) — the
    * evolved, finer spec. Old files are never rewritten when the
    * spec changes (the Iceberg rule); each generation prunes under
    * ITS OWN spec. Same freshness contract as every derived layout. */
  private[graft] def partitionEvolutionDirs(spark: SparkSession,
      sfDir: String): (String, String) = {
    val g1 = scratch(sfDir) + "/lineitem_pspec1"
    val g2 = scratch(sfDir) + "/lineitem_pspec2"
    val m1 = new java.io.File(g1, "_SUCCESS")
    val m2 = new java.io.File(g2, "_SUCCESS")
    val spec = new java.io.File(g1, "_GRAFT_SPEC")
    val want = "v2|gen1=month(l_shipdate)|gen2=(l_returnflag,month)|split=750"
    val src = new java.io.File(s"$sfDir/lineitem.parquet")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val fresh = m1.exists() && m2.exists() && spec.exists() &&
      newestUnder(src) <= math.min(m1.lastModified(), m2.lastModified()) &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!fresh) {
      val base = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_shipdate"))
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      base.filter(col("l_orderkey") < 750L)
        .write.mode("overwrite").partitionBy("ship_month").parquet(g1)
      base.filter(col("l_orderkey") >= 750L)
        .write.mode("overwrite")
        .partitionBy("l_returnflag", "ship_month").parquet(g2)
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    (g1, g2)
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's headline metadata feature):
    * the table's partitioning changed between ingest generations —
    * month-only for the old files, (returnflag, month) for the new —
    * and, exactly like Iceberg, the old files are NOT rewritten: the
    * read plans each generation under the spec it was written with.
    * The month predicate prunes DIRECTORIES in both generations; the
    * returnflag predicate prunes directories in generation 2 and
    * falls back to a pushed data filter in generation 1. The oracle
    * is layout-free (same filter over raw lineitem), so the result
    * proves spec evolution changes the COST, never the answer. At
    * 100 TB this is what makes re-partitioning a table an O(1)
    * metadata operation instead of a full rewrite. PlanSpec-style
    * assertions live in Round11Spec (partition filters on both
    * scans; returnflag a partition filter only in gen 2). */
  def scanPartitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (g1, g2) = partitionEvolutionDirs(spark, sfDir)
    val cols = Seq("ship_month", "l_quantity")
    def gen(dir: String): DataFrame = spark.read.parquet(dir)
      .filter($"ship_month" >= "1997-01" && $"ship_month" <= "1997-06" &&
        $"l_returnflag" === "R")
      .select(cols.map(col): _*)
    gen(g1).unionByName(gen(g2))
      .groupBy($"ship_month")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"ship_month")
  }

  val scanPartitionEvolutionSql: String =
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       |  COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_returnflag = 'R'
       |  AND strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-06'
       |GROUP BY 1 ORDER BY ship_month""".stripMargin

  /** Bloom-index geometry: 32768 bits (4 KB) per file, 4 hash probes
    * — sized so even a file holding every sf0.1 order keeps its load
    * factor well under the 50% that would blunt pruning. */
  private val BLOOM_BITS = 1 << 15
  private val BLOOM_K = 4

  /** PER-FILE BLOOM INDEX sidecar over the 16-file range layout: for
    * every (file, key, seed) the key's bit is OR-ed into the file's
    * 512-word bit array (the same distributed `bit_or` trick the
    * deletion vectors use — the whole build is one aggregation, no
    * driver loop). Sidecar size is BLOOM_BITS/8 bytes per file —
    * metadata-scale forever (4 KB per file at ANY row count), which
    * is what distinguishes a Bloom index from an exact inverted
    * index at 100 TB. Same freshness contract as the other layouts. */
  private[graft] def bloomIndexDir(spark: SparkSession, sfDir: String)
      : String = {
    val layout = statsLayoutDir(spark, sfDir)
    val path = layout + "_bloom"
    val marker = new java.io.File(path, "_SUCCESS")
    val spec = new java.io.File(path, "_GRAFT_SPEC")
    val want = s"v1|bits=$BLOOM_BITS|k=$BLOOM_K|key=l_orderkey"
    val layoutMarker = new java.io.File(layout, "_SUCCESS")
    val fresh = marker.exists() && spec.exists() &&
      layoutMarker.lastModified() <= marker.lastModified() &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!fresh) {
      import spark.implicits._
      val keys = spark.read.parquet(layout)
        .select(input_file_name().as("file"), $"l_orderkey")
      val bits = (0 until BLOOM_K).map { s =>
        val pos = pmod(xxhash64($"l_orderkey", lit(s)), lit(BLOOM_BITS.toLong))
        keys.select($"file", shiftright(pos, 6).as("word"), pos.as("pos"))
          .select($"file", $"word",
            expr("shiftleft(1L, cast(pmod(pos, 64) as int))").as("mask"))
      }.reduce(_ unionByName _)
      bits.groupBy($"file", $"word").agg(bit_or($"mask").as("bits"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    path
  }

  /** Point-lookup keys for [[scanBloomIndex]] — inside the orderkey
    * domain at every fixture SF. */
  private[graft] val bloomProbeKeys = Seq(11L, 444L, 1201L)

  /** BLOOM-INDEXED POINT LOOKUP: the probe keys' bit coordinates are
    * resolved against the per-file Bloom sidecar (a metadata-scale
    * join: 3 probes × 4 seeds against ≤ files × 512 words), a file
    * survives only if ALL K of a probe's bits are set, and the scan
    * opens ONLY the surviving files — with the exact residual filter
    * keeping Bloom's false positives out of the answer (no false
    * negatives by construction, so the layout-free oracle is valid).
    * This is the secondary-index story for a column the layout is
    * NOT clustered on: min/max stats are useless for scattered point
    * keys, but 4 KB of bloom per file still prunes most of the scan.
    * Round11Spec pins the pruning and the no-false-negative law. */
  /** Files the Bloom sidecar admits for `keys` — a file survives a
    * probe iff every one of its K bits is set. Metadata-scale: the
    * probe frame is |keys| × K rows against files × 512 words. */
  private[graft] def bloomCandidates(spark: SparkSession, sfDir: String,
      keys: Seq[Long]): Seq[String] = {
    import spark.implicits._
    val idx = spark.read.parquet(bloomIndexDir(spark, sfDir))
    val probes = keys.toDF("k")
    val probeBits = (0 until BLOOM_K).map { s =>
      val pos = pmod(xxhash64($"k", lit(s)), lit(BLOOM_BITS.toLong))
      probes.select($"k", shiftright(pos, 6).as("word"), pos.as("pos"))
        .select($"k", $"word",
          expr("shiftleft(1L, cast(pmod(pos, 64) as int))").as("mask"))
    }.reduce(_ unionByName _)
    probeBits.join(idx, "word")
      .filter(($"bits".bitwiseAND($"mask")) === $"mask")
      .groupBy($"file", $"k").agg(count(lit(1)).as("hits"))
      .filter($"hits" === BLOOM_K)
      .select($"file").distinct().as[String].collect().sorted.toIndexedSeq
  }

  def scanBloomIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val files = bloomCandidates(spark, sfDir, bloomProbeKeys)
    require(files.nonEmpty, "bloom index pruned every file")
    spark.read.parquet(files.toIndexedSeq: _*)
      .filter($"l_orderkey".isin(bloomProbeKeys: _*))
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.xsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_orderkey")
  }

  val scanBloomIndexSql: String =
    s"""SELECT l_orderkey, COUNT(*) AS n,
       |  ${graft.engine.Exact.sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey IN (${bloomProbeKeys.mkString(", ")})
       |GROUP BY 1 ORDER BY l_orderkey""".stripMargin

  val scanFileMetadataSql: String =
    """SELECT regexp_extract(filename, '[^/]+$') AS file_name,
      |  COUNT(*) AS n,
      |  MIN(l_shipdate) AS min_d, MAX(l_shipdate) AS max_d,
      |  MIN(file_row_number) AS min_ri, MAX(file_row_number) AS max_ri
      |FROM read_parquet('__SCRATCH__/lineitem_statskip/*.parquet',
      |  filename=true, file_row_number=true)
      |GROUP BY 1 ORDER BY min_d, file_name""".stripMargin

  /** Write-once p_name-clustered layout + TRUNCATED-STRING per-file
    * stats sidecar: 8 range-clustered files, each with an 8-char
    * prefix MIN (a lower bound by prefix order) and, for the MAX, the
    * 8-char prefix with its last character incremented — a STRICT
    * upper bound on every string in the file. This is the Parquet/
    * Iceberg string-stats subtlety: raw string min/max on long
    * values bloats the manifest, so real formats store truncated
    * bounds, and truncation is only CORRECT if the max is rounded UP
    * (a truncated max taken verbatim would under-bound and skip files
    * that hold matches). Same freshness contract as every layout. */
  private[graft] def stringStatsLayoutDir(spark: SparkSession,
      sfDir: String): String = {
    val path = scratch(sfDir) + "/part_statskip_str"
    val marker = new java.io.File(path, "_SUCCESS")
    val spec = new java.io.File(path, "_GRAFT_SPEC")
    val statsMarker = new java.io.File(path + "_stats", "_SUCCESS")
    val want = "v1|cluster=p_name|files=8|stats=trunc8_min_maxub"
    val src = new java.io.File(s"$sfDir/part.parquet")
    def newestUnder(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(newestUnder)).max
      else f.lastModified()
    val fresh = marker.exists() && spec.exists() && statsMarker.exists() &&
      newestUnder(src) <= marker.lastModified() &&
      java.nio.file.Files.readString(spec.toPath) == want
    if (!fresh) {
      Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .repartitionByRange(8, col("p_name"))
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("p_name")).as("mn"), max(col("p_name")).as("mx"))
        .select(col("file"),
          substring(col("mn"), 1, 8).as("min_t"),
          when(length(col("mx")) <= 8, col("mx"))
            .otherwise(concat(substring(col("mx"), 1, 7),
              expr("char(ascii(substring(mx, 8, 1)) + 1)")))
            .as("max_ub"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path + "_stats")
      java.nio.file.Files.writeString(spec.toPath, want)
    }
    path
  }

  /** Name-range bounds for [[scanStatsSkippingString]] — first
    * letters h..n out of the fixture's {b,c,h,l,n,o,r,s} palette, so
    * pruning keeps roughly half of the 8 name-clustered files. */
  private[graft] val (strSkipLo, strSkipHi) = ("h", "o")

  /** TRUNCATED-STRING STATS SKIPPING: resolve the 8-char-prefix
    * sidecar against a name-range predicate and open only the files
    * whose [prefix-min, incremented-prefix-max) window intersects it.
    * Keep iff `max_ub >= lo AND min_t < hi`: both bounds are
    * CONSERVATIVE by construction (min_t ≤ every name via prefix
    * order; max_ub > every name via the increment), so pruning can
    * never drop a match — Round12Spec additionally proves the pruned
    * files contain zero qualifying rows by reading them. At 100 TB
    * this is why manifests can afford per-file stats on wide string
    * columns at all: 16 bytes per file per column, regardless of
    * value length. The oracle is layout-free over raw part. */
  def scanStatsSkippingString(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stringStatsLayoutDir(spark, sfDir)
    val files = spark.read.parquet(dir + "_stats")
      .filter($"max_ub" >= strSkipLo && $"min_t" < strSkipHi)
      .select($"file").collect().map(_.getString(0))
    require(files.nonEmpty, "string stats pruning removed every file")
    spark.read.parquet(files.toIndexedSeq: _*)
      .filter($"p_name" >= strSkipLo && $"p_name" < strSkipHi)
      .groupBy(substring($"p_name", 1, 1).as("initial"))
      .agg(count(lit(1)).as("n"),
        min($"p_partkey").as("min_pk"), max($"p_partkey").as("max_pk"),
        graft.engine.Exact.xsum($"p_retailprice").as("sum_price"))
      .orderBy($"initial")
  }

  val scanStatsSkippingStringSql: String =
    s"""SELECT substring(p_name, 1, 1) AS initial, COUNT(*) AS n,
       |  MIN(p_partkey) AS min_pk, MAX(p_partkey) AS max_pk,
       |  ${graft.engine.Exact.sqlXsum("p_retailprice")} AS sum_price
       |FROM part
       |WHERE p_name >= '$strSkipLo' AND p_name < '$strSkipHi'
       |GROUP BY 1 ORDER BY initial""".stripMargin
}
