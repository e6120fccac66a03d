package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection,
  SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression,
  NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey,
  InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsPushDownTopN,
  SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning,
  Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.OptionalLong

/** A complete DataSourceV2 batch source — the extension point a real
  * deployment uses to integrate an internal storage/generator system
  * with Spark, written here against a deterministic synthetic table so
  * the result is DuckDB-oracle-able:
  *
  *   id     BIGINT  = 0 … rows-1
  *   bucket INT     = id % buckets
  *   value  DOUBLE  = ((id * 2654435761) % 1000003) / 1000003.0
  *
  * (Knuth multiplicative hash modulo a prime: pure 64-bit integer
  * arithmetic followed by one exact double division, so Spark and the
  * oracle compute bit-identical values.)
  *
  * What it demonstrates — and what the paired spec PINS:
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): the
  *    reader materializes only `readSchema()` fields; a 2-column
  *    aggregate never generates the third column.
  *  - **Filter pushdown** ([[SupportsPushDownFilters]]): equality/IN
  *    on `bucket` and range predicates on `id` are consumed by the
  *    source (they become partition pruning + generation bounds);
  *    anything else stays a post-scan filter. Pushed filters are
  *    FULLY applied, so Spark plans no residual FilterExec for them.
  *  - **Partition pruning**: one [[InputPartition]] per bucket; a
  *    pushed bucket predicate drops whole partitions at planning
  *    time — the DSv2 analog of reading only matching directories.
  *  - **Statistics** ([[SupportsReportStatistics]]): post-pushdown
  *    row/byte estimates, so Catalyst can pick a broadcast join when
  *    the pruned remainder is small.
  *
  * At 100 TB the same four hooks are exactly what keeps a custom
  * source efficient: predicates reach the storage layer, partitions
  * map to storage splits, and the optimizer sees honest sizes.
  * Registered as `graft-synth` via DataSourceRegister (META-INF
  * services), options `rows` and `buckets`.
  */
class SynthSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-synth"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SynthSource.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = properties.asScala
    new SynthTable(
      rows = opts.getOrElse("rows", "60000").toLong,
      buckets = opts.getOrElse("buckets", "32").toInt)
  }
}

object SynthSource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** The one row-defining function; mirrored verbatim in the oracle. */
  def valueOf(id: Long): Double = ((id * 2654435761L) % 1000003L) / 1000003.0
}

private[graft] class SynthTable(rows: Long, buckets: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft_synth(rows=$rows, buckets=$buckets)"
  override def schema(): StructType = SynthSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SynthScanBuilder(rows, buckets)
}

private[graft] class SynthScanBuilder(rows: Long, buckets: Int)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownTopN with SupportsPushDownAggregates {

  private var requiredSchema: StructType = SynthSource.SCHEMA
  private var pushed: Array[Filter] = Array.empty
  private var topN: Int = -1
  private var agg: Option[(Boolean, Seq[String])] = None

  private def fieldOf(e: V2Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames().length == 1 =>
      Some(f.fieldNames()(0))
    case _ => None
  }

  /** COUNT(*) / COUNT(id) (id is non-null, so they coincide) and
    * MIN/MAX/SUM(id), optionally grouped by `bucket` — everything a
    * residue-class generator can answer in CLOSED FORM (arithmetic
    * series over [lo, hi)). Anything else declines and Spark keeps
    * its own aggregate over the plain scan. */
  private def translate(a: Aggregation): Option[(Boolean, Seq[String])] = {
    val grouped = a.groupByExpressions() match {
      case Array() => false
      case Array(g) if fieldOf(g).contains("bucket") => true
      case _ => return None
    }
    val kinds = a.aggregateExpressions().toSeq.map {
      case _: CountStar => "cnt"
      case c: Count if !c.isDistinct && fieldOf(c.column).contains("id") =>
        "cnt"
      case m: Min if fieldOf(m.column).contains("id") => "min"
      case m: Max if fieldOf(m.column).contains("id") => "max"
      case s: Sum if !s.isDistinct && fieldOf(s.column).contains("id") =>
        "sum"
      case _ => return None
    }
    Some((grouped, kinds))
  }

  /** Complete pushdown: the source returns FINAL aggregate rows, so
    * Spark plans no partial/final HashAggregate at all (the spec
    * pins the aggregate-free plan). */
  override def supportCompletePushDown(a: Aggregation): Boolean =
    translate(a).isDefined

  override def pushAggregation(a: Aggregation): Boolean =
    translate(a) match {
      case some @ Some(_) => agg = some; true
      case None => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  /** TopN pushdown (`ORDER BY id ASC LIMIT n`): the generator emits
    * ids ascending, so the scan can produce the global top-n itself —
    * one partition walks the kept residue classes in id order and
    * stops after n rows. FULLY pushed (`isPartiallyPushed = false`),
    * so Spark plans no Sort/Limit on top at all — the DSv2 contract
    * that lets an index-backed source serve ORDER-BY-key LIMIT
    * queries without materializing the table. Only the natural id
    * ascending order is accepted; anything else stays in Spark. */
  override def pushTopN(orders: Array[V2SortOrder], limit: Int): Boolean = {
    val ok = orders.length == 1 && {
      val o = orders(0)
      o.expression().references().map(_.describe()).sameElements(
        Array("id")) &&
        o.direction() == SortDirection.ASCENDING &&
        o.nullOrdering() == NullOrdering.NULLS_FIRST // id is non-null
    }
    if (ok) topN = limit
    ok
  }

  override def isPartiallyPushed(): Boolean = false

  /** Consume what the generator can evaluate exactly; return the rest
    * for Spark to apply post-scan. IsNotNull is vacuous (all columns
    * are non-null), bucket equality/IN prunes partitions, id bounds
    * narrow the generation range. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) = filters.partition {
      case IsNotNull("id" | "bucket" | "value") => true
      case EqualTo("bucket", _: Int) => true
      case In("bucket", vs) => vs.forall(_.isInstanceOf[Int])
      case EqualTo("id", _: Long) => true
      case GreaterThan("id", _: Long) => true
      case GreaterThanOrEqual("id", _: Long) => true
      case LessThan("id", _: Long) => true
      case LessThanOrEqual("id", _: Long) => true
      case _ => false
    }
    pushed = supported
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = agg match {
    case Some((grouped, kinds)) =>
      new SynthAggScan(rows, buckets, pushed, grouped, kinds)
    case None =>
      new SynthScan(rows, buckets, requiredSchema, pushed, topN)
  }
}

/** Aggregate-pushdown scan: the generator's residue-class arithmetic
  * answers COUNT/MIN/MAX/SUM(id) per bucket WITHOUT generating a
  * single row — count = class size in [lo, hi), min = first member,
  * max = last, sum = arithmetic series. One input partition per kept
  * bucket (grouped) or one total (global), each emitting ONE row.
  * This is the DSv2 contract that lets a storage layer with metadata
  * (footer stats, index counters) serve whole aggregate queries at
  * metadata cost — the 100 TB difference between reading every file
  * and reading the manifest. */
private[graft] class SynthAggScan(rows: Long, buckets: Int,
    pushed: Array[Filter], grouped: Boolean, kinds: Seq[String])
    extends Scan with Batch {

  private val (lo, hi): (Long, Long) = {
    var l = 0L
    var h = rows
    pushed.foreach {
      case EqualTo("id", v: Long) => l = math.max(l, v); h = math.min(h, v + 1)
      case GreaterThan("id", v: Long) => l = math.max(l, v + 1)
      case GreaterThanOrEqual("id", v: Long) => l = math.max(l, v)
      case LessThan("id", v: Long) => h = math.min(h, v)
      case LessThanOrEqual("id", v: Long) => h = math.min(h, v + 1)
      case _ => ()
    }
    (l, math.max(l, h))
  }

  private val keptBuckets: Seq[Int] = {
    val all = 0 until buckets
    pushed.foldLeft(all: Seq[Int]) {
      case (acc, EqualTo("bucket", v: Int)) => acc.filter(_ == v)
      case (acc, In("bucket", vs)) =>
        val set = vs.collect { case i: Int => i }.toSet
        acc.filter(set)
      case (acc, _) => acc
    }
  }

  /** Complete-pushdown output schema: group columns first, then one
    * field per aggregate, positionally matched by Spark. */
  override def readSchema(): StructType = StructType(
    (if (grouped) Seq(StructField("bucket", IntegerType, nullable = false))
     else Nil) ++
      kinds.zipWithIndex.map { case (k, i) =>
        StructField(s"agg_$i$k", LongType, nullable = k != "cnt")
      })

  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSynthAgg(grouped=$grouped, kinds=${kinds.mkString(",")}, " +
      s"range=[$lo,$hi), partitions=${if (grouped) keptBuckets.length else 1})"

  override def planInputPartitions(): Array[InputPartition] =
    if (grouped)
      keptBuckets.map(b => SynthAggPartition(Seq(b), buckets, lo, hi,
        grouped = true, kinds)).toArray[InputPartition]
    else
      Array(SynthAggPartition(keptBuckets, buckets, lo, hi,
        grouped = false, kinds))

  override def createReaderFactory(): PartitionReaderFactory =
    SynthAggReaderFactory
}

private[graft] case class SynthAggPartition(kept: Seq[Int], buckets: Int,
    lo: Long, hi: Long, grouped: Boolean, kinds: Seq[String])
    extends InputPartition

private[graft] object SynthAggReaderFactory extends PartitionReaderFactory {
  /** (count, min, max, sum) of bucket `b`'s residue class ∩ [lo, hi)
    * — pure arithmetic, no enumeration. */
  private def classStats(b: Int, buckets: Int, lo: Long, hi: Long)
      : (Long, Long, Long, Long) = {
    val first = lo + ((b - lo % buckets + buckets) % buckets)
    if (first >= hi) (0L, 0L, 0L, 0L)
    else {
      val n = (hi - 1 - first) / buckets + 1
      val last = first + (n - 1) * buckets
      (n, first, last, n * first + buckets * n * (n - 1) / 2)
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SynthAggPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (done) return false
        done = true
        val stats = p.kept.map(classStats(_, p.buckets, p.lo, p.hi))
        val n = stats.map(_._1).sum
        if (p.grouped && n == 0L) return false // empty group: no row
        val alive = stats.filter(_._1 > 0L)
        def nl(v: => Long): Any = if (n == 0L) null else Long.box(v)
        val aggVals: Seq[Any] = p.kinds.map {
          case "cnt" => Long.box(n)
          case "min" => nl(alive.map(_._2).min)
          case "max" => nl(alive.map(_._3).max)
          case "sum" => nl(alive.map(_._4).sum)
        }
        val vals: Seq[Any] =
          (if (p.grouped) Seq(Int.box(p.kept.head)) else Nil) ++ aggVals
        current = new GenericInternalRow(vals.toArray)
        true
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

private[graft] class SynthScan(rows: Long, buckets: Int,
    requiredSchema: StructType, pushed: Array[Filter],
    private[graft] val topN: Int = -1)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning {

  /** Generation range [lo, hi) after pushed id predicates. */
  private val (lo, hi): (Long, Long) = {
    var l = 0L
    var h = rows
    pushed.foreach {
      case EqualTo("id", v: Long) => l = math.max(l, v); h = math.min(h, v + 1)
      case GreaterThan("id", v: Long) => l = math.max(l, v + 1)
      case GreaterThanOrEqual("id", v: Long) => l = math.max(l, v)
      case LessThan("id", v: Long) => h = math.min(h, v)
      case LessThanOrEqual("id", v: Long) => h = math.min(h, v + 1)
      case _ => ()
    }
    (l, math.max(l, h))
  }

  /** Buckets surviving the pushed bucket predicates — each is one
    * input partition, so a dropped bucket is never even planned. */
  private[graft] val keptBuckets: Seq[Int] = {
    val all = 0 until buckets
    pushed.foldLeft(all: Seq[Int]) {
      case (acc, EqualTo("bucket", v: Int)) => acc.filter(_ == v)
      case (acc, In("bucket", vs)) =>
        val set = vs.collect { case i: Int => i }.toSet
        acc.filter(set)
      case (acc, _) => acc
    }
  }

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSynth(rows=$rows, buckets=$buckets, range=[$lo,$hi), " +
      s"partitions=${keptBuckets.length}, topN=$topN, " +
      s"pushed=[${pushed.mkString(", ")}], read=${requiredSchema.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] =
    if (topN >= 0)
      // fully-pushed ORDER BY id LIMIT n: ONE partition walks the kept
      // residues in global id order and stops after n rows
      Array(SynthTopNPartition(keptBuckets, buckets, lo, hi, topN,
        requiredSchema.fieldNames))
    else
      keptBuckets.map(b => SynthPartition(b, buckets, lo, hi,
        requiredSchema.fieldNames)).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory = SynthReaderFactory

  /** Storage-partitioned scan ([[SupportsReportPartitioning]]): the
    * generator's one-partition-per-bucket layout IS a key-grouped
    * partitioning on `bucket`, and reporting it (each
    * [[SynthPartition]] carries its key via [[HasPartitionKey]]) lets
    * Spark drop the Exchange under a `GROUP BY bucket` aggregate and
    * run a storage-partitioned join (SPJ) between two such scans —
    * the DSv2 mechanism behind shuffle-free joins over co-bucketed
    * Iceberg/Delta tables. Requires
    * `spark.sql.sources.v2.bucketing.enabled=true` on the session.
    * Not reported when the TopN path collapses to a single merged
    * partition, or when `bucket` itself is pruned from the output
    * (the key must be resolvable against the scan's columns). */
  override def outputPartitioning(): Partitioning =
    if (topN >= 0 || !requiredSchema.fieldNames.contains("bucket"))
      new UnknownPartitioning(if (topN >= 0) 1 else keptBuckets.length)
    else
      new KeyGroupedPartitioning(
        Array(Expressions.identity("bucket")), keptBuckets.length)

  /** Post-pushdown estimates (what the pruned scan will actually
    * emit), so the optimizer sizes joins against the truth. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val span = math.max(0L, hi - lo)
    private val n = if (buckets == 0) 0L else span * keptBuckets.length / buckets
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(n * (8 + 4 + 8))
    override def numRows(): OptionalLong = OptionalLong.of(n)
  }
}

/** One bucket's residue class within [lo, hi); generates only the
  * projected columns. Plain case class → trivially serializable.
  * [[HasPartitionKey]] exposes the bucket as the partition's
  * key-grouped partition value (see [[SynthScan.outputPartitioning]]). */
private[graft] case class SynthPartition(bucket: Int, buckets: Int,
    lo: Long, hi: Long, fields: Array[String])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Fully-pushed TopN: one partition walking ALL kept residues in
  * global id order, stopping after n emitted rows. */
private[graft] case class SynthTopNPartition(kept: Seq[Int], buckets: Int,
    lo: Long, hi: Long, n: Int, fields: Array[String]) extends InputPartition

private[graft] object SynthReaderFactory extends PartitionReaderFactory {
  private def row(fields: Array[String], id: Long, buckets: Int)
      : InternalRow = {
    val vals: Array[Any] = fields.map {
      case "id" => id
      case "bucket" => (id % buckets).toInt
      case "value" => SynthSource.valueOf(id)
    }
    new GenericInternalRow(vals)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: SynthPartition => new PartitionReader[InternalRow] {
        // first id >= lo with id ≡ bucket (mod buckets)
        private var id: Long =
          p.lo + ((p.bucket - p.lo % p.buckets + p.buckets) % p.buckets)
        private var current: InternalRow = _

        override def next(): Boolean = {
          if (id >= p.hi) return false
          current = row(p.fields, id, p.buckets)
          id += p.buckets
          true
        }

        override def get(): InternalRow = current
        override def close(): Unit = ()
      }

      case p: SynthTopNPartition => new PartitionReader[InternalRow] {
        private val keptSet = p.kept.toSet
        private var id: Long = p.lo
        private var emitted = 0
        private var current: InternalRow = _

        override def next(): Boolean = {
          if (emitted >= p.n) return false
          while (id < p.hi && !keptSet((id % p.buckets).toInt)) id += 1
          if (id >= p.hi) return false
          current = row(p.fields, id, p.buckets)
          id += 1
          emitted += 1
          true
        }

        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
}
