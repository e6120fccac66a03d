package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Whole-operator custom plan: per-key top-k with PARTIAL/FINAL
  * bounded heaps — the SURVEY §2 custom-operator ladder's rung (c)
  * (logical node + strategy + physical operators), used where the
  * composed built-in genuinely can't express the efficient plan.
  *
  * The built-in formulation
  * `row_number() OVER (PARTITION BY key ORDER BY o) <= k` plans as
  * Window over a FULL sort of every row of every key, shuffling the
  * entire input; Spark's own TakeOrderedAndProject does bounded
  * partial top-k but only GLOBALLY (no key axis). This operator is
  * the missing cross of the two, exactly the partial-aggregation
  * shape: map-side a size-k heap per key prunes each partition to
  * ≤ k rows per (key, partition) BEFORE the exchange, the exchange
  * then moves O(k · keys · partitions) rows instead of all of them,
  * and the final heap re-prunes and emits ranks 1..k. At 100 TB with
  * a 10k-row cap per user on billions of events, the shuffle drops by
  * orders of magnitude — this node exists purely for that exchange
  * diet; semantics are identical to the window form (both sides are
  * oracle-checked against the same SQL).
  *
  * Determinism: callers must pass a TOTAL order per key (tiebreak to
  * a unique column), the same contract every window query in this
  * repo follows. Heap contents are then order-insensitive, so retry/
  * speculation cannot change bytes. */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, rankAttr: AttributeReference, child: LogicalPlan,
    finalPartitions: Option[Int] = None,
    maxPartialKeys: Int = TopKPerKey.MaxPartialKeys)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rankAttr is born here, not read from the child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Map-side pruning: each input partition keeps at most k rows per
  * key (size-k heap, worst row evicted), no distribution required —
  * runs before the exchange like partial aggregation.
  *
  * Bounded state: the per-partition heap map is capped at
  * `maxPartialKeys` distinct keys ([[TopKPerKey.MaxPartialKeys]]).
  * Once the cap is hit, rows of UNSEEN keys stream straight through to
  * the exchange un-pruned — partial pruning is an optimization, the
  * final exec re-prunes every key, so the fallback only costs shuffle
  * volume on the pathological high-cardinality-per-partition case
  * that would otherwise grow the heap map toward the whole partition
  * (the OOM hazard of un-managed on-heap state; a spillable map from
  * the TaskMemoryManager is the heavier alternative). Keys already
  * heaped keep pruning after the cap. */
case class PartialTopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan,
    maxPartialKeys: Int = TopKPerKey.MaxPartialKeys) extends UnaryExecNode {
  import scala.jdk.CollectionConverters._
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil
  protected override def doExecute(): RDD[InternalRow] = {
    val (keysB, orderB, childOut, kk, maxKeys) =
      (keys, order, child.output, k, maxPartialKeys)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keysB, childOut)
      val ord = GenerateOrdering.generate(orderB, childOut)
      val map = new java.util.LinkedHashMap[InternalRow,
        java.util.PriorityQueue[InternalRow]]()
      val passThrough = iter.flatMap { row =>
        val key = keyProj(row)
        var pq = map.get(key)
        if (pq == null && map.size() >= maxKeys) {
          // state cap reached: unseen key streams through un-pruned
          Iterator.single(row)
        } else {
          if (pq == null) {
            pq = new java.util.PriorityQueue[InternalRow](kk + 1, ord.reverse)
            map.put(key.copy(), pq)
          }
          if (pq.size() < kk) pq.add(row.copy())
          else if (ord.compare(row, pq.peek()) < 0) {
            pq.poll(); pq.add(row.copy())
          }
          Iterator.empty
        }
      }
      // ++'s by-name operand: the heap flush iterator is built only
      // after the streaming phase has consumed the input
      passThrough ++
        map.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerKeyExec =
    copy(child = newChild)
}

/** Final top-k: requires clustering on the keys (EnsureRequirements
  * inserts the one exchange), re-prunes each key's surviving rows to
  * k, and emits them rank-ascending with the rank appended. */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, rankAttr: AttributeReference, child: SparkPlan,
    finalPartitions: Option[Int] = None)
  extends UnaryExecNode {
  import scala.jdk.CollectionConverters._
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  // finalPartitions pins the final exchange's partition count (AQE
  // cannot coalesce a required count): the final heaps are CPU-bound
  // per ROW, so AQE's byte-based coalescing can squeeze a large
  // pruned stream into 2 tasks (observed on q_cf_negative_samples —
  // 331k heap rows in 2 tasks, guide §2.5 byte advisories starving
  // compute stages). Callers with a fat pruned stream pass the
  // session's core count; None keeps the default AQE behavior.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys,
      requiredNumPartitions = finalPartitions) :: Nil
  protected override def doExecute(): RDD[InternalRow] = {
    val (keysB, orderB, childOut, kk, out) = (keys, order, child.output, k, output)
    child.execute().mapPartitions({ iter =>
      val ord = GenerateOrdering.generate(orderB, childOut)
      val heaps = TopKPerKey.heaps(iter, keysB, orderB, kk, childOut)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      val outProj = UnsafeProjection.create(out, childOut :+ out.last)
      heaps.values().iterator().asScala.flatMap { pq =>
        val arr = pq.toArray(new Array[InternalRow](pq.size()))
        java.util.Arrays.sort(arr, ord)
        arr.iterator.zipWithIndex.map { case (r, i) =>
          rankRow.setInt(0, i + 1)
          outProj(joined(r, rankRow))
        }
      }
    }, preservesPartitioning = false)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner hook: one logical node → partial + final pair. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, rankAttr, child, finalParts, maxKeys) =>
      TopKPerKeyExec(keys, order, k, rankAttr,
        PartialTopKPerKeyExec(keys, order, k, planLater(child), maxKeys),
        finalParts) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Default cap on distinct keys held in one partition's partial
    * heap map (see [[PartialTopKPerKeyExec]]). [[topK]] does not
    * expose it; graft code (a spec forcing the pass-through path)
    * sets it on the plan node. */
  private[graft] val MaxPartialKeys: Int = 1 << 20

  /** Size-k heap per key over one partition. PQ comparator is the
    * REVERSED row order so poll() evicts the worst row; a row that
    * can't beat the current worst is rejected without copying.
    *
    * Memory caveat: the map holds O(distinct keys per partition × k)
    * copied rows ON HEAP, outside Spark's task memory manager — it
    * cannot spill. The PARTIAL side bounds this with the
    * [[MaxPartialKeys]] pass-through cap; this
    * helper now serves the FINAL side, where clustering means the
    * per-partition key set is total-keys/partitions (the same state
    * bound as any hash aggregation) and the retained rows are ≤ k per
    * key. For key sets that outgrow executor memory even so, the
    * spillable WindowExec formulation or more shuffle partitions is
    * the safer plan; a TaskMemoryManager-backed spillable map is the
    * heavier alternative. */
  private[plans] def heaps(iter: Iterator[InternalRow], keys: Seq[Expression],
      order: Seq[SortOrder], k: Int, childOut: Seq[Attribute])
      : java.util.LinkedHashMap[InternalRow, java.util.PriorityQueue[InternalRow]] = {
    val keyProj = UnsafeProjection.create(keys, childOut)
    val ord = GenerateOrdering.generate(order, childOut)
    val map = new java.util.LinkedHashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
    while (iter.hasNext) {
      val row = iter.next()
      val key = keyProj(row)
      var pq = map.get(key)
      if (pq == null) {
        pq = new java.util.PriorityQueue[InternalRow](k + 1, ord.reverse)
        map.put(key.copy(), pq)
      }
      if (pq.size() < k) pq.add(row.copy())
      else if (ord.compare(row, pq.peek()) < 0) { pq.poll(); pq.add(row.copy()) }
    }
    map
  }

  /** `plan`, which holds a [[TopKPerKeyPlan]], as a frame of `spark`,
    * with [[TopKPerKeyStrategy]] added to `spark`'s planner once. This
    * is the one write graft makes to a caller's session: the frame
    * plans on the session it is bound to, and a caller who goes on to
    * transform it (recsys's neighbour predictions do) binds the result
    * to its own session, whose planner must know the node. */
  private[graft] def frame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val x = cs.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(TopKPerKeyStrategy))
        x.extraStrategies = x.extraStrategies :+ TopKPerKeyStrategy
    }
    org.apache.spark.sql.graft.Bridge.ofRows(cs, plan)
  }

  /** Public operator surface: top `k` rows per `keyCols`, ordered by
    * `orderSpec` (column name → ascending?), with a 1-based rank
    * column appended. The order must be total per key. */
  def topK(df: DataFrame, keyCols: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int,
      rankName: String = "rk",
      finalPartitions: Option[Int] = None): DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val analyzed = cdf.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${analyzed.output.map(_.name)}"))
    val keys = keyCols.map(attr)
    val order = orderSpec.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    frame(cdf.sparkSession,
      TopKPerKeyPlan(keys, order, k, rankAttr, analyzed, finalPartitions))
  }
}
