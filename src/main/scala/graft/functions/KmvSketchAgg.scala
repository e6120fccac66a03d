package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (k-minimum-values) distinct sketch as a custom
  * [[TypedImperativeAggregate]] — the remaining sketch family next to
  * the registered HLL / count-min / bloom / bitmap rollups, and the
  * custom-AGGREGATE rung of the extension ladder (the scalar rung is
  * the codegen'd [[CosineSim]]/[[RollingHash]] expressions; the
  * whole-operator rung is `graft.plans.TopKPerKey`).
  *
  * State is the k smallest DISTINCT hash values seen (a bounded
  * sorted set — ≤ k longs per group whatever the input size), merged
  * associatively across partials, so the aggregate is shuffle-
  * friendly and re-aggregatable exactly like the engine sketches.
  * The classic estimator reads D ≈ (k−1)·M / h₍ₖ₎ for hashes uniform
  * on [0, M).
  *
  * Unlike HLL/CMS bytes, the state is DETERMINISTIC AND PORTABLE:
  * the k minima of an explicit hash column are the same in any
  * engine, so the whole sketch — not just bounds on its estimate —
  * is DuckDB-oracle-able (`ORDER BY h LIMIT k` per group). That is
  * why eval() returns the sorted minima array rather than an opaque
  * blob: the caller derives h₍ₖ₎ and the estimate in plain SQL, and
  * the oracle reproduces every byte.
  *
  * Called as `KmvAgg(hashCol, k)`; k is a positive integer (it sizes
  * per-group state, so it cannot vary by row).
  */
case class KmvAgg(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k > 0, "graft_kmv: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def trim(buf: java.util.TreeSet[java.lang.Long]): Unit = {
    while (buf.size() > k) { buf.pollLast(); () }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // cheap reject: full buffer and h beyond the current kth min
      if (buf.size() < k || h < buf.last()) { buf.add(h); trim(buf) }
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    buf.addAll(other)
    trim(buf)
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size())
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long])
      : Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_kmv"
}

object KmvAgg {
  /** `graft_kmv(hash, k)`: the aggregate of the `k` smallest distinct
    * values of a bigint column. */
  def apply(hash: Column, k: Int): Column =
    Bridge.column(hash)(e => new KmvAgg(e(0), k).toAggregateExpression())
}
