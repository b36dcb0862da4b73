package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded mergeable k-minimum-distinct-values aggregate: the k smallest
  * DISTINCT long values of the input, returned as an ascending array — the
  * KMV sketch's k-min set as one map-side-combinable aggregation.
  *
  * The buffer is a `java.util.TreeSet[Long]` capped at k entries (inserting
  * a duplicate is a no-op, inserting beyond k evicts the current maximum),
  * so per-partition state is O(k) — ~2 KiB at k = 256 — no matter how many
  * billions of distinct values a hot group holds. `merge` re-inserts the
  * other buffer's ≤ k values under the same cap, which is EXACT by the KMV
  * merge property: every member of the union's k-min set is in its own
  * side's k-min set. This replaces the `row_number() over (partition by
  * group order by hash)` formulation that sorted ALL of a group's distinct
  * hashes in one window task (the window-skew shape measured ≥4× slower on
  * a single 10M-copy hot key, unbounded in group cardinality —
  * and a KMV sketch exists precisely for huge-cardinality groups).
  *
  * Because the buffer dedups, callers need NO up-front `distinct()`: the
  * raw item stream partial-aggregates everywhere and only ≤ k longs per
  * group cross the exchange. Null inputs are skipped (standard aggregate
  * convention; the hash columns feeding this are null only for null items,
  * which a distinct-count ignores). Deterministic: the result is a pure
  * function of the input value set — order- and partitioning-independent —
  * so DuckDB oracles replay it as a rank-≤-k over distinct values. */
case class KMinDistinctAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 1, "k must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmin_distinct"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(b: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (b.size < k) { b.add(v); () }
    else if (v < b.last()) { if (b.add(v)) { b.pollLast(); () } }
  }

  override def update(b: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(b, v.asInstanceOf[Long])
    b
  }

  override def merge(b: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(b, it.next())
    b
  }

  override def eval(b: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Any](b.size)
    val it = b.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(b: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 * b.size)
    buf.putInt(b.size)
    val it = b.iterator()
    while (it.hasNext) buf.putLong(it.next().longValue())
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { b.add(buf.getLong); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KMinDistinctAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): KMinDistinctAgg =
    copy(child = newChild)
}
