package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Bounded per-group TOP-K selection as a mergeable AGGREGATE — the
  * no-sort replacement for `Sort → Window(row_number) → rank ≤ k` when
  * the windowed frame is enormous and the survivors are few (guide
  * §2.3 "aggregate before you shuffle", §5 spill avoidance).
  *
  * The r16 bitext candidate cut ran the rank filter as a window: at
  * sf10 the ANN candidate stream is ~1.4B rows, and even with the
  * WindowGroupLimit partial cut every row first passes through a
  * per-partition SORT of the full stream (measured ~3.4 µs/row of
  * sort+spill against ~0.1 µs of useful cosine work — the sim_bitext
  * row read 150s). This aggregate keeps a k-bounded buffer per group
  * instead: map-side partial aggregation collapses each partition to
  * ≤ k entries per group before the exchange, nothing is ever sorted
  * but the k-element buffers, and memory is k-bounded per group.
  *
  * Input: a struct whose FIRST field is the ordering score (double,
  * typically `round(score, dp)` computed in the plan so the ordering
  * value is bit-identical to the window's sort key) and whose SECOND
  * field is the orderable tie-break id. Entries are kept under
  * (score DESC, id ASC) with the window's null semantics exactly
  * (DESC ⇒ NULL scores last; ASC ⇒ NULL ids first; NaN greatest;
  * -0.0 < 0.0 — all via
  * java.lang.Double.compare on the non-null branch, Spark's physical
  * double ordering). Result: array<input struct> in that order,
  * length ≤ k — `explode` restores the row form, and the kept set is
  * provably the `row_number ≤ k` set (ids are unique per group, so the
  * order is total and strict).
  */
case class TopKByScoreAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[InternalRow]]
    with UnaryLike[Expression] {

  require(k >= 1, s"top_k_by_score needs k >= 1, got $k")

  override def prettyName: String = "top_k_by_score"

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType if st.length >= 2 &&
        st.fields(0).dataType == DoubleType &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(st.fields(1).dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "top_k_by_score requires struct<score: double, id: orderable, ...>, " +
        s"got ${other.simpleString}")
  }

  @transient private lazy val idType = structType.fields(1).dataType
  @transient private lazy val idOrdering =
    TypeUtils.getInterpretedOrdering(idType)

  /** (score DESC NULLS LAST, id ASC NULLS FIRST) — the window's orderBy
    * exactly. */
  private def lessThan(a: InternalRow, b: InternalRow): Boolean = {
    val an = a.isNullAt(0); val bn = b.isNullAt(0)
    val c =
      if (an && bn) 0
      else if (an) 1 // null score sorts AFTER any score under DESC
      else if (bn) -1
      else java.lang.Double.compare(b.getDouble(0), a.getDouble(0)) // DESC
    if (c != 0) c < 0
    else if (a.isNullAt(1) || b.isNullAt(1))
      a.isNullAt(1) && !b.isNullAt(1) // null id sorts BEFORE any id under ASC
    else idOrdering.compare(a.get(1, idType), b.get(1, idType)) < 0
  }

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[InternalRow] =
    scala.collection.mutable.ArrayBuffer.empty[InternalRow]

  /** Insert keeping the buffer sorted and ≤ k — k is small (top-k
    * cuts), so the linear insert beats any heap's constant factor. */
  private def insert(buf: scala.collection.mutable.ArrayBuffer[InternalRow],
      row: InternalRow): Unit = {
    if (buf.length == k && !lessThan(row, buf.last)) return
    var i = buf.length
    while (i > 0 && lessThan(row, buf(i - 1))) i -= 1
    buf.insert(i, row)
    if (buf.length > k) buf.remove(buf.length - 1)
    ()
  }

  override def update(buf: scala.collection.mutable.ArrayBuffer[InternalRow],
      input: InternalRow): scala.collection.mutable.ArrayBuffer[InternalRow] = {
    val v = child.eval(input)
    if (v != null) {
      val r = v.asInstanceOf[InternalRow]
      // acceptance test on the TRANSIENT row first (reads only the
      // score/id fields) so the overwhelmingly-common reject path does
      // no work; an ACCEPTED entry materializes through the unsafe
      // projection + copy — a deep, self-owned byte image
      // (GenericInternalRow.copy() is shallow: a string id would alias
      // the operator's reused input buffer)
      if (buf.length < k || lessThan(r, buf.last)) insert(buf, proj(r).copy())
    }
    buf
  }

  override def merge(buf: scala.collection.mutable.ArrayBuffer[InternalRow],
      other: scala.collection.mutable.ArrayBuffer[InternalRow]): scala.collection.mutable.ArrayBuffer[InternalRow] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: scala.collection.mutable.ArrayBuffer[InternalRow]): Any =
    new GenericArrayData(buf.toArray[Any])

  @transient private lazy val proj = UnsafeProjection.create(structType)

  override def serialize(buf: scala.collection.mutable.ArrayBuffer[InternalRow]): Array[Byte] = {
    val parts = buf.map { r =>
      val u = proj(r)
      val bytes = new Array[Byte](u.getSizeInBytes)
      u.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      bytes
    }
    val out = java.nio.ByteBuffer.allocate(4 + parts.map(4 + _.length).sum)
    out.putInt(parts.length)
    parts.foreach { b => out.putInt(b.length); out.put(b) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[InternalRow] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < n) {
      val len = in.getInt
      val b = new Array[Byte](len)
      in.get(b)
      val u = new UnsafeRow(structType.length)
      u.pointTo(b, len)
      buf += u
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): TopKByScoreAgg =
    copy(child = newChild)
}

object TopK {
  /** Aggregate Column: the k entries of `entry` (struct<score: double,
    * id: orderable, …>) best under (score DESC NULLS LAST, id ASC NULLS
    * FIRST), as
    * array<entry struct> in that order. */
  def topKByScore(entry: Column, k: Int): Column =
    GraftColumn(TopKByScoreAgg(GraftColumn.expr(entry), k).toAggregateExpression())
}
