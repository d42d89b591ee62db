package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, Expression, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** `topk_rows(struct, k, first_desc)` — bounded-heap per-group top-k as a
  * mergeable `TypedImperativeAggregate`, the partial-aggregatable
  * replacement for the `row_number() OVER (PARTITION BY g ORDER BY ...)
  * <= k` rank-window idiom (VERDICT r10 item 4: the window shape funnels
  * EVERY group row onto one reducer — at |corpus| rows per query group the
  * top-k reducer is a straggler by construction; a heap of k rows is
  * map-side combinable, so the exchange carries ≤ tasks·k rows per group).
  *
  * Ordering contract (must match the window it replaces exactly):
  *  - field 0 of the struct sorts first — DESC when `first_desc`, else ASC,
  *    with Spark SQL's default null ordering for that direction (ASC →
  *    NULLS FIRST, DESC → NULLS LAST) and Spark's SQL double semantics
  *    (NaN greatest, -0.0 == 0.0) via the Catalyst interpreted ordering;
  *  - field 1 sorts second, ASC (the deterministic id tie-break every
  *    rank-window call site carries);
  *  - any further fields are PAYLOAD carried through unsorted (e.g. the
  *    corpus label in hard-negative mining).
  *
  * Output: the group's k least rows under that order, as a SORTED
  * array<struct> (element i is rank i+1 — `posexplode` restores the
  * row_number). State per group: ≤ k UnsafeRows regardless of group size.
  */
case class TopKRowsAgg(
    child: Expression,
    k: Int,
    firstDesc: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[UnsafeRow]] {

  require(k >= 1, s"topk_rows k must be >= 1, got $k")

  private def schema: StructType = child.dataType.asInstanceOf[StructType]

  // the window-equivalent sort order: field0 (direction + its default null
  // ordering), then field1 ASC. r12 (VERDICT r11 item 8): the comparator is
  // now the CODEGEN'd ordering — GenerateOrdering emits the same compare
  // semantics SortExec's generated sort uses (doubles' NaN/-0.0, decimals,
  // strings all bit-identical to the window sort it replaced; the
  // interpreted path was the same semantics, just slower per call on the
  // hot insert path). Janino caches by generated source, so the compile
  // cost is paid once per schema shape. InterpretedOrdering stays as the
  // fallback if codegen compilation ever fails.
  @transient private lazy val ord: Ordering[InternalRow] = {
    val f0 = schema.fields(0)
    val f1 = schema.fields(1)
    val orders = Seq(
      SortOrder(BoundReference(0, f0.dataType, f0.nullable),
        if (firstDesc) Descending else Ascending),
      SortOrder(BoundReference(1, f1.dataType, f1.nullable), Ascending))
    (try org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
      .generate(orders)
    catch { case NonFatal(_) => new InterpretedOrdering(orders) })
      .asInstanceOf[Ordering[InternalRow]]
  }
  @transient private lazy val ordU: Ordering[UnsafeRow] = ord.on(identity[UnsafeRow])
  @transient private lazy val toUnsafe: UnsafeProjection =
    UnsafeProjection.create(schema)

  // ADVICE r11: a non-struct or sub-2-field struct must fail at analysis
  // time with a clear message, not IndexOutOfBounds lazily on executors
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s: StructType if s.fields.length >= 2 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "topk_rows expects a struct with at least 2 fields " +
            s"(sort key, tie-break id[, payload...]), got ${other.simpleString}")
    }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(schema, containsNull = false)
  override def prettyName: String = "topk_rows"

  // head of the queue = the WORST retained row (greatest under ord), so the
  // bound check and eviction are O(log k)
  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[UnsafeRow] =
    new scala.collection.mutable.PriorityQueue[UnsafeRow]()(ordU)

  private def insert(buf: scala.collection.mutable.PriorityQueue[UnsafeRow],
                     row: UnsafeRow): Unit = {
    if (buf.size < k) buf.enqueue(row)
    else if (ord.compare(row, buf.head) < 0) { buf.dequeue(); buf.enqueue(row) }
  }

  override def update(buf: scala.collection.mutable.PriorityQueue[UnsafeRow],
                      input: InternalRow): scala.collection.mutable.PriorityQueue[UnsafeRow] = {
    val s = child.eval(input).asInstanceOf[InternalRow]
    if (s != null) insert(buf, toUnsafe(s).copy())
    buf
  }

  override def merge(buf: scala.collection.mutable.PriorityQueue[UnsafeRow],
                     other: scala.collection.mutable.PriorityQueue[UnsafeRow]): scala.collection.mutable.PriorityQueue[UnsafeRow] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: scala.collection.mutable.PriorityQueue[UnsafeRow]): Any =
    new GenericArrayData(
      buf.toArray.sorted(ordU).map(_.asInstanceOf[AnyRef]))

  override def serialize(buf: scala.collection.mutable.PriorityQueue[UnsafeRow]): Array[Byte] = {
    val rows = buf.toArray
    var total = 4
    rows.foreach(r => total += 4 + r.getSizeInBytes)
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(rows.length)
    rows.foreach { r =>
      bb.putInt(r.getSizeInBytes)
      r.writeTo(bb)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[UnsafeRow] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      val row = new UnsafeRow(schema.length)
      row.pointTo(arr, len)
      buf.enqueue(row) // already bounded by k at serialize time
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKRowsAgg =
    copy(child = newChildren.head)
}
