package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items ("heavy hitters") sketch over a string
  * column (datasketches `ItemsSketch`, the Space-Saving/MG family).
  *
  * Why it matters at scale: exact corpus-wide token frequencies shuffle
  * EVERY token occurrence (t4's shape — fine per-query, ruinous as a
  * standing 100 TB statistic). This aggregate keeps a bounded map of at
  * most `maxMapSize` counters per partition and merges maps, so only
  * kilobyte states cross the wire, with the classic deterministic
  * guarantee: every item with true count > ε·N (ε = getAprioriError's
  * bound, ~3.5/maxMapSize) is RETAINED, and for every tracked item
  * `lb ≤ true ≤ ub` — under any merge order. Point estimates depend on
  * purge/merge history (task scheduling), so gates pin only the
  * guaranteed properties: capture of above-threshold items and bound
  * containment (the d4/k2 planted-floor frame).
  *
  * `maxMapSize` must be a power of 2 (the sketch's own contract). Null
  * inputs are ignored. Output is the serialized sketch (`binary`),
  * decodable by [[FreqItemsMergeAgg]] and [[FreqTopItems]].
  *
  * Why this stays hand-written although Spark 4.1 ships the
  * `approx_top_k_*` family (KLL quantiles, by contrast, use Spark's
  * built-in `kll_*_double` functions):
  *   - `approx_top_k_estimate` returns only `(item, count)`, with no
  *     lower or upper bound, so t12's `lb ≤ exact ≤ ub` flag cannot be
  *     computed from it;
  *   - `approx_top_k_combine` re-creates the merged `ItemsSketch` at a
  *     maximum map capacity of 1,572,864 counters (24 for
  *     `ItemsSketch(32)`), so the merged state loses the kilobyte bound
  *     the standing-statistic shape relies on.
  */
case class FreqItemsAgg(
    child: Expression,
    maxMapSize: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"freq_items_agg needs a string column, got ${t.simpleString}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "freq_items_agg"

  // the serde is stateless but not java.io.Serializable — it must not
  // ship as an expression field, only be rebuilt per executor
  @transient private lazy val serde = new ArrayOfStringsSerDe

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(b: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) b.update(v.asInstanceOf[UTF8String].toString)
    b
  }

  override def merge(b: ItemsSketch[String], o: ItemsSketch[String]): ItemsSketch[String] = {
    b.merge(o); b
  }

  override def eval(b: ItemsSketch[String]): Any = b.toByteArray(serde)

  override def serialize(b: ItemsSketch[String]): Array[Byte] = b.toByteArray(serde)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqItemsAgg =
    copy(child = newChild)
}

/** Holder so the merge aggregate adopts the FIRST input sketch's
  * maxMapSize instead of imposing a default capacity.
  */
final class FreqItemsMergeBuf(var sk: ItemsSketch[String])

/** Merges serialized [[FreqItemsAgg]] states — per-source / per-day
  * heavy-hitter states rolled up without rescanning tokens. The MG
  * guarantee (no false negatives above ε·N, bound containment)
  * composes across merges.
  */
case class FreqItemsMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqItemsMergeBuf]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"freq_items_merge_agg needs a binary sketch column, got ${t.simpleString}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "freq_items_merge_agg"

  @transient private lazy val serde = new ArrayOfStringsSerDe

  override def createAggregationBuffer(): FreqItemsMergeBuf = new FreqItemsMergeBuf(null)

  override def update(b: FreqItemsMergeBuf, input: InternalRow): FreqItemsMergeBuf = {
    val v = child.eval(input)
    if (v != null) {
      val in = ItemsSketch.getInstance(Memory.wrap(v.asInstanceOf[Array[Byte]]), serde)
      if (b.sk == null) b.sk = in else b.sk.merge(in)
    }
    b
  }

  override def merge(b: FreqItemsMergeBuf, o: FreqItemsMergeBuf): FreqItemsMergeBuf = {
    if (o.sk != null) { if (b.sk == null) b.sk = o.sk else b.sk.merge(o.sk) }
    b
  }

  override def eval(b: FreqItemsMergeBuf): Any =
    if (b.sk == null) null else b.sk.toByteArray(serde)

  override def serialize(b: FreqItemsMergeBuf): Array[Byte] =
    if (b.sk == null) Array.emptyByteArray else b.sk.toByteArray(serde)
  override def deserialize(bytes: Array[Byte]): FreqItemsMergeBuf =
    if (bytes.isEmpty) new FreqItemsMergeBuf(null)
    else new FreqItemsMergeBuf(ItemsSketch.getInstance(Memory.wrap(bytes), serde))

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqItemsMergeAgg =
    copy(child = newChild)
}

/** `freq_top_items(sketch)` → array<struct<item, estimate, lb, ub>>:
  * the sketch's retained frequent items under NO_FALSE_NEGATIVES (every
  * item with true count above the sketch's current max error appears;
  * some below-threshold items may too — callers filter on a
  * deterministic a-priori threshold when they need a stable row set).
  * Cold-path scalar over one-row sketch states — CodegenFallback.
  */
case class FreqTopItems(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"freq_top_items needs a binary sketch column, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("estimate", LongType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false))))
  override def nullable: Boolean = true
  override def prettyName: String = "freq_top_items"

  override def nullSafeEval(bin: Any): Any = {
    val sk = ItemsSketch.getInstance(
      Memory.wrap(bin.asInstanceOf[Array[Byte]]), new ArrayOfStringsSerDe)
    val rows = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).map { r =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(r.getItem),
        r.getEstimate, r.getLowerBound, r.getUpperBound))
    }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): FreqTopItems =
    copy(child = newChild)
}
