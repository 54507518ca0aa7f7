package graft.seen

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Executor-side cuckoo-filter construction as a Catalyst aggregate — the
  * seen gate's build above the broadcast limit and the re-crawl window's:
  * each bucket folds its long inputs where the data lives, the driver never
  * assembles a monolithic sketch. Membership is placement-independent, so
  * the nondeterministic partial-merge order cannot change gate output.
  *
  * Usage: `seen.groupBy(bucket).agg(CuckooAgg.cuckooAgg(col, perBucket))`
  * -> one serialized filter (BinaryType) per bucket, ready for
  * [[CuckooFilter.deserialize]] + in-place `delete` of an expiry window.
  */
case class CuckooAgg(
    child: Expression,
    expectedItems: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CuckooFilter] with UnaryLike[Expression] {

  // analysis-time input validation (ADVICE r05): a non-LongType child (e.g.
  // an int hash column) fails as an AnalysisException instead of a runtime
  // ClassCastException in update() — mirroring ExtractAllExpr
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cuckoo_agg expects a BIGINT hash child, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): CuckooFilter =
    CuckooFilter.create(math.max(expectedItems, 1L))

  override def update(buffer: CuckooFilter, input: InternalRow): CuckooFilter = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: CuckooFilter, other: CuckooFilter): CuckooFilter =
    buffer.mergeInPlace(other)

  override def eval(buffer: CuckooFilter): Any = serialize(buffer)

  override def serialize(buffer: CuckooFilter): Array[Byte] = buffer.serialized

  override def deserialize(storageFormat: Array[Byte]): CuckooFilter =
    CuckooFilter.deserialize(storageFormat)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): CuckooAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CuckooAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CuckooAgg =
    copy(child = newChild)

  override def prettyName: String = "cuckoo_agg"
}

object CuckooAgg {
  def cuckooAgg(c: Column, expectedItems: Long): Column =
    GraftColumnBridge.column(
      CuckooAgg(GraftColumnBridge.expression(c), expectedItems).toAggregateExpression())
}
