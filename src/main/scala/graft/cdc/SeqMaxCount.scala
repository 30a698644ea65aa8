package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Highest non-null `seq` and how many input rows carry it, as
  * struct<max: bigint, n: bigint> (max null and n 0 when every seq is
  * null). [[Dedupe.lwwBroadcast]]'s pass 1 uses `n` to learn whether any
  * key has equal-(key, seq) duplicates at its winning seq — the only rows
  * its join-back would emit twice — so the collapse runs only when needed.
  * Fixed-width buffer, so it plans as a codegen'd HashAggregate.
  */
case class SeqMaxCount(child: Expression) extends DeclarativeAggregate
    with UnaryLike[Expression] {

  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("max", LongType), StructField("n", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"seq_max_count needs a BIGINT seq; got ${child.dataType.catalogString}")

  private lazy val max = AttributeReference("max", LongType)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(max, n)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(null, LongType), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    val higher = And(IsNotNull(child), Or(IsNull(max), GreaterThan(child, max)))
    Seq(
      If(higher, child, max),
      If(higher, Literal(1L), If(EqualTo(child, max), Add(n, Literal(1L)), n)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Greatest(Seq(max.left, max.right)),
    If(Or(IsNull(max.right), GreaterThan(max.left, max.right)), n.left,
      If(Or(IsNull(max.left), GreaterThan(max.right, max.left)), n.right,
        Add(n.left, n.right))))

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("max"), max, Literal("n"), n))

  override protected def withNewChildInternal(c: Expression): SeqMaxCount = copy(child = c)
  override def prettyName: String = "seq_max_count"
}

object SeqMaxCount {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  /** Column API: seq_max_count(seqCol). */
  def of(seq: Column): Column =
    ColumnBridge.column(SeqMaxCount(ColumnBridge.expression(seq)).toAggregateExpression())
}
