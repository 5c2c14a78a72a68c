package graft.functions

import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}

/** Order-independent CONTENT CHECKSUM aggregate: Σ h31(x) mod p over the
  * group, with h31 the engine's md5-derived 31-bit hash (TextFns) and
  * p = 2³¹−1. Commutative modular addition makes the result independent
  * of row order, partitioning, and merge shape — the O(1)-output
  * anti-entropy primitive that answers "are these two tables / table
  * versions identical?" without q77's row-level diff (compare checksums
  * first, diff only on mismatch; a single changed row flips the sum with
  * probability 1−2⁻³¹ per independent hash).
  *
  * Engineering role: the DECLARATIVE aggregate rung of the custom-
  * expression ladder (q21's typed `Aggregator` runs through encoder
  * serialization and blocks whole-stage codegen; a DeclarativeAggregate
  * is pure expressions — update/merge/eval all participate in codegen
  * and map-side partial aggregation for free). The buffer is ONE Long
  * kept in [0, p), so merge never overflows: sums of two values < 2³¹
  * stay < 2³², far inside Long.
  *
  * Cross-engine contract: the DuckDB oracle replays Σ h31 with HUGEINT
  * then takes the same modulus — bit-identical. Null inputs contribute
  * nothing (SQL aggregate convention).
  */
case class ChecksumAgg(child: Expression) extends DeclarativeAggregate {

  private val p = Literal(TextFns.P31)

  private lazy val acc = AttributeReference("acc", LongType, nullable = false)()

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(acc)

  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L))

  /** h31(x) as a pure expression tree (same arithmetic as TextFns.h31). */
  private def h31(e: Expression): Expression =
    Remainder(
      Cast(Conv(Substring(Md5(Cast(e, BinaryType)), Literal(1), Literal(15)),
        Literal(16), Literal(10)), LongType),
      p)

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), acc, Remainder(Add(acc, h31(child)), p)))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Remainder(Add(acc.left, acc.right), p))

  override lazy val evaluateExpression: Expression = acc

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"checksum_agg needs a STRING column (cast first), got $t")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ChecksumAgg =
    copy(child = newChildren(0))
}

object ChecksumAgg {
  /** Imperative registration (the GraftExtensions builder is the
    * config-time path). Arity-checked exactly like the extension builder:
    * `exprs(0)` alone would silently IGNORE extra arguments — a caller's
    * `checksum_agg(a, b)` would checksum only `a` and report success —
    * and the two registration paths must raise the same analysis error
    * (FunctionEdgeSpec pins this; the suites share one session, so
    * whichever path registered first must behave identically). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    FunctionArity.registerOnce(spark, "checksum_agg") { exprs =>
      if (exprs.length != 1) throw FunctionArity
        .wrongNumArgs("checksum_agg", expected = 1, actual = exprs.length)
      ChecksumAgg(exprs(0)).toAggregateExpression()
    }
}
