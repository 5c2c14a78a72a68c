package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused cosine similarity over two float/double array columns, in the
  * engine's deterministic integer-unit arithmetic (see
  * graft.operators.Similarity): per-element products quantized with
  * floor(x*y*1e9) and summed as exact longs, one fused loop for dot and
  * both norms.
  *
  * Exists because the composable higher-order-function formulation
  * (zip_with + aggregate) evaluates lambdas interpreted — ~10µs/element-op —
  * while this expression participates in whole-stage codegen (doGenCode
  * emits the loop directly into the generated stage). Same arithmetic,
  * same bit-identical result, ~50× less CPU in the pairwise-join hot path.
  */
case class CosineUnits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    // analysis-time rejection: a wrong element type must be an
    // AnalysisException, never a raw throw out of codegen/eval
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckSuccess
    else TypeCheckFailure(
      s"cosine_units needs array<float|double> on both sides, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  // only reachable after checkInputDataTypes accepted the inputs
  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val af = elemIsFloat(left); val bf = elemIsFloat(right)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x: Double = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y: Double = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += math.floor(x * y * 1e9).toLong
      na += math.floor(x * x * 1e9).toLong
      nb += math.floor(y * y * 1e9).toLong
      i += 1
    }
    dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$aGet($i);
         |  double $y = (double) $b.$bGet($i);
         |  $dot += (long) java.lang.Math.floor($x * $y * 1e9);
         |  $na  += (long) java.lang.Math.floor($x * $x * 1e9);
         |  $nb  += (long) java.lang.Math.floor($y * $y * 1e9);
         |}
         |${ev.value} = ((double) $dot) / java.lang.Math.sqrt(((double) $na) * ((double) $nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineUnits {
  /** Idempotently register `cosine_units` for SQL/expr use in a session. */
  def register(spark: SparkSession): Unit =
    FunctionArity.registerOnce(spark, "cosine_units") { exprs =>
      if (exprs.length != 2) throw FunctionArity.wrongNumArgs(
        "cosine_units", expected = 2, actual = exprs.length)
      CosineUnits(exprs(0), exprs(1))
    }
}

/** Shared wrong-arity analysis error for every function registration
  * path (imperative AND [[graft.GraftExtensions]] builders) — indexing
  * `exprs(1)` on a short list or a bare `require` would surface as a raw
  * runtime exception instead of the analyzer's own message — and the
  * imperative path's check-before-register. */
private[graft] object FunctionArity {
  /** Register `name` unless the session already has it (from
    * [[graft.GraftExtensions]] or an earlier call): re-registering would
    * only swap in an identical builder and log a "replaced a previously
    * registered function" warning. */
  def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }

  def wrongNumArgs(name: String, expected: Int, actual: Int)
      : org.apache.spark.sql.AnalysisException =
    new org.apache.spark.sql.AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map("functionName" -> s"`$name`", "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
}
