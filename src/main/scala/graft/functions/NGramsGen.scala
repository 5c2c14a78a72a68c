package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Table-generating expression: `ngrams_gen(tokens, n)` emits one
  * `(pos, gram)` row per n-token shingle of an `array<string>` column
  * (1-based position, tokens joined by a single space) — the engine's
  * shingling primitive as a native Catalyst GENERATOR, completing the
  * custom-expression ladder (scalar codegen `CosineUnits`, typed
  * `Aggregator`, optimizer `Rule`, planner strategy + exec, DSv2
  * source/sink — and now the generator kind, SQL-usable via
  * `LATERAL VIEW ngrams_gen(ts, 3) g AS pos, gram`).
  *
  * Why not keep the `transform(sequence(...))` idiom everywhere: that
  * shape first MATERIALIZES an array of n·L characters per doc (every
  * shingle string boxed into an intermediate array) and then explodes
  * it; the generator streams one row at a time out of the doc's token
  * array with no intermediate collection, which is the difference
  * between O(doc) extra allocation per row and O(1) in the explode hot
  * path. Rows shorter than n produce nothing (the transform idiom's
  * `sequence(1, size-n+1)` DESCENDS when size < n and must be guarded
  * separately every time — the generator encapsulates the edge once).
  *
  * `n` must be a positive INT the analyzer can fold to a constant — a
  * literal, or any foldable expression like `1 + 2` (a per-row n would
  * defeat the analyzer's output-schema contract). Violations surface as
  * an `AnalysisException` through `checkInputDataTypes`, never a raw
  * runtime exception from construction.
  */
case class NGramsGen(child: Expression, n: Expression)
    extends Generator with CodegenFallback {

  // resolved lazily AFTER analysis has accepted the inputs — construction
  // itself never throws, so the analyzer's error path stays in charge
  private lazy val nVal: Int = n.eval(null).asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, n)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (!n.foldable || n.dataType != IntegerType)
      TypeCheckFailure(
        s"ngrams_gen(tokens, n): n must be an INT literal or constant-foldable " +
          s"INT expression, got ${n.sql}")
    else scala.util.Try(n.eval(null)) match {
      // a foldable n can still THROW on evaluation (ANSI division by zero,
      // ANSI cast failure) — that too must surface as an analysis error,
      // not a raw runtime exception out of the analyzer
      case scala.util.Failure(e) =>
        TypeCheckFailure(
          s"ngrams_gen(tokens, n): n could not be evaluated to a constant " +
            s"(${e.getMessage})")
      case scala.util.Success(v) if v == null || v.asInstanceOf[Int] < 1 =>
        TypeCheckFailure(
          s"ngrams_gen(tokens, n): n must fold to a positive INT literal value, " +
            s"got $v")
      case _ => child.dataType match {
        case ArrayType(StringType, _) => TypeCheckSuccess
        case t => TypeCheckFailure(s"ngrams_gen needs array<string> tokens, got $t")
      }
    }
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input)
    if (arr == null) return Iterator.empty
    val toks = arr.asInstanceOf[ArrayData]
    val len = toks.numElements()
    if (len < nVal) return Iterator.empty
    val space = UTF8String.fromString(" ")
    (0 to len - nVal).iterator.map { i =>
      // null elements are SKIPPED, exactly like the concat_ws(' ', ...)
      // idiom this generator replaces (UTF8String.concat would instead
      // null the whole gram — and the schema declares gram non-null)
      val present = new Array[UTF8String](nVal)
      var m = 0
      var j = 0
      while (j < nVal) {
        val t = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        if (t != null) { present(m) = t; m += 1 }
        j += 1
      }
      val parts = new Array[UTF8String](math.max(2 * m - 1, 0))
      var k = 0
      while (k < m) {
        parts(2 * k) = present(k)
        if (k < m - 1) parts(2 * k + 1) = space
        k += 1
      }
      InternalRow(i + 1,
        if (parts.isEmpty) UTF8String.EMPTY_UTF8 else UTF8String.concat(parts: _*))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NGramsGen =
    copy(child = newChildren(0), n = newChildren(1))
}

object NGramsGen {
  /** Imperative fallback registration for sessions built without
    * `spark.sql.extensions=graft.GraftExtensions` (the CosineUnits
    * contract): library operators that use `ngrams_gen` from SQL call
    * this first so they work in any session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    FunctionArity.registerOnce(spark, "ngrams_gen") { exprs =>
      if (exprs.length != 2) throw FunctionArity.wrongNumArgs(
        "ngrams_gen", expected = 2, actual = exprs.length)
      NGramsGen(exprs(0), exprs(1))
    }
}
