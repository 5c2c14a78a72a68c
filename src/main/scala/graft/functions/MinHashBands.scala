package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** MinHash-LSH band keys of one distinct-token array, row by row: the
  * array's [[MinHashBands.NumBands]] 64-bit band keys, with no explode,
  * shuffle or aggregate before them. Every MinHash path of
  * [[graft.operators.TextDedup]] and [[graft.operators.LshIndex]] bands
  * through this one kernel.
  *
  * The values are bit-identical to the composable Spark SQL formulation
  * (the reference the kernel law in TextDedupSpec checks against):
  *   - per token: `pmod(xxhash64(tok), P31)`;
  *   - per permutation i: `min((permA(i) * h + permB(i)) % P31)` over the
  *     tokens — the signature;
  *   - per band b: `xxhash64(b, cast(slice(sig, b * 8 + 1, 8) as string))`,
  *     which hashes the cast's `"[v1, v2, …]"` text.
  *
  * So band tables stored by earlier builds stay valid. The composable form
  * needs an explode and a NumPerms-column `min` aggregate; 257 output
  * fields exceed `spark.sql.codegen.maxFields` (100), so that aggregate
  * ran outside whole-stage codegen. This expression generates a call into
  * [[MinHashBands.keys]] inside the generated stage.
  *
  * Null input gives null and an empty array gives an empty array: either
  * explodes to no band rows, as a doc with no token never reached the
  * aggregate. Deliberately no SQL function: the engine's own pipelines are
  * its only callers.
  */
case class MinHashBands(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckSuccess
      case t => TypeCheckFailure(s"minhash_bands needs array<string>, got ${t.simpleString}")
    }
  }

  override def nullSafeEval(toks: Any): Any = MinHashBands.keys(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("minhashBands", MinHashBands, MinHashBands.getClass.getName)
    defineCodeGen(ctx, ev, toks => s"$kernel.keys($toks)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {

  /** Fixed permutation family (a_i*h + b_i) mod P31, deterministically
    * generated (LCG, seed 42) so signatures are reproducible run-to-run.
    *
    * Banding at 32 bands × 8 rows: collision S-curve threshold
    * (1/32)^(1/8) ≈ 0.65, miss-prob at s=0.9 is (1-0.9^8)^32 ≈ 1.2e-8.
    * The longer rows-per-band matter on self-similar corpora: with r=4 the
    * threshold sits at 0.42 and a corpus where most pairs are ≥0.5-similar
    * floods candidate generation (measured 8× more raw candidate rows). */
  val NumPerms = 256
  val NumBands = 32
  val RowsPerBand: Int = NumPerms / NumBands
  private val P31 = TextFns.P31
  private val lcg = {
    var state = 42L
    () => { state = (state * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; state }
  }
  val permA: Array[Long] = Array.fill(NumPerms)(lcg() % (P31 - 1) + 1)
  val permB: Array[Long] = Array.fill(NumPerms)(lcg() % P31)

  /** `xxhash64`'s default seed. */
  private val Seed = 42L
  // "[" + RowsPerBand values of at most 10 digits + ", " separators + "]"
  private val MaxBandText = 2 + RowsPerBand * 10 + (RowsPerBand - 1) * 2

  /** The band-key column of a distinct-token array column. */
  def keysOf(toks: Column): Column = {
    import org.apache.spark.sql.classic.GraftLogicalPlanApi.{columnOf, expressionOf}
    columnOf(MinHashBands(expressionOf(toks)))
  }

  /** The NumPerms MinHash values of `toks`; null when it holds no token.
    * A null element hashes like `xxhash64(null)`, i.e. to the seed. */
  private def signature(toks: ArrayData): Array[Long] = {
    val n = toks.numElements()
    if (n == 0) return null
    val sig = Array.fill(NumPerms)(Long.MaxValue)
    var t = 0
    while (t < n) {
      val h = Math.floorMod(
        if (toks.isNullAt(t)) Seed else XXH64.hashUTF8String(toks.getUTF8String(t), Seed), P31)
      var i = 0
      while (i < NumPerms) {
        val v = (permA(i) * h + permB(i)) % P31
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      t += 1
    }
    sig
  }

  /** The NumBands band keys of `toks` (see the class doc). */
  def keys(toks: ArrayData): ArrayData = {
    val sig = signature(toks)
    if (sig == null) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val out = new Array[Long](NumBands)
    val text = new Array[Byte](MaxBandText)
    var b = 0
    while (b < NumBands) {
      var len = 0
      text(len) = '['; len += 1
      var r = 0
      while (r < RowsPerBand) {
        if (r > 0) { text(len) = ','; text(len + 1) = ' '; len += 2 }
        len = writeDigits(sig(b * RowsPerBand + r), text, len)
        r += 1
      }
      text(len) = ']'; len += 1
      out(b) = XXH64.hashUnsafeBytes(text, Platform.BYTE_ARRAY_OFFSET, len,
        XXH64.hashInt(b, Seed))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Writes the decimal digits of `v` (>= 0) at `at`; returns the end. */
  private def writeDigits(v: Long, buf: Array[Byte], at: Int): Int = {
    var digits = 1
    var p = 10L
    while (digits < 19 && v >= p) { digits += 1; p *= 10 }
    var x = v
    var i = at + digits - 1
    while (i >= at) { buf(i) = ('0' + (x % 10)).toByte; x /= 10; i -= 1 }
    at + digits
  }
}
