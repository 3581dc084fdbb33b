package graft.transform

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen forms of the dedup and similarity kernels (the former Scala UDFs
  * on the dedup family's hottest scans): the generated code calls the same
  * pure kernels ([[graft.dedup.Dedup.minhashSig]],
  * [[graft.dedup.Dedup.sortedShingles]], [[graft.dedup.Dedup.simhashOf]])
  * directly — identical values to the UDF formulation, but no UDF boxing /
  * encoder round-trip, and the projection stays inside whole-stage codegen
  * alongside the tokenCount/langId/fingerprint expressions it scans with.
  * Array results are built with `UnsafeArrayData.fromPrimitiveArray` from
  * the kernels' `long[]` (a `GenericArrayData` over a `long[]` boxes every
  * element), and the Jaccard merge reads its inputs in place through
  * `ArrayData.getLong`.
  */
case class MinhashSignature(child: Expression, numHashes: Int, shingleK: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.minhash(input.asInstanceOf[UTF8String], numHashes, shingleK, seed)

  // The kernel lives in a STANDALONE object (SignatureKernels): a companion
  // method named `eval` gets NO static forwarder here (the case class
  // inherits eval(InternalRow) from Expression, which suppresses it), so
  // generated Java calling `MinhashSignature.eval` failed Janino
  // compilation and silently fell back to interpreted eval — disabling
  // whole-stage codegen on the dedup hot scan. A plain object always has
  // its static forwarder (verified by the CODEGEN_ONLY test in
  // SignatureExprsSpec).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.transform.SignatureKernels.minhash($c, $numHashes, $shingleK, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {
  /** Runtime kernel (delegates to [[SignatureKernels.minhash]]). */
  def eval(s: UTF8String, numHashes: Int, shingleK: Int, seed: Long): ArrayData =
    SignatureKernels.minhash(s, numHashes, shingleK, seed)

  def column(c: Column, numHashes: Int, shingleK: Int, seed: Long): Column =
    ColumnBridge.column(MinhashSignature(ColumnBridge.expression(c), numHashes, shingleK, seed))
}

/** The distinct k-char shingle hashes of a text, ascending — codegen form
  * of [[graft.dedup.Dedup.sortedShingles]], the set side of Jaccard
  * verification. Null text gives the empty set, never null: a missing
  * text scores 0.0 against any non-empty text, not null.
  */
case class ShingleSet(child: Expression, shingleK: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_set"

  override def eval(input: InternalRow): Any =
    SignatureKernels.shingleSet(child.eval(input).asInstanceOf[UTF8String], shingleK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.transform.SignatureKernels.shingleSet(${c.isNull} ? null : ${c.value}, $shingleK);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSet {
  def column(c: Column, shingleK: Int): Column =
    ColumnBridge.column(ShingleSet(ColumnBridge.expression(c), shingleK))
}

/** |A∩B| / |A∪B| of two ascending distinct `array<bigint>` sets (as
  * [[ShingleSet]] emits them), by one merge over the arrays in place. Two
  * empty sets score 1.0; null in, null out.
  */
case class SortedJaccard(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.transform.SignatureKernels.sortedJaccard($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}

object SortedJaccard {
  def column(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** Sign-hyperplane LSH band keys over an `array<double>` embedding —
  * codegen form of the last similarity-family Scala UDFs (lshTopK's bucket
  * and embeddingNearDupPairs' banded signature): `bands` keys of
  * `bitsPerBand` sign bits each, from the deterministic splitmix64
  * hyperplane family of [[graft.sim.Similarity.hyperplanes]]. Identical
  * keys to the UDF formulation; no boxing/encoder round-trip, and the
  * banding projection stays inside whole-stage codegen.
  */
case class SignBandKeys(child: Expression, bands: Int, bitsPerBand: Int, dim: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_band_keys"

  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.signBandKeys(input.asInstanceOf[ArrayData], bands, bitsPerBand, dim, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.transform.SignatureKernels.signBandKeys($c, $bands, $bitsPerBand, $dim, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): SignBandKeys =
    copy(child = newChild)
}

object SignBandKeys {
  def column(c: Column, bands: Int, bitsPerBand: Int, dim: Int, seed: Long): Column =
    ColumnBridge.column(SignBandKeys(ColumnBridge.expression(c), bands, bitsPerBand, dim, seed))
}

/** Signature kernels referenced from GENERATED code. Standalone object with
  * no companion class: scalac emits a static forwarder class, so Janino can
  * call `graft.transform.SignatureKernels.minhash(...)` as plain Java.
  */
object SignatureKernels {
  import graft.dedup.Dedup

  def minhash(s: UTF8String, numHashes: Int, shingleK: Int, seed: Long): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Dedup.minhashSig(Dedup.windowHashes(s.toString, shingleK), numHashes, seed))

  def shingleSet(s: UTF8String, shingleK: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Dedup.sortedShingles(if (s == null) null else s.toString, shingleK))

  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) 1.0
    else {
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter.toDouble / (na + nb - inter).toDouble
    }
  }

  // deterministic pure constants (splitmix64 expansion) memoized per config
  // so each task computes them once, not once per row
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()
  private def planesFor(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes, dim, seed),
      _ => graft.sim.Similarity.hyperplanes(nPlanes, dim, seed))

  /** Same loop structure (and therefore bit-identical keys) as the former
    * per-band sign UDFs in graft.sim.Similarity.
    */
  def signBandKeys(vec: ArrayData, bands: Int, bitsPerBand: Int, dim: Int, seed: Long): ArrayData = {
    val planes = planesFor(bands * bitsPerBand, dim, seed)
    val v = vec.toDoubleArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < bitsPerBand) {
        val p = planes(b * bitsPerBand + i)
        var s = 0.0
        var j = 0
        val n = math.min(p.length, v.length)
        while (j < n) { s += p(j) * v(j); j += 1 }
        if (s > 0) key |= (1L << i)
        i += 1
      }
      out(b) = key
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** 64-bit SimHash over whitespace tokens — codegen form of
  * [[graft.dedup.Dedup.simhashOf]]. Null in, null out (the callers'
  * quarantine contracts key off text nullability, not a sentinel).
  */
case class Simhash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    graft.dedup.Dedup.simhashOf(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.Dedup.simhashOf($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

object Simhash64 {
  def column(c: Column): Column =
    ColumnBridge.column(Simhash64(ColumnBridge.expression(c)))
}
