package graft.transform

import graft.SparkSuite
import graft.dedup.Dedup
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** The codegen signature expressions must be hash-identical to the pure
  * Scala kernels they replaced (the former UDF formulation), in both
  * codegen and interpreted eval, with null-in → null-out.
  */
class SignatureExprsSpec extends SparkSuite {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "The quick  brown fox!",
    "",
    "   ",
    "ab", // shorter than shingleK
    "emoji 🌍 text with 🌍 supplementary planes",
    "der die das und ist nicht mit ein eine zu"
  )

  test("minhash expression matches the Scala kernel; null -> null") {
    val df = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")
    val out = df.withColumn("mh", MinhashSignature.column(col("text"), 16, 5, 42L))
      .select("id", "text", "mh").collect()
    out.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2), "null text must give a null signature")
      else {
        val expected = Dedup.minhashSig(Dedup.sortedShingles(r.getString(1), 5), 16, 42L).toSeq
        assert(r.getSeq[Long](2) == expected, s"row ${r.getLong(0)}")
      }
    }
    // interpreted (non-codegen) eval agrees
    val expr = MinhashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(texts.head),
        org.apache.spark.sql.types.StringType), 16, 5, 42L)
    val interp = expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(interp.toLongArray().toSeq ==
      Dedup.minhashSig(Dedup.sortedShingles(texts.head, 5), 16, 42L).toSeq)
  }

  test("generated code for the signature expressions COMPILES (no silent interpreted fallback)") {
    // Spark catches Janino failures inside whole-stage codegen and silently
    // falls back to interpreted eval — which once hid a missing static
    // forwarder (the generated call `MinhashSignature.eval` does not exist
    // on the case class because Expression.eval(InternalRow) suppresses the
    // companion forwarder). Generating the projection DIRECTLY makes a
    // compile failure throw instead of degrading.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val child = BoundReference(0, StringType, nullable = true)
    val proj = GenerateUnsafeProjection.generate(
      Seq(MinhashSignature(child, 16, 5, 42L), Simhash64(child)))
    val out = proj(InternalRow(UTF8String.fromString(texts.head)))
    assert(out.getArray(0).toLongArray().toSeq ==
      Dedup.minhashSig(Dedup.sortedShingles(texts.head, 5), 16, 42L).toSeq)
    assert(out.getLong(1) == Dedup.simhashOf(texts.head))

    // the sign-bucket LSH expression compiles and matches its Scala kernel
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val vec = Array(0.3, -1.2, 0.7, 2.1)
    val vchild = BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true)
    val vproj = GenerateUnsafeProjection.generate(Seq(SignBandKeys(vchild, 2, 4, vec.length, 42L)))
    val keys = vproj(InternalRow(new GenericArrayData(vec))).getArray(0).toLongArray()
    val planes = graft.sim.Similarity.hyperplanes(8, vec.length, 42L)
    val expected = Array.tabulate(2) { b =>
      var key = 0L
      (0 until 4).foreach { i =>
        val p = planes(b * 4 + i)
        val s = p.indices.map(j => p(j) * vec(j)).sum
        if (s > 0) key |= (1L << i)
      }
      key
    }
    assert(keys.toSeq == expected.toSeq)

    // the verification kernels: shingle sets and their Jaccard, generated
    // in one projection over two text columns
    import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
    val childB = BoundReference(1, StringType, nullable = true)
    val jproj = GenerateUnsafeProjection.generate(Seq(
      ShingleSet(child, 5), ShingleSet(childB, 5),
      Round(SortedJaccard(ShingleSet(child, 5), ShingleSet(childB, 5)), Literal(6))))
    for (a <- texts :+ null; b <- texts :+ null) {
      val row = InternalRow(UTF8String.fromString(a), UTF8String.fromString(b))
      val got = jproj(row)
      val (sa, sb) = (Dedup.sortedShingles(a, 5), Dedup.sortedShingles(b, 5))
      assert(got.getArray(0).toLongArray().toSeq == sa.toSeq, s"text=$a")
      assert(got.getArray(1).toLongArray().toSeq == sb.toSeq, s"text=$b")
      val want = BigDecimal(jaccardOf(sa, sb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.getDouble(2) == want, s"a=$a b=$b")
      // interpreted eval agrees with the generated code
      assert(ShingleSet(child, 5).eval(row).asInstanceOf[ArrayData].toLongArray().toSeq == sa.toSeq)
      assert(SortedJaccard(ShingleSet(child, 5), ShingleSet(childB, 5)).eval(row) == jaccardOf(sa, sb))
    }
  }

  /** |A∩B| / |A∪B| over Scala sets; 1.0 for two empty sets. */
  private def jaccardOf(a: Array[Long], b: Array[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a.toSet & b.toSet).size.toDouble / (a.toSet | b.toSet).size

  test("shingle set and sorted Jaccard edge cases: null text, empty sets, null arrays") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    val text = BoundReference(0, StringType, nullable = true)
    val empty = Literal.create(Array.emptyLongArray, ArrayType(LongType, containsNull = false))
    val some = Literal.create(Dedup.sortedShingles(texts.head, 5), ArrayType(LongType, containsNull = false))
    val nullSet = Literal.create(null, ArrayType(LongType, containsNull = false))
    val exprs = Seq(ShingleSet(text, 5), SortedJaccard(empty, empty), SortedJaccard(empty, some),
      SortedJaccard(some, empty), SortedJaccard(some, some), SortedJaccard(some, nullSet))
    val gen = GenerateUnsafeProjection.generate(exprs)(InternalRow.fromSeq(Seq(null)))
    // null text → the empty set, never null
    assert(!ShingleSet(text, 5).nullable)
    assert(!gen.isNullAt(0) && gen.getArray(0).numElements() == 0)
    assert(ShingleSet(text, 5).eval(InternalRow.fromSeq(Seq(null))).asInstanceOf[ArrayData].numElements() == 0)
    val want = Seq(1.0, 0.0, 0.0, 1.0)
    assert((1 to 4).map(gen.getDouble) == want)
    assert(exprs.slice(1, 5).map(_.eval(null)) == want)
    // a null set in gives null out
    assert(gen.isNullAt(5) && exprs(5).eval(null) == null)
  }

  test("simhash expression matches the Scala kernel; null -> null") {
    val df = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")
    val out = df.withColumn("sh", Simhash64.column(col("text")))
      .select("id", "text", "sh").collect()
    out.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2))
      else assert(r.getLong(2) == Dedup.simhashOf(r.getString(1)), s"row ${r.getLong(0)}")
    }
  }
}
