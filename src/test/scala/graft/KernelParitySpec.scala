package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import graft.functions._

/** Every native expression gives the same answer interpreted (`eval`, the
  * path constant folding and local relations take) and compiled (the
  * generated code every scan-backed query runs). Each expression is
  * checked twice: over a nullable child holding arrays with NULL
  * elements, and over a non-nullable, null-free child, which compiles
  * the kernel call without a null check. */
class KernelParitySpec extends AnyFunSuite {

  private def arr(xs: Any*) = new GenericArrayData(xs.toArray)

  private def nullFree(v: Any): Boolean = v match {
    case null => false
    case a: GenericArrayData => a.array.forall(_ != null)
    case _ => true
  }

  /** Assert compiled == interpreted for `e` on every row. */
  private def assertParity(e: Expression, input: Seq[InternalRow]): Unit = {
    val compiled = GenerateUnsafeProjection.generate(Seq(e))
    def scala(v: Any) = CatalystTypeConverters.convertToScala(v, e.dataType)
    input.foreach { row =>
      val out = compiled(row)
      val got = if (out.isNullAt(0)) null else scala(out.get(0, e.dataType))
      assert(got == scala(e.eval(row)), s"$e on ${row.toSeq(e.children.map(_.dataType))}")
    }
  }

  /** `build` over `arity` children of type `t`: one row per value, or
    * per pair of values. */
  private def check(t: DataType, values: Seq[Any], arity: Int)(
      build: Seq[Expression] => Expression): Unit = {
    val inputs = if (arity == 1) values.map(Seq(_))
      else for (a <- values; b <- values) yield Seq(a, b)
    def run(t: DataType, nullable: Boolean, in: Seq[Seq[Any]]): Unit =
      assertParity(build((0 until arity).map(BoundReference(_, t, nullable))),
        in.map(v => new GenericInternalRow(v.toArray)))
    run(t, nullable = true, inputs)
    val strict = t match {
      case ArrayType(et, _) => ArrayType(et, containsNull = false)
      case other => other
    }
    run(strict, nullable = false, inputs.filter(_.forall(nullFree)))
  }

  // a null array, a null element, empty, shorter than any frame/window,
  // and extreme or negative tokens
  private val tokens = Seq(null, arr(1, null, 3, 4), arr(), arr(5, 6, 7),
    arr(3, 1, 4, 1, 5, 9, 2, 6, 5, 3),
    arr(Int.MaxValue, -7, Int.MinValue, 0, 42, -1, Int.MaxValue, 9))
  private val intArrays = ArrayType(IntegerType)

  test("token-array kernels: eval == generated code") {
    val cre = Seq(Seq(1.0, 1.0, 1.0, 1.0), Seq(1.0, 0.0, -1.0, 0.0),
      Seq(1.0, -1.0, 1.0, -1.0))
    val cim = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(0.0, -1.0, 0.0, 1.0),
      Seq(0.0, 0.0, 0.0, 0.0))
    val kernels: Seq[Expression => Expression] = Seq(
      FrameAgg(_, 2, 4, "mean"),
      FrameAgg(_, 2, 4, "energy", Some(Seq(0.5, 1.0, 1.0, 0.5))),
      FrameSpectrum(_, 2, 4, cre, cim),
      TokenHistogram(_, 4),
      TokenHistogram(_, 6),
      MinhashSig(_, 8),
      Simhash32(_),
      Fingerprint64(_),
      NgramShingles(_, 3),
      NgramRepetitionStats(_, 2))
    kernels.foreach(k => check(intArrays, tokens, 1)(c => k(c.head)))
  }

  test("signature and vector kernels: eval == generated code") {
    val longs = Seq(null, arr(1L, null), arr(), arr(1L, 3L, 5L), arr(3L, 4L, 5L),
      arr(Long.MinValue, -1L, 0L, Long.MaxValue))
    check(ArrayType(LongType), longs, 2)(c => IntersectCount(c(0), c(1)))
    check(ArrayType(LongType), longs, 2)(c => SlotAgree(c(0), c(1)))
    val vectors = Seq(null, arr(1.0, null, 0.5, 0.2), arr(), arr(1.0, 0.0),
      arr(1.0, 0.0, 0.5, 0.2), arr(-3.5, 1e300, -0.0, 2.0))
    check(ArrayType(DoubleType), vectors, 2)(c => VecDot(c(0), c(1)))
    val planes = Seq(Seq(1.0, -1.0, 0.5, 0.0), Seq(-0.2, 0.3, -0.4, 0.5),
      Seq(0.0, 0.0, 0.0, -1.0))
    check(ArrayType(DoubleType), vectors, 1)(c => HyperplaneSig(c.head, planes))
  }

  test("g_format: eval == generated code for float and double") {
    check(DoubleType, Seq(null, 1.5, -0.0, 1e7, 123456.789, Double.NaN,
      Double.NegativeInfinity, 4.9e-324), 1)(c => GFormat(c.head, 6))
    check(FloatType, Seq(null, 1.5f, 0.1f, 3.4e38f, Float.NaN), 1)(c =>
      GFormat(c.head, 9))
  }
}
