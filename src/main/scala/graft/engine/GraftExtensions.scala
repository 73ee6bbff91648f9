package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.{FrameAgg, GFormat, IntersectCount, TokenHistogram, VecDot}

/** The engine's SparkSessionExtensions: the canonical Spark integration
  * point (`spark.sql.extensions=graft.engine.GraftExtensions`, or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`).
  *
  * Injects:
  *   - the as-of planner strategy (graft.plans.AsOfJoinStrategy), so
  *     AsOfJoinNode lowers to the single-pass sort-merge-carry exec;
  *   - a SQL binding for every native expression in graft.functions,
  *     making them usable from `spark.sql(...)` (the reference's
  *     plugin-registry analog for SQL users): the 14 names in
  *     [[GraftExtensions.functions]] (FrameAgg backs both frame_energy
  *     and frame_mean).
  *
  * `GraftExtensions.register(spark)` applies the same set to an ALREADY
  * RUNNING session (extensions are otherwise builder-time only). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((name, info, builder))
    }
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other if other.foldable => other.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case x => throw new IllegalArgumentException(s"$what must be int, got $x")
    }
    case _ => throw new IllegalArgumentException(s"$what must be a literal int")
  }

  /** One registry entry; `build` sees exactly `arity` arguments. */
  private def fn(name: String, arity: Int, usage: String)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", name, usage),
      (args: Seq[Expression]) =>
        if (args.length == arity) build(args)
        else throw new IllegalArgumentException(
          s"$name takes $arity argument${if (arity == 1) "" else "s"}, " +
            s"got ${args.length}"))

  /** SQL-surface coercion (the built-ins get this via private
    * ImplicitCastInputTypes): cast e.g. array<decimal> literals to the
    * expected element type so `vec_dot(array(1.0, 2.0), ...)` just works. */
  private def asArrayOf(e: Expression, elem: DataType): Expression =
    e.dataType match {
      case ArrayType(`elem`, _) => e
      case ArrayType(_, _) => Cast(e, ArrayType(elem))
      case _ => e // leave as-is; checkInputDataTypes reports it
    }

  /** Scalar numeric coercion: SQL literals like 1.5 are DECIMAL — cast
    * any non-double numeric input so `g_format(1.5, 6)` just works. */
  private def asDouble(e: Expression): Expression =
    e.dataType match {
      case DoubleType => e
      case _: org.apache.spark.sql.types.NumericType => Cast(e, DoubleType)
      case _ => e
    }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("vec_dot", 2, "vec_dot(a, b) - dot product of two array<double>") {
      case Seq(a, b) => VecDot(asArrayOf(a, DoubleType), asArrayOf(b, DoubleType))
    },
    fn("intersect_count", 2,
      "intersect_count(a, b) - common-element count of sorted distinct array<bigint>") {
      case Seq(a, b) =>
        IntersectCount(asArrayOf(a, LongType), asArrayOf(b, LongType))
    },
    fn("frame_energy", 3,
      "frame_energy(tokens, step, block) - per-frame mean square over array<int>") {
      case Seq(t, s, b) =>
        FrameAgg(asArrayOf(t, IntegerType),
          intArg(s, "step"), intArg(b, "block"), "energy")
    },
    fn("frame_mean", 3,
      "frame_mean(tokens, step, block) - per-frame mean over array<int>") {
      case Seq(t, s, b) =>
        FrameAgg(asArrayOf(t, IntegerType),
          intArg(s, "step"), intArg(b, "block"), "mean")
    },
    fn("frame_spectrum", 4,
      "frame_spectrum(tokens, step, block, window) - per-frame tapered " +
        "DFT magnitude spectra (block/2+1 bins) over array<int>") {
      case Seq(t, s, b, w) =>
        val block = intArg(b, "block")
        val shape = graft.model.WindowShape.fromName(w match {
          case Literal(v, StringType) => v.toString
          case other if other.foldable => String.valueOf(other.eval(null))
          case _ => throw new IllegalArgumentException(
            "window must be a literal string")
        })
        val (cre, cim) = SpectrumExtractor.dftCoefficients(shape, block)
        graft.functions.FrameSpectrum(asArrayOf(t, IntegerType),
          intArg(s, "step"), block, cre, cim)
    },
    fn("token_histogram", 2,
      "token_histogram(tokens, k) - per-bucket counts (token mod k) over " +
        "array<int>; NULL if any token is NULL") {
      case Seq(t, k) => TokenHistogram(asArrayOf(t, IntegerType), intArg(k, "k"))
    },
    fn("hyperplane_sig", 3,
      "hyperplane_sig(v, dim, nPlanes) - LSH sign-bit bucket of array<double>") {
      case Seq(v, d, p) =>
        graft.functions.HyperplaneSig(asArrayOf(v, DoubleType),
          graft.operators.Similarity.planeMatrix(intArg(d, "dim"), intArg(p, "nPlanes")))
    },
    fn("minhash_sig", 2,
      "minhash_sig(tokens, h) - minhash signature (shared affine hash " +
        "family) over array<int>") {
      case Seq(t, h) =>
        graft.functions.MinhashSig(asArrayOf(t, IntegerType), intArg(h, "h"))
    },
    fn("simhash32", 1,
      "simhash32(tokens) - 32-bit simhash (Knuth multiplicative family) " +
        "over array<int>. NULL tokens are SKIPPED (they contribute to no " +
        "bit); the repo's own tables carry containsNull=false arrays, but " +
        "external data with null elements hashes as if those elements " +
        "were absent") {
      case Seq(t) => graft.functions.Simhash32(asArrayOf(t, IntegerType))
    },
    fn("ngram_shingles", 2,
      "ngram_shingles(tokens, n) - sorted distinct base-1031-packed " +
        "n-gram shingle ids over array<int>") {
      case Seq(t, n) =>
        graft.functions.NgramShingles(asArrayOf(t, IntegerType), intArg(n, "n"))
    },
    fn("ngram_repetition", 2,
      "ngram_repetition(tokens, n) - struct(total, distinct, top) window " +
        "counts for repetition quality signals over array<int>") {
      case Seq(t, n) =>
        graft.functions.NgramRepetitionStats(asArrayOf(t, IntegerType),
          intArg(n, "n"))
    },
    fn("slot_agree", 2,
      "slot_agree(a, b) - count of positions where two array<bigint> " +
        "signatures agree") {
      case Seq(a, b) =>
        graft.functions.SlotAgree(asArrayOf(a, LongType), asArrayOf(b, LongType))
    },
    fn("fingerprint64", 1,
      "fingerprint64(tokens) - rolling polynomial document fingerprint " +
        "over array<int>") {
      case Seq(t) => graft.functions.Fingerprint64(asArrayOf(t, IntegerType))
    },
    fn("g_format", 2,
      "g_format(v, digits) - C %g significant-digit formatting of float/double") {
      case Seq(v, d) => GFormat(asDouble(v), intArg(d, "digits"))
    })

  /** Apply strategy + SQL functions to a live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    graft.plans.AsOfNative.install(spark)
    functions.foreach { case (name, info, builder) =>
      Bridge.registerFunction(spark, name, info, builder)
    }
  }
}
