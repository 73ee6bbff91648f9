package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The one evaluation form of every graft expression: a plain Scala
  * kernel, `compute`, that interpreted `eval` and generated code both
  * call. Generated code reaches it through `ctx.addReferenceObj` — one
  * call per row inside the whole-stage-codegen loop (CodegenFallback
  * would drop the whole stage out of codegen) — so each algorithm exists
  * once, and an input the optimizer folds through `eval` and the same
  * input read from parquet cannot get different answers.
  *
  * Contract: `compute` sees non-null inputs only (NULL in -> NULL out);
  * a null return is a NULL result, so a kernel that can return null
  * belongs to a `nullable` expression. Every child must be one of
  * `inputTypes`, compared ignoring array element nullability. */
sealed trait NativeKernel extends Expression {
  protected def inputTypes: Seq[DataType]

  override def checkInputDataTypes(): TypeCheckResult = {
    def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => accepts(w, g)
      case _ => want == got
    }
    if (children.forall(c => inputTypes.exists(accepts(_, c.dataType))))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs ${inputTypes.map(_.catalogString).mkString(" or ")}, " +
        s"got ${children.map(_.dataType.catalogString).mkString(" x ")}")
  }

  /** Java statements: `compute(args)` into `ev`. The reference is cast to
    * the concrete class, so the call binds to its typed `compute`. */
  protected def callCompute(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val self = ctx.addReferenceObj("kernel", this)
    val boxed = CodeGenerator.boxedType(dataType)
    val call = s"($boxed) $self.compute(${args.mkString(", ")})"
    if (!nullable) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("r")
      s"""$boxed $r = $call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
    }
  }
}

trait UnaryKernel[A] extends UnaryExpression with NativeKernel {
  def compute(input: A): Any

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[A])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => callCompute(ctx, ev, c))
}

trait BinaryKernel[A, B] extends BinaryExpression with NativeKernel {
  def compute(left: A, right: B): Any

  override def nullSafeEval(left: Any, right: Any): Any =
    compute(left.asInstanceOf[A], right.asInstanceOf[B])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => callCompute(ctx, ev, l, r))
}
