package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** Native C-`%g` significant-digit formatter (P6) — the round-1 sinks
  * used a Scala UDF here, the one UDF left in the repo: a UDF forces
  * encode/decode of every row crossing the sink projection and blocks
  * whole-stage codegen. This expression keeps the formatting inside
  * codegen (one virtual call per value, no row conversion).
  *
  * Semantics are CsvSink.gFormatValue's exactly (shared implementation):
  * Java `%.Ng` with C-style mantissa zero-trimming in both fixed and
  * exponent form, NaN/Inf -> "NaN"/"Inf"/"-Inf". Null in -> null out
  * (the sink wraps with coalesce(..., "") like the old UDF did). */
case class GFormat(child: Expression, digits: Int) extends UnaryKernel[Any] {
  require(digits > 0 && digits <= 17, s"digits out of range: $digits")

  override protected def inputTypes: Seq[DataType] = Seq(FloatType, DoubleType)
  override def dataType: DataType = StringType
  override def prettyName: String = "g_format"

  /** Generated code passes the primitive float/double boxed. */
  def compute(v: Any): Any = {
    val d = v match {
      case f: java.lang.Float => f.doubleValue
      case d: java.lang.Double => d.doubleValue
    }
    UTF8String.fromString(graft.sinks.CsvSink.gFormatValue(d, digits))
  }

  override protected def withNewChildInternal(newChild: Expression): GFormat =
    copy(child = newChild)
}

object GFormat {
  def format(c: Column, digits: Int): Column =
    Bridge.column(GFormat(Bridge.expression(c), digits))
}
