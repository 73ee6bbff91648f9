package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression: rolling polynomial document fingerprint,
  * fold(acc = (acc·31 + token) mod 1000000007) over `array<int>` — the
  * order-sensitive per-document hash (q19), shared with the DuckDB
  * oracle's list_reduce. Replaces the interpreted `aggregate` HOF
  * (O(n) Catalyst nodes per document) with a fused loop in whole-stage
  * codegen.
  *
  * Matches the HOF exactly: a NULL token element poisons the fold to
  * NULL (acc·31 + NULL = NULL, and every later step keeps it NULL);
  * empty array -> 0; NULL input -> NULL. Java `%` on a negative token
  * matches Spark's Remainder (sign of dividend) — acc stays in
  * [0, P) for non-negative tokens either way.
  */
case class Fingerprint64(child: Expression) extends UnaryKernel[ArrayData] {
  import Fingerprint64._

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fingerprint64"

  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null // NULL element poisons the fold
      acc = (acc * Base + arr.getInt(i)) % P
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 =
    copy(child = newChild)
}

object Fingerprint64 {
  final val P = 1000000007L
  final val Base = 31L

  /** Column API: fingerprint64(tokens) -> bigint. */
  def apply(tokens: Column): Column =
    Bridge.column(Fingerprint64(Bridge.expression(tokens)))
}
