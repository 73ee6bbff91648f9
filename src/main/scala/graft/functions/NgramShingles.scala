package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression: sorted-distinct packed n-gram shingles.
  *
  * `NgramShingles(tokens, n)` slides an n-window over `array<int>` and
  * packs each window into an int64 with the base-1031 left fold
  * (`((t0·1031 + t1)·1031 + t2)...`, exact for token ids < 1031,
  * wrap-around collision-hashed above), then returns the SORTED DISTINCT
  * shingle set — the exact input shape `IntersectCount`'s merge-count
  * needs. Replaces a `array_sort(array_distinct(transform(sequence(...),
  * chained element_at)))` composition that evaluated O(n·ngram)
  * interpreted nodes per document plus three intermediate array passes.
  *
  * Edge semantics match the HOF form: a window containing a NULL token
  * packs to NULL, and the distinct set carries at most one NULL, sorted
  * last (array_sort's null placement); fewer than n tokens -> empty set
  * (the HOF required a size guard; this is total). NULL input -> NULL.
  */
case class NgramShingles(child: Expression, n: Int) extends UnaryKernel[ArrayData] {
  require(n > 0, "n must be positive")

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_shingles"

  /** Sorted distinct packed windows, one trailing null if any window
    * contained a null token. */
  def compute(arr: ArrayData): GenericArrayData = {
    val vals = NgramShingles.sortedWindows(arr, n)
    val anyNull = vals.length < arr.numElements() - n + 1
    var d = 0
    var k = 0
    while (k < vals.length) {
      if (d == 0 || vals(k) != vals(d - 1)) { vals(d) = vals(k); d += 1 }
      k += 1
    }
    val out = new Array[Any](d + (if (anyNull) 1 else 0))
    var o = 0
    while (o < d) { out(o) = vals(o); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramShingles =
    copy(child = newChild)
}

/** Native Catalyst expression: within-document n-gram repetition stats —
  * the Gopher-class repetition quality signals
  * (`struct<total:int, distinct:int, top:int>` = window count, distinct
  * packed shingles, highest single-shingle multiplicity). Downstream:
  * duplicate-n-gram fraction `1 - distinct/total` and top-n-gram share
  * `top/total`, both map-only column math. One sort of the document's
  * own windows per row — no explode, no shuffle (the groupBy(doc,
  * shingle) formulation pays two exchanges for a per-document scalar).
  * Windows containing a NULL token are excluded from all three counts;
  * fewer than n tokens -> (0, 0, 0); NULL input -> NULL.
  */
case class NgramRepetitionStats(child: Expression, n: Int)
    extends UnaryKernel[ArrayData] {
  require(n > 0, "n must be positive")

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = StructType(Seq(
    StructField("total", IntegerType, nullable = false),
    StructField("distinct", IntegerType, nullable = false),
    StructField("top", IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_repetition"

  /** (total non-null windows, distinct, top multiplicity). */
  def compute(arr: ArrayData): GenericInternalRow = {
    val vals = NgramShingles.sortedWindows(arr, n)
    var distinct = 0
    var top = 0
    var run = 0
    var k = 0
    while (k < vals.length) {
      if (k == 0 || vals(k) != vals(k - 1)) { distinct += 1; run = 1 }
      else run += 1
      if (run > top) top = run
      k += 1
    }
    new GenericInternalRow(Array[Any](vals.length, distinct, top))
  }

  override protected def withNewChildInternal(newChild: Expression): NgramRepetitionStats =
    copy(child = newChild)
}

object NgramRepetitionStats {
  /** Column API: ngram_repetition(tokens, n) -> struct(total, distinct, top). */
  def apply(tokens: Column, n: Int): Column =
    Bridge.column(NgramRepetitionStats(Bridge.expression(tokens), n))
}

object NgramShingles {
  final val Base = 1031L

  /** The base-1031 packing of every n-window of `arr` that holds no null
    * token, sorted — shared by both n-gram expressions. Shorter than the
    * window count exactly when some window held a null. */
  private[functions] def sortedWindows(arr: ArrayData, n: Int): Array[Long] = {
    val windows = math.max(arr.numElements() - n + 1, 0)
    val vals = new Array[Long](windows)
    var m = 0
    var i = 0
    while (i < windows) {
      var v = 0L
      var nul = false
      var j = 0
      while (j < n && !nul) {
        if (arr.isNullAt(i + j)) nul = true
        else v = v * Base + arr.getInt(i + j)
        j += 1
      }
      if (!nul) { vals(m) = v; m += 1 }
      i += 1
    }
    val packed = if (m == windows) vals else java.util.Arrays.copyOf(vals, m)
    java.util.Arrays.sort(packed)
    packed
  }

  /** Column API: ngram_shingles(tokens, n) -> sorted distinct array<long>. */
  def apply(tokens: Column, n: Int): Column =
    Bridge.column(NgramShingles(Bridge.expression(tokens), n))
}
