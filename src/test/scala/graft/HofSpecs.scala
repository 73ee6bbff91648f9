package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function compositions that the native
  * expressions replaced — the executable specs the equivalence tests in
  * ExtensionsSpec and DedupSimilaritySpec compare them against. */
object HofSpecs {

  private val P = 1000000007L // prime modulus for hash-family functions

  /** The interpreted fold [[graft.functions.Fingerprint64]] replaced. */
  def fingerprintHof(tokens: Column): Column =
    aggregate(tokens, lit(0L), (acc, t) => (acc * 31L + t.cast("long")) % P)

  /** The O(H·n)-interpreted-nodes composition
    * [[graft.functions.MinhashSig]] replaced. */
  def minhashSignatureHof(tokens: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(tokens, t =>
        ((h * 2 + 1) * t.cast("long") + (h * h + 7)) % P)))

  /** The O(32·n)-interpreted-nodes composition
    * [[graft.functions.Simhash32]] replaced. */
  def simhash32Hof(tokens: Column): Column = {
    val acc0 = array_repeat(lit(0L), 32)
    val folded = aggregate(tokens, acc0, (acc, t) => {
      val h = pmod(t.cast("long") * 2654435761L, lit(4294967296L))
      transform(acc, (cnt, j) =>
        cnt + when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L))
    })
    aggregate(
      zip_with(folded, sequence(lit(0), lit(31)), (c, j) =>
        when(c > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)),
      lit(0L), (a, b) => a.bitwiseOR(b))
  }

  /** The composition Dedup's signature-estimated Jaccard
    * ([[graft.functions.SlotAgree]]) replaced. */
  def estJaccardHof(a: Column, b: Column, numHashes: Int): Column =
    size(filter(zip_with(a, b, (x, y) =>
      (x === y).cast("int")), v => v === 1)).cast("double") / numHashes
}
