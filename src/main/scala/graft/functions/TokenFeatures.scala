package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression feature extractors over token arrays and raw text —
  * the engine's "plugins" (the reference's extension surface is the Vamp
  * plugin ABI, SURVEY.md §2.9; ours is pure Catalyst expressions, codegen'd
  * and shuffle-free: every function here is a map-only projection).
  */
object TokenFeatures {

  /** n_tok-normalized token histogram (grid-output analog + the S7
    * peak-normalisation analog): array<double>[k], entries sum to 1 for
    * non-empty docs. Hot path uses the native TokenHistogram expression. */
  def histogram(tokens: Column, nTok: Column, k: Int): Column =
    transform(TokenHistogram(tokens, k), c => c.cast("double") / nTok.cast("double"))

  /** Rolling polynomial fingerprint of a token array:
    * fold(acc = (acc * 31 + token) mod P). Order-sensitive document
    * fingerprint; deterministic, SQL-expressible (oracle: list_reduce).
    * Native fused loop ([[Fingerprint64]]). */
  def fingerprint(tokens: Column): Column = Fingerprint64(tokens)

  /** BPE-ish token count: letters runs, digit runs, and single non-space
    * punctuation marks each count as one token — the way a byte-pair
    * pre-tokenizer segments before merging. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Stopword sets per language for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast as literal arrays. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "en", "que", "por", "con"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"))

  /** Per-language stopword hit ratio: fraction of words in the language's
    * stopword set. */
  def stopwordRatio(words: Column, lang: String): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    size(filter(words, w => array_contains(sw, lower(w)))).cast("double") /
      greatest(size(words), lit(1)).cast("double")
  }

  /** Language-ID heuristic: argmax of stopword hit count across languages
    * (n-gram-free variant suited to whitespace text; CJK detected by
    * character-class ratio first). */
  def langId(text: Column): Column = {
    val words = split(text, "\\s+")
    val zhRatio =
      (length(text) - length(regexp_replace(text, "[\\u4e00-\\u9fff]", ""))).cast("double") /
        greatest(length(text), lit(1)).cast("double")
    val scored = stopwords.keys.filter(_ != "zh").toSeq.sorted.map { l =>
      struct(stopwordRatio(words, l).as("score"), lit(l).as("lang"))
    }
    when(zhRatio > 0.2, lit("zh"))
      .otherwise(element_at(array_sort(array(scored: _*),
        (a, b) => when(a("score") > b("score"), -1)
          .when(a("score") < b("score"), 1)
          // total order: ties broken by language name for determinism
          .when(a("lang") < b("lang"), -1)
          .when(a("lang") > b("lang"), 1)
          .otherwise(0)), 1)("lang"))
  }

  /** Quality score in [0,1]: composite of length, punctuation ratio,
    * stopword ratio, mean word length — the usual pre-training text
    * quality heuristics, all codegen'd column math. */
  def qualityScore(text: Column): Column = {
    val words = split(text, "\\s+")
    val nWords = greatest(size(words), lit(1)).cast("double")
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punct =
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
        greatest(length(text), lit(1)).cast("double")
    val punctScore = lit(1.0) - least(punct * 5.0, lit(1.0))
    val swScore = least(stopwordRatio(words, "en") * 4.0, lit(1.0))
    val meanWordLen = length(text).cast("double") / nWords
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    round((lenScore + punctScore + swScore + wordLenScore) / 4.0, 6)
  }

  /** MinHash signature: array<long>[h] where entry i is
    * min over tokens of ((2i+1)·t + (i²+7)) mod P — a standard affine
    * hash family, SQL-expressible for the oracle. Native fused codegen
    * loop ([[MinhashSig]]). */
  def minhashSignature(tokens: Column, numHashes: Int): Column =
    // the HOF form mapped over sequence(H), so a NULL tokens array gave H
    // null ENTRIES (not a null array) — preserved exactly via the coalesce
    coalesce(MinhashSig(tokens, numHashes),
      array_repeat(lit(null).cast("long"), numHashes))

  /** SimHash (32-bit) over token identities with multiplicity: bit j is set
    * when Σ_tokens sign(bit_j(hash(token))) > 0. hash(t) = (t·2654435761)
    * mod 2^32 (Knuth multiplicative). Returns bigint. Native fused codegen
    * loop ([[Simhash32]]). */
  def simhash32(tokens: Column): Column = Simhash32(tokens)

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
