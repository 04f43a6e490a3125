package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis primitives for the documents pipeline: tokenizing,
  * shingling, fingerprinting, quality scoring, token statistics.
  *
  * Pure `org.apache.spark.sql.functions` compositions — codegen'd
  * where Spark supports it, no UDFs — so filters composed of these
  * still push down and the whole projection stays in one
  * WholeStageCodegen span.
  *
  * Reference semantics covered here: word/sentence counting
  * (`process_all.py:358-363`), punctuation strip
  * (`process_all.py:281-283`), min-words filter (`process_all.py:299`).
  */
object TextFunctions {

  /** Whitespace tokenizer — documents in the test corpus are single-
    * space separated; `split` on a literal space matches the oracle's
    * `string_split(text, ' ')` exactly (no empty-trailing surprises
    * on this corpus). */
  def tokens(c: Column): Column = split(c, " ")

  /** Token count (reference word_count, `process_all.py:358`). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: tokens split further on letter/digit
    * boundaries and chunks of at most 4 chars — a deterministic,
    * engine-portable approximation of a subword tokenizer's token
    * count (ceil(len/4) per word piece). */
  def subwordCount(c: Column): Column =
    aggregate(
      tokens(c),
      lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0d)).cast("long"))

  /** Word n-gram shingles joined with a single space. */
  def shingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - lit(n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** Canonical content fingerprint: md5 over the sorted distinct
    * token set. Invariant under word order and duplication — catches
    * shuffled near-duplicates exactly. */
  def canonicalFingerprint(c: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(c))), " "))

  /** Rolling min-hash document fingerprint: minimum 60-bit hash over
    * word 3-gram shingles (winnowing-style witness of content). One
    * codegen'd pass ([[GraftFunctions.min_shingle_hash]]) — the HOF
    * form recomputed an interpreted md5 per shingle. */
  def minShingleHash(c: Column, n: Int = 3): Column =
    GraftFunctions.min_shingle_hash(tokens(c), n)

  /** Small fixed English stopword set used by the quality scorer. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "in", "and", "is", "on", "for")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    size(filter(toks, t => t.isin(Stopwords: _*))) / size(toks).cast("double")
  }

  /** Fraction of distinct tokens (lexical diversity). */
  def distinctRatio(c: Column): Column =
    size(array_distinct(tokens(c))) / size(tokens(c)).cast("double")

  /** Composite document quality score in [0,1]:
    * 0.4 * min(1, tokens/100) + 0.3 * distinct ratio + 0.3 * stopword hit.
    * Mirrors the reference's length/stopword-style gates
    * (`process_all.py:299`, `post_process.py:332-347`) generalized to
    * a continuous score.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(lit(1.0d), tokenCount(c) / lit(100.0d))
    lit(0.4d) * lenScore + lit(0.3d) * distinctRatio(c) + lit(0.3d) * stopwordRatio(c)
  }

  /** Strip ASCII punctuation (reference F8, `process_all.py:281-283`). */
  def stripPunct(c: Column): Column =
    translate(c, "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~", "")
}
