package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for semantics Spark's built-ins lack.
  * All scalar string expressions are codegen'd (static calls into
  * [[StringOps]]) so they stay inside WholeStageCodegen spans and
  * never break a fused scan→project→filter pipeline.
  */

/** De-accent slug (reference F1 `__init__.py:10-29`). */
case class DeaccentSlug(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(StringOps.slugify(v.asInstanceOf[UTF8String].toString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.StringOps.slugify($c.toString()))")

  override protected def withNewChildInternal(c: Expression): DeaccentSlug = copy(child = c)
}

/** Character-bigram array (string → array<string>, code-point
  * slicing) in one codegen'd kernel call ([[StringOps.charBigrams]]);
  * empty below two characters. */
case class CharBigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    StringOps.charBigrams(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringOps.charBigrams($c)")

  override protected def withNewChildInternal(c: Expression): CharBigrams = copy(child = c)
}

/** Word uni+bigram term array of a string (string → array<string>):
  * the census-side kernel of the word-n-gram quality classifier —
  * one codegen'd call replacing the interpreted
  * `transform(sequence(...))` HOF that was the q94 fit's hot loop
  * (CodegenFallback re-evaluating the inlined `split` per element —
  * the q59/q77/q99 lesson). Semantics identical to unigrams ++
  * space-joined bigrams under `split(text, ' ')` tokenization. */
case class WordNgramTerms(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    StringOps.wordNgramTerms(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringOps.wordNgramTerms($c)")

  override protected def withNewChildInternal(c: Expression): WordNgramTerms = copy(child = c)
}

/** Familiarity statistics of a string against a plan-time
  * [[CharLmModel]] (string → struct<n_bigrams, familiarity, n_rare>,
  * all long): the model rides the expression into the generated code
  * via `addReferenceObj`, so a batch-fit census scores any frame —
  * including an unbounded STREAM — as a stateless codegen'd
  * projection ([[StringOps.charBigramScore]]). */
case class CharBigramScore(child: Expression, model: CharLmModel) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("familiarity", LongType, nullable = false),
    StructField("n_rare", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    StringOps.charBigramScore(
      v.asInstanceOf[UTF8String], model.utf8Table, model.total, model.rareFactor)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charLmModel", model, classOf[CharLmModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StringOps.charBigramScore($c, $ref.utf8Table(), $ref.total(), $ref.rareFactor())")
  }

  override protected def withNewChildInternal(c: Expression): CharBigramScore = copy(child = c)
}

/** Word-n-gram classifier statistics of a string against a plan-time
  * [[WordLmModel]] (string → struct<n_terms, pos_mass, neg_mass,
  * pred_pos>): the census rides the expression into the generated
  * code via `addReferenceObj` — the [[CharBigramScore]] deployment
  * pattern — so one batch-fit classifier scores any frame, including
  * an unbounded STREAM, as a stateless codegen'd projection
  * ([[StringOps.wordNgramScore]]). */
case class WordNgramScore(child: Expression, model: WordLmModel) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_terms", LongType, nullable = false),
    StructField("pos_mass", LongType, nullable = false),
    StructField("neg_mass", LongType, nullable = false),
    StructField("pred_pos", BooleanType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    StringOps.wordNgramScore(
      v.asInstanceOf[UTF8String], model.utf8Table, model.posTotal, model.negTotal)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordLmModel", model, classOf[WordLmModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StringOps.wordNgramScore($c, $ref.utf8Table(), $ref.posTotal(), $ref.negTotal())")
  }

  override protected def withNewChildInternal(c: Expression): WordNgramScore = copy(child = c)
}

/** DSIR importance score of a token array under a collected
  * [[DsirModel]] (array<string> → struct<n_ngrams, score_q>) — the
  * stateless scoring twin of `Curation.dsirImportance`'s census-join
  * batch plan: same md5 bucket scheme, same fixed-point-log2 terms
  * ([[graft.functions.HashOps.dsirScore]]), so model-scored streams
  * and census-joined batches agree bit-for-bit on the fit corpus. */
case class DsirScore(child: Expression, model: DsirModel) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_ngrams", LongType, nullable = false),
    StructField("score_q", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.dsirScore(v.asInstanceOf[ArrayData], model.n, model.buckets,
      model.ct, model.cr, model.tr, model.tt)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirModel", model, classOf[DsirModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.dsirScore($c, $ref.n(), $ref.buckets(), " +
        s"$ref.ct(), $ref.cr(), $ref.tr(), $ref.tt())")
  }

  override protected def withNewChildInternal(c: Expression): DsirScore = copy(child = c)
}

/** Unicode NFC normalization (string → string) — the first scrub of
  * any crawl pipeline: combining-mark sequences (e.g. decomposed
  * Vietnamese "a" + U+0302 + U+0301) collapse to their canonical
  * composed forms so hashing/dedup/tokenization see one byte
  * representation per logical text. Delegates to `java.text
  * .Normalizer` (Unicode-conformant, as is DuckDB's utf8proc —
  * identical output by the standard, which is what lets q85
  * hash-gate it cross-engine). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      v.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
}

/** BPE subword tokens of a string under a plan-time [[BpeModel]]
  * (string → array<string>): the fitted merge table rides into the
  * generated code via `addReferenceObj` — the [[CharBigramScore]]
  * deployment pattern — so a batch-fit tokenizer segments any frame,
  * including a stream, as a stateless codegen'd projection. */
case class BpeEncode(child: Expression, model: BpeModel) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    model.encodeArrayData(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encodeArrayData($c)")
  }

  override protected def withNewChildInternal(c: Expression): BpeEncode = copy(child = c)
}

/** Tolerant "HH:MM:SS" → seconds (reference F2 `__init__.py:32-73`);
  * null on malformed input like the reference's except→None path. */
case class DurationSeconds(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val r = StringOps.durationSeconds(v.asInstanceOf[UTF8String].toString)
    if (java.lang.Double.isNaN(r)) null else java.lang.Double.valueOf(r)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |double parsed = graft.functions.StringOps.durationSeconds($c.toString());
         |if (Double.isNaN(parsed)) { ${ev.isNull} = true; } else { ${ev.value} = parsed; }
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): DurationSeconds = copy(child = c)
}

/** SimHash of a pre-hashed token array (array<long> → long, 60 bits). */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(StringOps.simhash60(v.asInstanceOf[ArrayData].toLongArray()))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StringOps.simhash60($c.toLongArray())")

  override protected def withNewChildInternal(c: Expression): SimHash60 = copy(child = c)
}

/** MinHash signature of a token array (array<string> → array<long>,
  * k minima in one pass, one md5 per token — see [[HashOps.minhash]]). */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.minhash(v.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.HashOps.minhash($c, $k);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** 60-bit md5 hash (string → long): top 60 bits of the digest, equal
  * to parsing the first 15 hex chars — ONE MessageDigest call
  * ([[HashOps.h60]]) replacing the md5→hex→conv(16,10) column
  * pipeline (the CMS-kernel lesson applied to the house hash
  * itself; values bit-identical, DuckDB replays
  * `('0x' || substr(md5(x), 1, 15))::BIGINT`). Foldable on literal
  * input so plan-time constants (hyperplane seeds, salts) still
  * constant-fold. */
case class H60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashOps.h60(v.asInstanceOf[UTF8String].getBytes))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.h60($c.getBytes())")

  override protected def withNewChildInternal(c: Expression): H60 = copy(child = c)
}

/** 28-bit md5 hash (string → long): top 28 bits of the digest —
  * kernel twin of [[H60]] ([[HashOps.h28]]). */
case class H28(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashOps.h28(v.asInstanceOf[UTF8String].getBytes))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.h28($c.getBytes())")

  override protected def withNewChildInternal(c: Expression): H28 = copy(child = c)
}

/** Count-min bucket per depth row (string → array<long>, one md5 for
  * the first four rows, salted digests beyond — see
  * [[HashOps.cmsBuckets]]); index = depth row, value = bucket. */
case class CmsBucketArray(child: Expression, depth: Int, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.cmsBuckets(v.asInstanceOf[UTF8String], depth, width)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.cmsBuckets($c, $depth, $width)")

  override protected def withNewChildInternal(c: Expression): CmsBucketArray =
    copy(child = c)
}

/** SimHash60 of a distinct-token array (array<string> → long) in one
  * codegen'd pass ([[HashOps.simhash60Tokens]]). */
case class SimHashTokens60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashOps.simhash60Tokens(v.asInstanceOf[ArrayData]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simhash60Tokens($c)")

  override protected def withNewChildInternal(c: Expression): SimHashTokens60 = copy(child = c)
}

/** Crawl-frontier URL canonicalization
  * ([[StringOps.canonicalUrl]]): fragment/default-port/trailing-slash
  * strip, lowercased scheme://host, byte-order-sorted query params. */
case class CanonicalUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(StringOps.canonicalUrl(v.asInstanceOf[UTF8String].toString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.StringOps.canonicalUrl($c.toString()))")

  override protected def withNewChildInternal(c: Expression): CanonicalUrl = copy(child = c)
}

/** Count of the most frequent word n-gram of a token array, n-grams
  * identified by their 60-bit md5 class ([[HashOps.topShingleRun]]);
  * 0 when fewer than n tokens. */
case class TopShingleRun(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashOps.topShingleRun(v.asInstanceOf[ArrayData], n))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.topShingleRun($c, $n)")

  override protected def withNewChildInternal(c: Expression): TopShingleRun = copy(child = c)
}

/** Minimum 60-bit md5 hash over word n-gram shingles of a token
  * array ([[HashOps.minShingleHash]]); null when fewer than n tokens. */
case class MinShingleHash(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.minShingleHash(v.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Long msh = graft.functions.HashOps.minShingleHash($c, $n);
         |if (msh == null) { ${ev.isNull} = true; } else { ${ev.value} = msh.longValue(); }
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): MinShingleHash = copy(child = c)
}

/** Word n-gram shingles of a token array as 15-hex md5 tokens
  * ([[HashOps.shingleHexTokens]]); empty array below n tokens. */
case class ShingleHexTokens(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.shingleHexTokens(v.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.shingleHexTokens($c, $n)")

  override protected def withNewChildInternal(c: Expression): ShingleHexTokens = copy(child = c)
}

/** Hashed-n-gram bucket ids (h60 mod buckets) in one kernel call —
  * the [[ShingleHexTokens]]→conv→pmod chain fused
  * ([[HashOps.shingleBucketTokens]]). */
case class ShingleBucketTokens(child: Expression, n: Int, buckets: Int)
    extends UnaryExpression {
  // buckets >= 1 is what makes the kernel's `h % buckets` equal the
  // documented conv/pmod chain (h60 is nonnegative): b = 0 divides by
  // zero per row, b < 0 diverges. The SQL surface reaches this
  // constructor too, so the guard covers both call paths.
  require(n >= 1, s"shingle width must be >= 1, got $n")
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.shingleBucketTokens(v.asInstanceOf[ArrayData], n, buckets)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.shingleBucketTokens($c, $n, $buckets)")

  override protected def withNewChildInternal(c: Expression): ShingleBucketTokens = copy(child = c)
}

/** A collected evaluation-set shingle table (15-hex md5 forms) — the
  * deployable artifact of [[graft.operators.Curation
  * .collectEvalShingles]], carried into generated code the way
  * [[CharLmModel]] is. Eval sets are benchmark-sized, so the table is
  * bounded by construction. */
final case class ShingleSetModel(n: Int, hexes: Array[String]) extends Serializable {
  @transient lazy val hexSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](hexes.length * 2)
    hexes.foreach(s.add)
    s
  }
}

/** A fitted Bloom filter (bitset + hash count) — the broadcast
  * membership sketch completing the family (CMS counts, HLL
  * cardinality, KMV samples, Bloom MEMBERSHIP). `numBits` and `k`
  * are plan-time constants; `words` is the packed bitset
  * (`numBits/64` longs). Fit collects the FILTER, never the keys:
  * the driver read is bounded by `numBits/64` words regardless of
  * corpus size ([[graft.operators.Sketches.fitBloom]]), which is
  * what makes this the standard 100-TB semi-join accelerator — a
  * few MB of bitset broadcast where the exact key set would be GBs.
  * Hash scheme is the engine-portable md5 form ([[HashOps
  * .bloomPos]]), so an oracle replays exact membership semantics,
  * false positives included. */
final case class BloomModel(numBits: Int, k: Int, words: Array[Long]) extends Serializable {
  require(numBits > 0 && numBits % 64 == 0, "numBits must be a positive multiple of 64")
  require(k >= 1 && k <= 64, "k must be in 1..64")
  require(words.length == numBits / 64, "bitset length mismatch")
}

/** Bloom membership probe of a string key against a plan-time
  * [[BloomModel]] (string → struct<n_hit, maybe>): stateless,
  * codegen'd, streaming-deployable — the [[CharBigramScore]]
  * deployment pattern for the membership sketch. `maybe = false` is
  * a PROOF of absence (Bloom has no false negatives); `maybe = true`
  * needs the exact check only where one exists downstream. */
case class BloomMembership(child: Expression, model: BloomModel) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_hit", LongType, nullable = false),
    StructField("maybe", BooleanType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.bloomHits(v.asInstanceOf[UTF8String], model.k, model.numBits, model.words)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomModel", model, classOf[BloomModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.bloomHits($c, $ref.k(), $ref.numBits(), $ref.words())")
  }

  override protected def withNewChildInternal(c: Expression): BloomMembership = copy(child = c)
}

/** All k Bloom bit positions of a string key (string → array<long>)
  * — the FIT side: explode + per-word `bit_or` aggregation builds
  * the bitset distributively ([[graft.operators.Sketches
  * .fitBloom]]). */
case class BloomPositions(child: Expression, k: Int, numBits: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.bloomPositions(v.asInstanceOf[UTF8String], k, numBits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.bloomPositions($c, $k, $numBits)")

  override protected def withNewChildInternal(c: Expression): BloomPositions = copy(child = c)
}

/** Distinct eval-shingle hit count of a token array against a
  * plan-time [[ShingleSetModel]] (array<string> → long): shingle
  * hashing fused with the membership probe
  * ([[HashOps.evalShingleHits]]), stateless and codegen'd — the
  * streaming-deployable form of benchmark decontamination. */
case class EvalShingleHits(child: Expression, model: ShingleSetModel) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(
      HashOps.evalShingleHits(v.asInstanceOf[ArrayData], model.n, model.hexSet))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleSetModel", model, classOf[ShingleSetModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.evalShingleHits($c, $ref.n(), $ref.hexSet())")
  }

  override protected def withNewChildInternal(c: Expression): EvalShingleHits = copy(child = c)
}

/** Stopword-profile language id of a token array (array<string> →
  * string) in one codegen'd pass ([[LangIdOps.predict]]); replaces an
  * O(langs²)-evaluation `when`-reduce column tree. */
case class LangIdPredict(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    LangIdOps.predict(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangIdOps.predict($c)")

  override protected def withNewChildInternal(c: Expression): LangIdPredict = copy(child = c)
}

/** Intersection size of two sorted string arrays (merge scan — see
  * [[HashOps.sortedIntersectCount]]). Both children must be sorted
  * with `array_sort` (binary UTF8String order). */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashOps.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** BLEU/ROUGE integer components of a (candidate, reference) text
  * pair (string, string → struct<c_len, r_len, m1..r4>) in one
  * codegen'd kernel call ([[StringOps.bleuComponents]]) — the r17
  * port of the q231 scorer off the ScalaUDF boundary: no
  * UTF8String→String converter pass, no Option/case-class encoder,
  * and the token lengths come out of the same single tokenization
  * (the UDF plan re-split each side for `size(split(...))`). Stays
  * inside the WholeStageCodegen span like the classifier scorers. */
case class BleuComponentsExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StructType(
    Seq(StructField("c_len", LongType, nullable = false),
        StructField("r_len", LongType, nullable = false)) ++
      (1 to 4).flatMap(n => Seq(
        StructField(s"m$n", LongType, nullable = false),
        StructField(s"t$n", LongType, nullable = false),
        StructField(s"r$n", LongType, nullable = false))))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    StringOps.bleuComponents(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.StringOps.bleuComponents($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BleuComponentsExpr =
    copy(left = l, right = r)
}

/** Longest common token run of two texts (string, string → int) —
  * the exact per-pair verifier of the suffix-array dedup tier
  * ([[SuffixArrays.lcsTokenRun]]): prefix-doubling suffix array +
  * Kasai LCP over the interned token ids of `a ⧺ sep ⧺ b`, max LCP
  * across halves. One codegen'd kernel call per candidate pair. */
case class LcsTokenRun(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    SuffixArrays.lcsTokenRun(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SuffixArrays.lcsTokenRun($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LcsTokenRun =
    copy(left = l, right = r)
}

/** Self-truncation BLEU components (string → struct<c_len, r_len,
  * m1..r4>): candidate = the max(1, ⌊len·num/den⌋)-token prefix of
  * the text, reference = the whole text, censused in ONE
  * tokenization + gram pass ([[StringOps.bleuTruncComponents]]) —
  * the q231 eval-harness shape without materializing the prefix
  * string (the r16 plan paid split → slice → concat_ws → re-split). */
case class BleuTruncComponentsExpr(child: Expression, num: Int, den: Int)
    extends UnaryExpression {
  require(num > 0 && den > 0 && num <= den,
    "truncation fraction must satisfy 0 < num/den <= 1")
  override def dataType: DataType = StructType(
    Seq(StructField("c_len", LongType, nullable = false),
        StructField("r_len", LongType, nullable = false)) ++
      (1 to 4).flatMap(n => Seq(
        StructField(s"m$n", LongType, nullable = false),
        StructField(s"t$n", LongType, nullable = false),
        StructField(s"r$n", LongType, nullable = false))))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    StringOps.bleuTruncComponents(v.asInstanceOf[UTF8String], num, den)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StringOps.bleuTruncComponents($c, $num, $den)")

  override protected def withNewChildInternal(c: Expression): BleuTruncComponentsExpr =
    copy(child = c)
}

/** All LSH bucket keys of a double vector across nTables hyperplane
  * tables ([[HashOps.hyperplaneBuckets]]). */
case class HyperplaneBuckets(child: Expression, dim: Int, nPlanes: Int, nTables: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.hyperplaneBuckets(v.asInstanceOf[ArrayData], dim, nPlanes, nTables)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.hyperplaneBuckets($c, $dim, $nPlanes, $nTables)")

  override protected def withNewChildInternal(c: Expression): HyperplaneBuckets = copy(child = c)
}

/** Bounded Levenshtein distance (exact when ≤ maxEdits, −1 past it)
  * with common-prefix/suffix trimming and a Ukkonen banded DP —
  * bit-compatible with the `levenshtein(a, b, k)` builtin but ~10×
  * cheaper on near-identical inputs ([[StringOps.boundedLevenshtein]]). */
case class BoundedLevenshtein(left: Expression, right: Expression, maxEdits: Int)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    StringOps.boundedLevenshtein(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], maxEdits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.StringOps.boundedLevenshtein($a, $b, $maxEdits)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BoundedLevenshtein =
    copy(left = l, right = r)
}

/** Longest repeated token n-gram per document ([[HashOps
  * .longestRepeatedGram]]): `[lrg_len, n_repeated]` over a token
  * array, L capped at `maxL`. The repetition fingerprint
  * complementing the cross-doc shingle spans (q92/q93) with a
  * WITHIN-doc signal — decided by a binary search over L (repeat
  * existence is monotone in L), one hash pass per probe. */
case class LongestRepeatedGram(child: Expression, maxL: Int)
    extends UnaryExpression {
  require(maxL >= 1 && maxL <= 64, "maxL must be in [1, 64]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.longestRepeatedGram(v.asInstanceOf[ArrayData], maxL)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.longestRepeatedGram($c, $maxL)")

  override protected def withNewChildInternal(c: Expression): LongestRepeatedGram =
    copy(child = c)
}

/** Winnowing fingerprints per document ([[HashOps
  * .winnowFingerprints]]): array<struct<pos, hash>> of the MOSS
  * rightmost-min window selections over k-token-gram h60 hashes —
  * the position-aligned dedup/plagiarism fingerprint complementing
  * MinHash (set-similarity) and SimHash (distributional). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && k <= 64 && w >= 1 && w <= 1024,
    "k must be in [1, 64], w in [1, 1024]")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("hash", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.winnowFingerprints(v.asInstanceOf[ArrayData], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.winnowFingerprints($c, $k, $w)")

  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** Dot product of two equal-length array<double> columns,
  * left-to-right accumulation ([[HashOps.dot]]). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** PQ encoding of a double vector against plan-time codebooks
  * (array<double> → array<int>, 1-based codes): the flat codebook
  * and precomputed centroid norms ride into the generated code via
  * `addReferenceObj` (the [[CharBigramScore]] deployment pattern),
  * so the m-subspace argmin is ONE tight-loop kernel call
  * ([[HashOps.pqEncode]]) instead of an m x ksub literal expression
  * tree — same arithmetic, same (d, cid) tie rule, hundreds of
  * milliseconds less driver planning/codegen per action. */
case class PqEncode(child: Expression, m: Int, dsub: Int, ksub: Int,
                    cb: Array[Double], cnorms: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    HashOps.pqEncode(v.asInstanceOf[ArrayData], m, dsub, ksub, cb, cnorms)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
    val nmRef = ctx.addReferenceObj("pqCentNorms", cnorms, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashOps.pqEncode($c, $m, $dsub, $ksub, $cbRef, $nmRef)")
  }

  // Array fields make the synthesized case-class equality
  // reference-based, which would defeat subexpression elimination and
  // plan-level dedup for two encode expressions built separately from
  // the same fitted codebook: key equality on CONTENT instead.
  override def equals(o: Any): Boolean = o match {
    case p: PqEncode =>
      p.child == child && p.m == m && p.dsub == dsub && p.ksub == ksub &&
        java.util.Arrays.equals(p.cb, cb) && java.util.Arrays.equals(p.cnorms, cnorms)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(m), Int.box(dsub), Int.box(ksub),
      Int.box(java.util.Arrays.hashCode(cb)), Int.box(java.util.Arrays.hashCode(cnorms)))

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

/** Python-literal → canonical JSON text (reference F12/F13); compose
  * with `from_json` to recover typed arrays/structs from the
  * reference's repr()-in-CSV columns. */
case class PyLiteralToJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val r = PyLiteral.toJson(v.asInstanceOf[UTF8String].toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |String js = graft.functions.PyLiteral.toJson($c.toString());
         |if (js == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(js); }
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): PyLiteralToJson = copy(child = c)
}

/** Full Vietnamese normalization chain (F7 — url strip, NFC, number/
  * currency/date normalize, digit reading, squeeze+lower). */
case class ViNormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(VietnameseText.normalizeText(v.asInstanceOf[UTF8String].toString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.VietnameseText.normalizeText($c.toString()))")

  override protected def withNewChildInternal(c: Expression): ViNormalizeText = copy(child = c)
}

/** Windowed co-occurrence pair Generator: one output row per
  * unordered token pair within `window` positions — the generation
  * kernel behind [[graft.operators.TextRank.cooccurrence]]. A nested
  * `transform`/`filter` HOF formulation of the same pairs is
  * interpreted per ELEMENT (CodegenFallback with per-element lambda
  * binding); this Generator walks the array once per row in plain
  * JVM code (the q59/q77 kernel lesson applied to generation).
  * Generators fall back from codegen by design, matching Spark's own
  * explode family. */
case class WindowedPairs(child: Expression, window: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(window >= 1, "window must be at least 1")

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", StringType, nullable = true),
    StructField("b", StringType, nullable = true)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val v = child.eval(input)
    if (v == null) return Nil
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Nil
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](
      math.min(n * window, n * (n - 1) / 2))
    i = 0
    while (i < n) {
      var j = i + 1
      val hi = math.min(n - 1, i + window)
      while (j <= hi) {
        val x = toks(i)
        val y = toks(j)
        if (x == null || y == null) out += InternalRow(null, null)
        else if (x.compareTo(y) <= 0) out += InternalRow(x, y)
        else out += InternalRow(y, x)
        j += 1
      }
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): WindowedPairs = copy(child = c)
}

/** All unordered pairs of a long array (array<long> → one row per
  * pair, emitted value-ordered `a < b`): the per-basket pair
  * expansion of association mining ([[graft.operators.TextRank
  * .marketBasket]]). Generating pairs INSIDE the grouped row replaces
  * a basket-keyed self-join — the quadratic expansion never crosses
  * an exchange, and the pair census that follows map-side combines.
  * Equal values emit no pair (callers dedup items per basket first);
  * nulls in the array are skipped. */
case class AllPairsLong(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val v = child.eval(input)
    if (v == null) return Nil
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Nil
    val vals = new scala.collection.mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) vals += arr.getLong(i)
      i += 1
    }
    val s = vals.sorted
    val m = s.length
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](m * (m - 1) / 2)
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        if (s(i) != s(j)) out += InternalRow(s(i), s(j))
        j += 1
      }
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): AllPairsLong = copy(child = c)
}

/** Content-defined chunking Generator (array<string> tokens → one
  * row per chunk): boundaries where a k-gram hashes to 0 mod divisor
  * — local-content cuts, the property chunk-level dedup storage
  * needs (an early edit shifts one boundary, not every fixed-width
  * window). Kernel in [[HashOps.cdcChunks]], same 15-hex md5
  * spelling as the shingle family so the oracle replays it in SQL. */
case class CdcChunks(child: Expression, k: Int, divisor: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k >= 1, "k must be at least 1")
  require(divisor >= 2, "divisor must be at least 2")

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("chunk_text", StringType, nullable = true),
    StructField("chunk_hash", StringType, nullable = true)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else HashOps.cdcChunks(v.asInstanceOf[ArrayData], k, divisor)
  }

  override protected def withNewChildInternal(c: Expression): CdcChunks = copy(child = c)
}

/** Quote/bullet strip + full Vietnamese number naming (F11). */
case class ViProcessText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(VietnameseText.processText(v.asInstanceOf[UTF8String].toString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.VietnameseText.processText($c.toString()))")

  override protected def withNewChildInternal(c: Expression): ViProcessText = copy(child = c)
}

/** Sentence-tokenize Generator (reference F9): one output row per
  * sentence with its 0-based position — the custom `Generator`
  * surface SURVEY §2.10 calls for. Generators are row-expanding, so
  * codegen falls back to eval by design (same as Spark's own
  * explode family for non-array inputs). */
case class SentenceSplit(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("sentence", StringType, nullable = true)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val parts = StringOps.sentenceSplit(v.asInstanceOf[UTF8String].toString)
      parts.indices.map(i =>
        org.apache.spark.sql.catalyst.InternalRow(i, UTF8String.fromString(parts(i))))
    }
  }

  override protected def withNewChildInternal(c: Expression): SentenceSplit = copy(child = c)
}

/** CSS-select Generator (reference S7): one output row per element of
  * an HTML column matching a CSS selector — (pos, tag, text, attrs).
  * The selector must be foldable (it is compiled once at plan time);
  * see [[HtmlOps]] for the supported selector grammar and the
  * documented parse semantics. Row-expanding, so codegen falls back
  * to eval like Spark's own explode family. */
case class CssSelect(child: Expression, selectorStr: String)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  @transient private lazy val selector: HtmlOps.Selector =
    HtmlOps.parseSelector(selectorStr)

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("attrs", MapType(StringType, StringType), nullable = true)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      HtmlOps.cssSelect(v.asInstanceOf[UTF8String].toString, selector).map {
        case (pos, tag, text, attrs) =>
          val keys = attrs.keys.toArray
          org.apache.spark.sql.catalyst.InternalRow(
            pos,
            UTF8String.fromString(tag),
            UTF8String.fromString(text),
            new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(
                keys.map(k => UTF8String.fromString(k)): Array[Any]),
              new org.apache.spark.sql.catalyst.util.GenericArrayData(
                keys.map(k => UTF8String.fromString(attrs(k))): Array[Any])))
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): CssSelect =
    copy(child = c)
}

/** Column-level API for the custom expressions. */
object GraftFunctions {
  private def col(e: Expression): Column = ColumnShim.column(e)
  private def expr(c: Column): Expression = ColumnShim.expression(c)

  def deaccent_slug(c: Column): Column = col(DeaccentSlug(expr(c)))
  def char_bigrams(c: Column): Column = col(CharBigrams(expr(c)))
  def word_ngram_terms(c: Column): Column = col(WordNgramTerms(expr(c)))
  def char_bigram_score(c: Column, model: CharLmModel): Column =
    col(CharBigramScore(expr(c), model))
  def word_ngram_score(c: Column, model: WordLmModel): Column =
    col(WordNgramScore(expr(c), model))
  def dsir_score(c: Column, model: DsirModel): Column =
    col(DsirScore(expr(c), model))
  def windowed_pairs(c: Column, window: Int): Column =
    col(WindowedPairs(expr(c), window))
  def all_pairs_long(c: Column): Column = col(AllPairsLong(expr(c)))
  def cdc_chunks(c: Column, k: Int, divisor: Int): Column =
    col(CdcChunks(expr(c), k, divisor))
  def duration_seconds(c: Column): Column = col(DurationSeconds(expr(c)))
  def simhash60(c: Column): Column = col(SimHash60(expr(c)))
  def minhash_sig(c: Column, k: Int): Column = col(MinHashSig(expr(c), k))
  def cms_buckets(c: Column, depth: Int, width: Int): Column =
    col(CmsBucketArray(expr(c), depth, width))
  def min_shingle_hash(c: Column, n: Int): Column = col(MinShingleHash(expr(c), n))
  def top_shingle_run(c: Column, n: Int): Column = col(TopShingleRun(expr(c), n))
  def canonical_url(c: Column): Column = col(CanonicalUrl(expr(c)))
  def simhash60_tokens(c: Column): Column = col(SimHashTokens60(expr(c)))
  def lang_id(c: Column): Column = col(LangIdPredict(expr(c)))
  def shingle_hex_tokens(c: Column, n: Int): Column = col(ShingleHexTokens(expr(c), n))
  def shingle_bucket_tokens(c: Column, n: Int, buckets: Int): Column =
    col(ShingleBucketTokens(expr(c), n, buckets))
  def sorted_intersect_count(a: Column, b: Column): Column =
    col(SortedIntersectCount(expr(a), expr(b)))
  def dot_product(a: Column, b: Column): Column = col(DotProduct(expr(a), expr(b)))
  def longest_repeated_gram(c: Column, maxL: Int): Column =
    col(LongestRepeatedGram(expr(c), maxL))
  def winnow_fingerprints(c: Column, k: Int, w: Int): Column =
    col(WinnowFingerprints(expr(c), k, w))
  def bounded_levenshtein(a: Column, b: Column, maxEdits: Int): Column =
    col(BoundedLevenshtein(expr(a), expr(b), maxEdits))
  def pq_encode(c: Column, m: Int, dsub: Int, ksub: Int,
                cb: Array[Double], cnorms: Array[Double]): Column =
    col(PqEncode(expr(c), m, dsub, ksub, cb, cnorms))
  def hyperplane_buckets(c: Column, dim: Int, nPlanes: Int, nTables: Int): Column =
    col(HyperplaneBuckets(expr(c), dim, nPlanes, nTables))
  def pyliteral_to_json(c: Column): Column = col(PyLiteralToJson(expr(c)))
  def vi_normalize_text(c: Column): Column = col(ViNormalizeText(expr(c)))
  def sentence_split(c: Column): Column = col(SentenceSplit(expr(c)))
  def vi_process_text(c: Column): Column = col(ViProcessText(expr(c)))
  def css_select(html: Column, selector: String): Column =
    col(CssSelect(expr(html), selector))
  def bpe_encode(c: Column, model: BpeModel): Column = col(BpeEncode(expr(c), model))
  def nfc_normalize(c: Column): Column = col(NfcNormalize(expr(c)))
  def eval_shingle_hits(c: Column, model: ShingleSetModel): Column =
    col(EvalShingleHits(expr(c), model))
  def bloom_positions(c: Column, k: Int, numBits: Int): Column =
    col(BloomPositions(expr(c), k, numBits))
  def bloom_membership(c: Column, model: BloomModel): Column =
    col(BloomMembership(expr(c), model))

  /** Register all custom functions for SQL use, so `spark.sql`
    * callers get the same codegen'd expressions as the Column API
    * (int literals supply the static parameters of the
    * parameterized ones). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Idempotent: the session is shared across suites via
    // getOrCreate, and re-registering an existing function makes the
    // registry log a replace-warning per function per suite. One
    // marker lookup suffices — registration is all-or-nothing below.
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("deaccent_slug"))) return
    def intArg(e: Expression): Int =
      e.eval(null).asInstanceOf[Number].intValue()
    reg.createOrReplaceTempFunction("deaccent_slug", es => DeaccentSlug(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("char_bigrams", es => CharBigrams(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("duration_seconds", es => DurationSeconds(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash60", es => SimHash60(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash60_tokens", es => SimHashTokens60(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("lang_id", es => LangIdPredict(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("pyliteral_to_json", es => PyLiteralToJson(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig", es => MinHashSig(es.head, intArg(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction("min_shingle_hash", es => MinShingleHash(es.head, intArg(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction("top_shingle_run", es => TopShingleRun(es.head, intArg(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction("canonical_url", es => CanonicalUrl(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize", es => NfcNormalize(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("sorted_intersect_count", es => SortedIntersectCount(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("dot_product", es => DotProduct(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("bounded_levenshtein",
      es => BoundedLevenshtein(es.head, es(1), intArg(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("hyperplane_buckets",
      es => HyperplaneBuckets(es.head, intArg(es(1)), intArg(es(2)), intArg(es(3))), "scala_udf")
    reg.createOrReplaceTempFunction("vi_normalize_text", es => ViNormalizeText(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("vi_process_text", es => ViProcessText(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("sentence_split", es => SentenceSplit(es.head), "scala_udf")
    // The selector is compiled once at plan time, so it must be a
    // foldable string literal — anything else fails analysis with a
    // named error instead of an opaque NPE/ClassCastException.
    reg.createOrReplaceTempFunction("css_select",
      es => {
        if (es.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`css_select`", "expectedNum" -> "2",
              "actualNum" -> es.length.toString, "docroot" -> "https://spark.apache.org/docs/latest"))
        val sel = es(1)
        if (!sel.foldable || sel.dataType != StringType || sel.eval(null) == null)
          throw new org.apache.spark.sql.AnalysisException(
            "NON_FOLDABLE_ARGUMENT",
            Map("funcName" -> "`css_select`", "paramName" -> "`selector`",
              "paramType" -> "\"STRING\""))
        CssSelect(es.head, sel.eval(null).asInstanceOf[UTF8String].toString)
      }, "scala_udf")
    reg.createOrReplaceTempFunction("h60", es => H60(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("h28", es => H28(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cms_buckets",
      es => CmsBucketArray(es.head, intArg(es(1)), intArg(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("all_pairs_long", es => AllPairsLong(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("shingle_bucket_tokens",
      es => ShingleBucketTokens(es.head, intArg(es(1)), intArg(es(2))), "scala_udf")
  }
}
