package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed byte-pair-encoding merge training — the tokenizer-fit
  * step of a training-data pipeline (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units").
  *
  * Relationship to [[graft.functions.Bpe]] (the earlier, spec-gated
  * tier): that one caps the dictionary at `maxVocab` and trains
  * DRIVER-side with the HF-style lowest-rank-pair-first apply — the
  * right tool for token ACCOUNTING via its codegen'd [[graft
  * .functions.BpeEncode]] expression. THIS one keeps the full
  * dictionary DISTRIBUTED through every merge round and uses
  * greedy-replace application whose semantics a DuckDB oracle can
  * replay verbatim — which is what makes q158/q159 hash-gateable
  * (the driver-side trainer's vocab cap and tie-walk order have no
  * tractable SQL replay). Same algorithm, two deployment points:
  * exact-gated distributed fit here, bounded codegen apply there.
  *
  * Scale shape: the corpus is scanned ONCE to build the
  * word-frequency dictionary; every merge round iterates over the
  * dictionary only (a few million rows at 100 TB corpus scale, never
  * the corpus itself). Per round: one small pair-census shuffle with
  * map-side partial aggregation, a `TakeOrdered(1)` argmax whose
  * single row is the only driver-side state, and one broadcast-free
  * projection applying the merge. The dictionary is
  * `localCheckpoint`ed per round so the plan stays linear instead of
  * stacking K census subtrees (same convention as the connected
  * components / PageRank loops).
  *
  * Determinism: the census counts every adjacent token POSITION
  * (overlapping pairs included, the classic BPE census), ties break
  * on (count DESC, lhs ASC, rhs ASC), and the merge application is
  * greedy left-to-right non-overlapping over WHOLE tokens — "aaa"
  * under merge (a,a) becomes [aa, a] in both engines (BpeSpec pins
  * this overlap case), and a merge (e,s) never fires across a token
  * boundary such as [the, se] (BpeSpec pins that too).
  *
  * Token alignment is guaranteed by the flat representation: a
  * sequence of tokens t1..tn is stored as
  * `Sep t1 Sep Sep t2 Sep Sep ... Sep Sep tn Sep` — every token is
  * wrapped in its own pair of [[Sep]] (U+0001) chars, so interior
  * boundaries carry TWO separators and the string ends carry one.
  * A merge (l,r) is then the single literal replace
  * `Sep l Sep Sep r Sep -> Sep l r Sep`: the pattern consumes one
  * separator from each side of the pair, so (a) it can only match
  * whole tokens (token interiors never contain Sep), (b) back-to-
  * back occurrences like [a,b,a,b] each keep a separator to match
  * on, and (c) the replacement restores the invariant — which makes
  * one `replace` per merge round EXACTLY the greedy left-to-right
  * non-overlapping application of Sennrich's algorithm, with
  * identical semantics in Spark (`UTF8String.replace`) and DuckDB
  * (`replace`), which is what the q158/q159 oracles replay.
  *
  * Tokens are character runs of the input words and never contain
  * [[Sep]], so the flat-string representation is unambiguous.
  */
object Bpe {

  /** Token separator inside the flat sequence string. Input words
    * must not contain it (enforced with a filter in [[initDict]]). */
  val Sep = "\u0001"

  /** Interior token boundary: two separators, one owned by the token
    * on each side — see the representation note above. */
  val Bnd: String = Sep + Sep

  /** Strip the single outer [[Sep]] wrap (exactly one char per side;
    * tokens are never empty, so this is exact). */
  private def unwrap(seq: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    seq.substr(lit(2), length(seq) - 2)

  private val mergeSchema = StructType(Seq(
    StructField("merge_rank", LongType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("pair_count", LongType, nullable = false)))

  /** Word-frequency dictionary → (word, freq, seq) with seq in the
    * wrapped form `Sep c1 Bnd c2 Bnd ... Bnd cn Sep` (a zero-width-
    * boundary regexp_replace plus the outer wrap, codegen'd — no
    * array materialization). */
  def initDict(words: DataFrame, wordCol: String, freqCol: String): DataFrame =
    words
      .filter(!col(wordCol).contains(Sep) && length(col(wordCol)) > 0)
      .select(col(wordCol).as("word"), col(freqCol).cast("long").as("freq"),
        concat(lit(Sep),
          regexp_replace(col(wordCol), "(?<=.)(?=.)", Bnd),
          lit(Sep)).as("seq"))

  /** Adjacent-position pair census of a dictionary of flat token
    * sequences, weighted by word frequency. Exposed for sweeps. */
  def pairCensus(dict: DataFrame): DataFrame = {
    val toks = split(unwrap(col("seq")), Bnd)
    dict
      .select(col("freq"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i + 1).as("lhs"),
          element_at(col("toks"), i + 2).as("rhs")))).as("pr"))
      .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
      .agg(sum("freq").as("pair_count"))
  }

  /** Learn `numMerges` BPE merges from a word-frequency dictionary.
    * Returns (merge table ordered by rank, final segmented dictionary
    * `(word, freq, seq)`); fewer than `numMerges` rows come back when
    * the dictionary runs out of adjacent pairs. */
  def learnMerges(
      words: DataFrame, wordCol: String, freqCol: String,
      numMerges: Int): (DataFrame, DataFrame) = {
    val spark = words.sparkSession
    var dict = initDict(words, wordCol, freqCol).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var rank = 1L
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = pairCensus(dict)
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Row(rank, l, r, l + r, c)
        dict = dict
          .withColumn("seq",
            replace(col("seq"), lit(Sep + l + Bnd + r + Sep), lit(Sep + l + r + Sep)))
          .localCheckpoint(true)
        rank += 1L
      }
    }
    val mergeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1), mergeSchema)
    (mergeDf, dict)
  }

  /** UTF-8-byte lexicographic order — Spark's StringType ordering.
    * Java's String.compareTo sorts by UTF-16 code unit, which
    * disagrees with UTF-8 bytes for supplementary characters; the
    * local trainer must break ties exactly like the distributed
    * `orderBy(lhs.asc, rhs.asc)` does. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side twin of [[learnMerges]] for dictionary-bounded
    * vocabularies: ONE bounded collect of the word-frequency
    * dictionary (fail-fast past `maxDictRows` — the bounded-model-
    * collect convention), then the merge loop runs in-JVM with
    * bit-identical semantics — positional pair census (overlaps
    * included), ties on (count DESC, lhs UTF-8 ASC, rhs UTF-8 ASC),
    * greedy left-to-right non-overlapping application — so the
    * returned merge table and segmented dictionary equal the
    * distributed trainer's row-for-row (BpeSpec pins the
    * differential). The win is removing numMerges driver-barrier
    * Spark jobs: a 50-merge fit is one collect + microseconds of
    * array work. */
  def learnMergesLocal(
      words: DataFrame, wordCol: String, freqCol: String,
      numMerges: Int, maxDictRows: Int = 1 << 20): (DataFrame, DataFrame) = {
    val probe = Bounded.collectOrFail(
      initDict(words, wordCol, freqCol).select(col("word"), col("freq")), maxDictRows)(
      s"learnMergesLocal: dictionary exceeds $maxDictRows rows - use learnMerges (distributed)")
    fitLocal(words.sparkSession, probe, numMerges)
  }

  private def fitLocal(spark: SparkSession, probe: Array[Row],
                       numMerges: Int): (DataFrame, DataFrame) = {
    val vocabWords = probe.map(_.getString(0))
    val freqs = probe.map(_.getLong(1))
    // Token sequences: one array of code-point strings per word.
    val seqs: Array[Array[String]] = vocabWords.map { w =>
      val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val n = Character.charCount(cp)
        out += w.substring(i, i + n)
        i += n
      }
      out.toArray
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var rank = 1L
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val census = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var w = 0
      while (w < seqs.length) {
        val s = seqs(w); val f = freqs(w)
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          census.update(k, census.getOrElse(k, 0L) + f)
          i += 1
        }
        w += 1
      }
      if (census.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        for (e <- census) {
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2))))) best = e
        }
        val ((l, r), c) = best
        merges += Row(rank, l, r, l + r, c)
        var w2 = 0
        while (w2 < seqs.length) {
          val s = seqs(w2)
          var touches = false
          var i = 0
          while (!touches && i + 1 < s.length) {
            if (s(i) == l && s(i + 1) == r) touches = true
            i += 1
          }
          if (touches) {
            val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
            i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
                out += l + r; i += 2 // greedy left-to-right, non-overlapping
              } else { out += s(i); i += 1 }
            }
            seqs(w2) = out.toArray
          }
          w2 += 1
        }
        rank += 1L
      }
    }
    val mergeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1), mergeSchema)
    val dictRows = vocabWords.indices.map { i =>
      Row(vocabWords(i), freqs(i), Sep + seqs(i).mkString(Bnd) + Sep)
    }
    val dictDf = spark.createDataFrame(
      spark.sparkContext.parallelize(dictRows, math.max(1, spark.sparkContext.defaultParallelism / 2)),
      StructType(Seq(
        StructField("word", StringType, nullable = false),
        StructField("freq", LongType, nullable = false),
        StructField("seq", StringType, nullable = false))))
    (mergeDf, dictDf)
  }

  /** Size-guarded trainer: [[learnMergesLocal]] when the dictionary
    * fits the bounded collect, [[learnMerges]] (distributed rounds)
    * above it — the `nearDupPairsAuto` probe-and-route convention.
    * The probe is one [[Bounded.collect]], so a web-scale
    * vocabulary pays one cheap partial scan and keeps every merge
    * round distributed. */
  def learnMergesAuto(
      words: DataFrame, wordCol: String, freqCol: String,
      numMerges: Int, maxLocalDict: Int = 1 << 20): (DataFrame, DataFrame) = {
    // The probe IS the local fit's input when it fits — one scan,
    // never two.
    Bounded.collect(initDict(words, wordCol, freqCol).select(col("word"), col("freq")),
        maxLocalDict)
      .map(fitLocal(words.sparkSession, _, numMerges))
      .getOrElse(learnMerges(words, wordCol, freqCol, numMerges))
  }

  /** Stateless BPE segmentation under a COLLECTED merge table — the
    * score-stream half of the fit-batch/score-stream split (the
    * [[graft.streaming.EventStreams]] deployment family): the ranked
    * merge list (driver-bounded, `numMerges` rows) folds into one
    * codegen'd projection — per word, the K merges apply in rank
    * order as chained greedy `replace`s, exactly the training-time
    * application — so arriving documents segment with no dictionary
    * join, no state store, and UNSEEN words segment correctly (BPE
    * application is defined on any word, not just the fit corpus;
    * [[segmentStats]]' dict-join falls back to char counts there).
    * Batch parity on fit-corpus words is exact: applying merges in
    * rank order reproduces the training evolution of every dict
    * word (spec-pinned). */
  def segmentStatsWithMerges(docs: DataFrame, merges: Seq[(String, String)],
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    def applyMerges(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      merges.foldLeft(
        concat(lit(Sep), regexp_replace(word, "(?<=.)(?=.)", Bnd), lit(Sep))) {
        case (seq, (l, r)) =>
          replace(seq, lit(Sep + l + Bnd + r + Sep), lit(Sep + l + r + Sep))
      }
    val words = filter(split(col(textCol), " "), w => w =!= "")
    docs.select(col(idCol),
        size(words).cast("long").as("n_words"),
        aggregate(transform(words,
            w => size(split(unwrap(applyMerges(w)), Bnd)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_tokens"),
        aggregate(transform(words, w => length(w).cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_chars"))
      .withColumn("cpt_e4",
        expr("CAST(n_chars * 10000 DIV n_tokens AS BIGINT)"))
  }

  /** Segment per-document token statistics under a trained dictionary:
    * every document word is looked up in the segmented dictionary
    * (words absent from the fit corpus fall back to character count).
    * One corpus scan + one dictionary join (AQE broadcasts the dict
    * at small scale; at tokenizer-vocabulary scale it is a standard
    * shuffle join on the word key). `cpt_e4` = chars-per-token scaled
    * by 10^4, exact integer division. */
  def segmentStats(
      docs: DataFrame, idCol: String, textCol: String,
      segmentedDict: DataFrame): DataFrame = {
    val perWord = segmentedDict
      .select(col("word"),
        size(split(unwrap(col("seq")), Bnd)).cast("long").as("ntok"))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(perWord, Seq("word"), "left")
      .select(col(idCol),
        coalesce(col("ntok"), length(col("word")).cast("long")).as("ntok"),
        length(col("word")).cast("long").as("nchar"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum("ntok").as("n_tokens"),
        sum("nchar").as("n_chars"))
      .withColumn("cpt_e4",
        expr("CAST(n_chars * 10000 DIV n_tokens AS BIGINT)"))
  }
}
