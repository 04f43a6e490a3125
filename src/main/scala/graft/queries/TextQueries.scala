package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GraftFunctions, HashFunctions, TextFunctions}
import graft.operators.{CharLm, Curation, Dedup, ExactSubstring, LangId, QualityClassifier, SentenceGrouping, Sketches, TextRank}

/** LLM-data-pipeline text operators over the `documents` table:
  * dedup (exact / MinHash+LSH / SimHash / exact similarity join),
  * text analysis (token stats, quality, language id, fingerprints),
  * and the reference's stateful sentence grouping.
  *
  * Oracles replicate hash-dependent logic exactly because every hash
  * here derives from md5 (see [[graft.functions.HashFunctions]]).
  */
object TextQueries {

  /** The winnowing-fingerprint CTE chain (q219's oracle body, shared
    * by q220's pair join): grams → h60 hashes → windowed rightmost-
    * min argmin → distinct selections joined back to their hash.
    * Yields a CTE named `fp(doc_id, pos, fp_hash)`. */
  private val winnowFpCtes: String = """
      t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      n AS (SELECT doc_id, toks,
                   CAST(len(toks) - 2 AS BIGINT) AS ng FROM t),
      g AS (SELECT doc_id, toks,
                   UNNEST(range(1, CAST(GREATEST(ng + 1, 1) AS BIGINT))) AS pos
            FROM n),
      h AS (SELECT doc_id, pos,
                   ('0x' || substr(md5(array_to_string(toks[pos:pos+2], ' ')), 1, 15))::BIGINT AS hash
            FROM g),
      s AS (SELECT doc_id, pos,
                   arg_min(pos, CAST(hash AS HUGEINT) * 1048576 + (1048575 - pos)) OVER
                     (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS spos
            FROM h),
      f AS (SELECT DISTINCT doc_id, spos AS pos FROM s WHERE s.pos >= 4),
      fp AS (SELECT f.doc_id, CAST(f.pos AS BIGINT) AS pos, h.hash AS fp_hash
             FROM f JOIN h ON h.doc_id = f.doc_id AND h.pos = f.pos)"""

  /** BLEU-components oracle (q231): per n = 1..4, candidate and
    * reference n-gram censuses, clipped-match sums (Σ min of the two
    * counts — the multiset intersection), then totals, the
    * flog2q-smoothed log-precision sum, and the floored length
    * ratio, mirroring [[graft.operators.Evaluation.bleuComponents]].
    * p2 is MATERIALIZED — eight gram CTEs consume it. */
  private def bleuOracleSql: String = {
    val f = (x: String) => graft.operators.Curation.flog2qSql(x)
    val perN = (1 to 4).flatMap { n =>
      Seq("c" -> "ct", "r" -> "rt").map { case (side, arr) =>
        s"""
      ${side}g$n AS (SELECT doc_id, array_to_string($arr[i:i+${n - 1}], ' ') AS g
        FROM (SELECT doc_id, $arr,
                     UNNEST(range(1, CAST(len($arr) - $n + 2 AS BIGINT))) AS i
              FROM p2)),
      ${side}n$n AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
                     FROM ${side}g$n GROUP BY 1, 2)"""
      } :+ s"""
      mm$n AS (SELECT cc.doc_id, CAST(SUM(LEAST(cc.c, rc.c)) AS BIGINT) AS m
               FROM cn$n cc JOIN rn$n rc USING (doc_id, g) GROUP BY 1)"""
    }.mkString(",")
    val joins = (1 to 4).map(n => s"LEFT JOIN mm$n ON mm$n.doc_id = p2.doc_id").mkString(" ")
    val cols = (1 to 4).map { n =>
      s"""COALESCE(mm$n.m, 0) AS m$n,
         CAST(GREATEST(len(ct) - $n + 1, 0) AS BIGINT) AS t$n,
         CAST(GREATEST(len(rt) - $n + 1, 0) AS BIGINT) AS r$n"""
    }.mkString(", ")
    val logprec = (1 to 4).map(n =>
      s"(${f(s"COALESCE(mm$n.m, 0) + 1")}) - (${f(s"GREATEST(len(ct) - $n + 1, 0) + 1")})")
      .mkString(" + ")
    s"""
      WITH p AS (SELECT doc_id, string_split(text, ' ') AS rt FROM documents),
      p2 AS MATERIALIZED (
        SELECT doc_id, rt,
               rt[1:GREATEST((len(rt) * 8) // 10, 1)] AS ct
        FROM p WHERE len(rt) > 0),$perN
      SELECT p2.doc_id,
             CAST(len(ct) AS BIGINT) AS c_len,
             CAST(len(rt) AS BIGINT) AS r_len,
             $cols,
             CAST($logprec AS BIGINT) AS logprec_fp,
             CAST(len(ct) AS BIGINT) * 1000000000 // CAST(len(rt) AS BIGINT)
               AS len_ratio_e9
      FROM p2 $joins
      ORDER BY p2.doc_id"""
  }

  /** Unrolled DoReMi oracle (q229): domain-loss census, uniform w0,
    * then `rounds` (weighted-mean ref → excess → multiplicative
    * update → floored e9 renormalization) CTE layers mirroring
    * [[graft.operators.Curation.doremiMixWeights]]'s driver loop
    * verbatim — HUGEINT where the Scala side runs BigInt. */
  private def doremiOracleSql(rounds: Int, eta: Long): String = {
    val f = (x: String) => graft.operators.Curation.flog2qSql(x)
    val head = s"""
      WITH t AS (SELECT source AS d, UNNEST(string_split(text, ' ')) AS tok
                 FROM documents),
      c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cc FROM t GROUP BY 1),
      tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS tt FROM c),
      dl AS MATERIALIZED (SELECT t.d,
                    CAST(SUM((${f("tot.tt")}) - (${f("c.cc")})) AS BIGINT)
                      // CAST(COUNT(*) AS BIGINT) AS loss
             FROM t JOIN c USING (tok) CROSS JOIN tot GROUP BY 1),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dl),
      w0 AS (SELECT d, loss, CAST(0 AS BIGINT) AS ex,
                    CAST(1000000000 // n AS HUGEINT) AS w
             FROM dl CROSS JOIN nd)"""
    val layers = (1 to rounds).map { t =>
      val pv = s"w${t - 1}"
      s""",
      m$t AS (SELECT SUM(w * loss) // SUM(w) AS mref FROM $pv),
      e$t AS (SELECT d, loss, w, GREATEST(0, loss - mref) AS ex
              FROM $pv CROSS JOIN m$t),
      r$t AS (SELECT d, loss, ex, w * (1000000 + ex * $eta) AS raw FROM e$t),
      w$t AS (SELECT d, loss, ex,
                     raw * 1000000000 // (SELECT SUM(raw) FROM r$t) AS w
              FROM r$t)"""
    }.mkString
    val unions = (1 to rounds).map { t =>
      s"SELECT CAST($t AS BIGINT) AS round, d AS source, CAST(ex AS BIGINT) AS excess_fp, CAST(w AS BIGINT) AS weight_e9 FROM w$t"
    }.mkString(" UNION ALL ")
    s"$head$layers $unions ORDER BY round, source"
  }

  /** Unrolled IPF oracle (q215): `rounds` alternating row/col raking
    * passes over the (source, lang) census as chained CTEs — DuckDB
    * has recursive CTEs but unrolling keeps every round's integer
    * truncation textually identical to the Spark plan's. */
  private def ipfOracleSql(rounds: Int): String = {
    val head = """
      WITH c0 AS (SELECT lang AS r, source AS c,
                         CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(COUNT(*) AS HUGEINT) * 1000000 AS cell
                  FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL
                  GROUP BY 1, 2),
      tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS total,
                     CAST(COUNT(DISTINCT r) AS HUGEINT) AS nr FROM c0),
      rt AS (SELECT (total * 1000000) // nr AS rte6 FROM tot),
      ct AS (SELECT c, CAST(SUM(n) AS HUGEINT) * 1000000 AS cte6
             FROM c0 GROUP BY 1)"""
    val steps = (1 to rounds).map { k =>
      val prev = if (k == 1) "c0" else s"k${k - 1}"
      s"""
      rs$k AS (SELECT r, c, n, cell,
                 SUM(cell) OVER (PARTITION BY r) AS rsum FROM $prev),
      ra$k AS (SELECT r, c, n,
                 CASE WHEN rsum > 0 THEN (cell * rte6) // rsum
                      ELSE CAST(0 AS HUGEINT) END AS cell
               FROM rs$k, rt),
      cs$k AS (SELECT r, c, n, cell,
                 SUM(cell) OVER (PARTITION BY c) AS csum FROM ra$k),
      k$k AS (SELECT cs$k.r, cs$k.c, cs$k.n,
                 CASE WHEN csum > 0 THEN (cell * ct.cte6) // csum
                      ELSE CAST(0 AS HUGEINT) END AS cell
              FROM cs$k JOIN ct ON ct.c = cs$k.c)"""
    }.mkString(",")
    head + "," + steps + s"""
      SELECT r AS lang, c AS source, n, CAST(cell AS BIGINT) AS mix_e6
      FROM k$rounds ORDER BY lang, source"""
  }

  /** Shared oracle CTE: distinct token sets + exact pairwise overlap
    * in inverted-index join form (fast in DuckDB, no N² list ops). */
  private def jaccardOracle(threshold: Double): String = s"""
    WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    l AS (SELECT doc_id, len(toks) AS n FROM d),
    ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
           FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
    SELECT doc_a, doc_b, floor((ov / (la.n + lb.n - ov)) * 10000 + 0.5) / 10000 AS jaccard
    FROM ov JOIN l la ON la.doc_id = doc_a JOIN l lb ON lb.doc_id = doc_b
    WHERE ov / (la.n + lb.n - ov) >= $threshold
    ORDER BY doc_a, doc_b"""

  /** Shared oracle CTE for simhash signatures (md5-derived 60-bit
    * token hashes, sign-of-sum per bit — bit-identical to the
    * SimHash60 expression). */
  private val simhashCte: String = """
    WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    bits AS (SELECT doc_id, j,
                    CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                         THEN (1::BIGINT << j) ELSE 0::BIGINT END AS bit
             FROM h CROSS JOIN generate_series(0, 59) g(j)
             GROUP BY doc_id, j),
    s AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)"""

  /** The q46/q90 synthetic Zipf-vocabulary word list for order key
    * `kCol` — 8 + k%8 words, token id md5-hash-driven through an
    * integer log-skew map (small ids common, tail ids rare). Shared
    * by the two queries. */
  private[graft] def zipfWordsOf(kCol: Column): Column = {
    val hs = transform(
      sequence(lit(0), (lit(7) + pmod(kCol, lit(8))).cast("int")),
      j => HashFunctions.h60(
        concat(kCol.cast("string"), lit(":"), j.cast("string"))))
    transform(hs, h =>
      concat(lit("w"),
        pmod(shiftright(h, 30),
          lit(1L) + pmod(h.bitwiseAND(lit(1073741823L)), lit(30000L)))
          .cast("string")))
  }

  /** q43's shingle-set corpus over any `(doc_id, text)` frame: word
    * 3-gram shingles as compact 15-hex md5 tokens (code motion from
    * the q43 body, shared with CandidateLinearitySpec). */
  private[graft] def q43Corpus(docs: DataFrame): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        array_join(
          GraftFunctions.shingle_hex_tokens(split(col("text"), " "), 3),
          " ").as("text"))

  /** q46's corpus: every third order emits a base doc; every ninth
    * also a drop-last-token twin (pure code motion from the q46
    * body so CandidateLinearitySpec replays the identical workload). */
  private[graft] def q46Corpus(s: SparkSession, d: String): DataFrame = {
    val words = zipfWordsOf(col("k"))
    val withToks = graft.Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey").as("k"))
      .select(col("k"), words.as("toks"))
    // Base doc + optional twin from ONE pass over the md5 word
    // synthesis: a union of two selects re-executes the transform
    // per branch (separate subtrees reuse nothing), which doubled
    // the single most expensive stage of this corpus.
    withToks
      .select(inline(array(
        struct((col("k") * 2).as("doc_id"), array_join(col("toks"), " ").as("text")),
        struct((col("k") * 2 + 1).as("doc_id"),
          when(pmod(col("k"), lit(9)) === 0,
            array_join(slice(col("toks"), lit(1), size(col("toks")) - 1), " "))
            .as("text")))))
      .filter(col("text").isNotNull)
  }

  /** q90's corpus: every ninth order emits a base doc; even k a
    * drop-last twin; k%3==0 a half-length excerpt (code motion from
    * the q90 body, shared with CandidateLinearitySpec). */
  private[graft] def q90Corpus(s: SparkSession, d: String): DataFrame = {
    val words = zipfWordsOf(col("k"))
    graft.Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(9)) === 0)
      .select(col("o_orderkey").as("k"))
      .select(col("k"), words.as("toks"), size(words).as("len"))
      .select(inline(array(
        struct((col("k") * 4).as("doc_id"), array_join(col("toks"), " ").as("text")),
        struct((col("k") * 4 + 1).as("doc_id"),
          when(pmod(col("k"), lit(2)) === 0,
            array_join(slice(col("toks"), lit(1), col("len") - 1), " ")).as("text")),
        struct((col("k") * 4 + 2).as("doc_id"),
          when(pmod(col("k"), lit(3)) === 0,
            array_join(slice(col("toks"), lit(1),
              ceil(col("len") / lit(2.0d)).cast("int")), " ")).as("text")))))
      .filter(col("text").isNotNull)
  }

  /** Shared oracle CTE chain for BPE merge training: word-frequency
    * census → per-round MATERIALIZED (pair census, argmax with the
    * (count DESC, lhs, rhs) tiebreak, greedy left-to-right replace)
    * on the wrapped doubled-separator representation (token-aligned;
    * see [[graft.operators.Bpe]]'s representation note) — the exact
    * replay of [[graft.operators.Bpe.learnMerges]].
    * MATERIALIZED is load-bearing: without it DuckDB re-inlines the
    * round chain and evaluation goes superlinear in rounds. */
  private def bpeChainSql(k: Int): String = {
    val head = Seq(
      """w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY 1)""",
      """s0 AS MATERIALIZED (SELECT word, freq,
           chr(1) || array_to_string(regexp_extract_all(word, '.'), chr(1) || chr(1)) || chr(1) AS seq
         FROM w)""")
    val rounds = (1 to k).flatMap { i =>
      Seq(
        s"""t$i AS (SELECT freq, string_split(seq[2:-2], chr(1) || chr(1)) AS toks,
              unnest(generate_series(1, len(string_split(seq[2:-2], chr(1) || chr(1))) - 1)) AS i
            FROM s${i - 1})""",
        s"""p$i AS (SELECT toks[i] AS lhs, toks[i+1] AS rhs,
              CAST(SUM(freq) AS BIGINT) AS pair_count FROM t$i GROUP BY 1, 2)""",
        s"""b$i AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p$i
            ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1)""",
        s"""s$i AS MATERIALIZED (SELECT word, freq,
              replace(seq, chr(1) || lhs || chr(1) || chr(1) || rhs || chr(1),
                      chr(1) || lhs || rhs || chr(1)) AS seq
            FROM s${i - 1} CROSS JOIN b$i)""")
    }
    "WITH " + (head ++ rounds).mkString(",\n")
  }

  /** q180 oracle: the MI CTE block instantiated per column pair
    * (lang×source, plus lang×lang as the full-dependency
    * calibration), flog2q terms from the shared kernel. */
  private def mutualInfoOracleSql: String = {
    val tpl = """cells__P__ AS (SELECT __X__ AS x, __Y__ AS y,
                                 CAST(COUNT(*) AS BIGINT) AS cxy
                          FROM documents GROUP BY 1, 2),
      rx__P__ AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS rx FROM cells__P__ GROUP BY 1),
      cy__P__ AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM cells__P__ GROUP BY 1),
      t__P__ AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM cells__P__),
      a__P__ AS (SELECT '__P__' AS pair,
                        CAST(COUNT(*) AS BIGINT) AS n_cells,
                        t.n AS n_rows,
                        CAST(SUM(cxy * (__FLOG_J__ - __FLOG_M__)) * 10000
                             // (16 * t.n) AS BIGINT) AS mi_e4
                 FROM cells__P__ JOIN rx__P__ USING (x) JOIN cy__P__ USING (y)
                 CROSS JOIN t__P__ t GROUP BY t.n)"""
      .replace("__FLOG_J__", graft.operators.Curation.flog2qSql("cxy * t.n"))
      .replace("__FLOG_M__", graft.operators.Curation.flog2qSql("rx * cy"))
    "WITH " +
      tpl.replace("__P__", "lang_source").replace("__X__", "lang").replace("__Y__", "source") +
      ",\n" +
      tpl.replace("__P__", "lang_lang").replace("__X__", "lang").replace("__Y__", "lang") +
      "\nSELECT * FROM alang_source UNION ALL SELECT * FROM alang_lang ORDER BY pair"
  }

  /** q174 oracle: the same Gini+Theil CTE block instantiated per
    * grouping dimension (source, lang), flog2q terms generated from
    * the shared kernel so engine and oracle can never drift. */
  private def inequalityOracleSql: String = {
    val tpl = """tok__DIM__ AS (
        SELECT __DIM__ AS grp, CAST(len(string_split(text, ' ')) AS BIGINT) AS sz
        FROM documents),
      c__DIM__ AS (SELECT grp, CAST(SUM(sz) AS BIGINT) AS x FROM tok__DIM__ GROUP BY 1),
      t__DIM__ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t FROM c__DIM__),
      r__DIM__ AS (SELECT x, CAST(row_number() OVER (ORDER BY x ASC, grp ASC) AS BIGINT) AS i
                   FROM c__DIM__),
      a__DIM__ AS (SELECT '__DIM__' AS dim, t.n AS n_groups, t.t AS total,
                          CAST((2 * SUM(i * x) - (t.n + 1) * t.t) * 10000 // (t.n * t.t) AS BIGINT) AS gini_e4,
                          CAST(SUM(CASE WHEN x > 0 THEN x * (
                                 __FLOG_XN__ - __FLOG_T__)
                               ELSE 0 END) * 10000 // (16 * t.t) AS BIGINT) AS theil_e4
                   FROM r__DIM__ CROSS JOIN t__DIM__ t GROUP BY t.n, t.t)"""
      .replace("__FLOG_XN__", graft.operators.Curation.flog2qSql("x * t.n"))
      .replace("__FLOG_T__", graft.operators.Curation.flog2qSql("t.t"))
    "WITH " + tpl.replace("__DIM__", "source") + ",\n" +
      tpl.replace("__DIM__", "lang") +
      "\nSELECT * FROM asource UNION ALL SELECT * FROM alang ORDER BY dim"
  }

  /** Shared q241/q245 engine body — line, score each line against
    * the corpus-fit bigram model (a codegen literal inside the array
    * `filter` lambda), drop unfamiliar lines, reassemble in order.
    * Stated ONCE so the batch query and the streaming lane can never
    * drift (their oracle is likewise the shared [[ccnetLineOracle]]);
    * `target` is the batch documents frame or its unbounded stream —
    * the projection is stateless either way. */
  private def lineFilterProjection(target: org.apache.spark.sql.DataFrame,
                                   lm: graft.functions.CharLmModel): org.apache.spark.sql.DataFrame = {
    val lines = split(
      regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n"), "\n")
    val kept = filter(lines, l => {
      val sc = GraftFunctions.char_bigram_score(l, lm)
      sc.getField("n_bigrams") > lit(0L) &&
        sc.getField("n_rare") * lit(20L) <= sc.getField("n_bigrams")
    })
    target.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("kept_text"))
  }

  /** Shared q241/q245 oracle — the per-line LM filter stated once;
    * q245 (the STREAMING deployment) must equal the batch result
    * exactly. */
  private val ccnetLineOracle: String = """
      WITH m0 AS MATERIALIZED (
        SELECT bg, COUNT(*) AS bg_count FROM (
          SELECT unnest(list_transform(range(1, length(text)), i -> substr(text, i, 2))) AS bg
          FROM documents) GROUP BY bg),
      tot AS (SELECT SUM(bg_count) AS t FROM m0),
      ls AS MATERIALIZED (
        SELECT doc_id,
               string_split(regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g'),
                            chr(10)) AS arr
        FROM documents),
      lx AS MATERIALIZED (
        SELECT ls.doc_id, CAST(u.i AS INTEGER) AS line_no,
               ls.arr[CAST(u.i AS INTEGER)] AS line
        FROM ls, UNNEST(range(1, len(ls.arr) + 1)) u(i)),
      lb AS (
        SELECT doc_id, line_no,
               unnest(list_transform(range(1, length(line)), i -> substr(line, i, 2))) AS bg
        FROM lx),
      lsc AS (
        SELECT lb.doc_id, lb.line_no, COUNT(*) AS nb,
               SUM(CASE WHEN m0.bg_count * 2000 < (SELECT t FROM tot)
                        THEN 1 ELSE 0 END) AS nr
        FROM lb JOIN m0 USING (bg) GROUP BY 1, 2),
      flagged AS (
        SELECT lx.doc_id, lx.line_no, lx.line,
               COALESCE(l2.nb, 0) > 0 AND COALESCE(l2.nr, 0) * 20 <= COALESCE(l2.nb, 0) AS ok
        FROM lx LEFT JOIN lsc l2 USING (doc_id, line_no))
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             COALESCE(string_agg(CASE WHEN ok THEN line END, chr(10) ORDER BY line_no), '')
               AS kept_text
      FROM flagged GROUP BY 1 ORDER BY doc_id"""

  val qs: Seq[Q] = Seq(

    // ---- q158: BPE merge training — the tokenizer-fit step. The
    // corpus is scanned once for the word census; each of the 10
    // merge rounds is a pair census + TakeOrdered(1) argmax over the
    // DICTIONARY only (never the corpus), so the loop cost is
    // independent of corpus size. Census counts overlapping
    // positions; application is greedy left-to-right (`replace` has
    // identical semantics in Spark and DuckDB — BpeSpec pins the
    // "aaa" overlap case).
    Q("q158_bpe_merges", Some(bpeChainSql(10) + "\n" +
      (1 to 10).map(i =>
          s"SELECT CAST($i AS BIGINT) AS merge_rank, lhs, rhs, lhs || rhs AS merged, pair_count FROM b$i")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY merge_rank"))) { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (merges, _) = graft.operators.Bpe.learnMergesAuto(words, "word", "freq", 10)
      merges.orderBy("merge_rank")
    },

    // ---- q159: BPE segmentation stats — apply the trained merges
    // to every document. Segmentation of a word depends only on the
    // word, so the corpus joins the SEGMENTED DICTIONARY once (AQE
    // broadcasts it here; at real vocabulary scale it is a plain
    // shuffle join) instead of re-running merges per document.
    // cpt_e4 = chars-per-token ×10⁴, exact integer division.
    Q("q159_bpe_segment", Some(bpeChainSql(10) + """,
      dict AS (SELECT word,
               CAST(len(string_split(seq[2:-2], chr(1) || chr(1))) AS BIGINT) AS ntok
               FROM s10),
      dw AS (SELECT doc_id, word
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
             WHERE word <> '')
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(ntok) AS BIGINT) AS n_tokens,
             CAST(SUM(length(word)) AS BIGINT) AS n_chars,
             CAST(SUM(length(word)) * 10000 // SUM(ntok) AS BIGINT) AS cpt_e4
      FROM dw JOIN dict USING (word)
      GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (_, dict) = graft.operators.Bpe.learnMergesAuto(words, "word", "freq", 10)
      graft.operators.Bpe.segmentStats(docs, "doc_id", "text", dict)
        .orderBy("doc_id")
    },

    // ---- q20: exact dedup by order-invariant fingerprint.
    // One narrow projection + one group-by shuffle on the 128-bit
    // fingerprint — the canonical 100 TB exact-dedup plan.
    Q("q20_dedup_exact", Some("""
      SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
             MIN(doc_id) AS doc_id,
             COUNT(*) AS n_dups
      FROM documents
      GROUP BY 1
      ORDER BY doc_id""")) { (s, d) =>
      Dedup.exactByFingerprint(Tables.documents(s, d)).orderBy("doc_id")
    },

    // ---- q21: MinHash + LSH banding, exactly verified at 0.99.
    // Survivor pairs have identical token sets, which MinHash catches
    // with probability exactly 1 — the gate result is deterministic,
    // not probabilistic.
    Q("q21_dedup_minhash_lsh", Some(jaccardOracle(0.99))) { (s, d) =>
      Dedup.minhashNearDupPairs(Tables.documents(s, d), threshold = 0.99)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q146: edit-distance near-dup join — the FUZZY tier below
    // the set-similarity family: Jaccard sees token bags, Levenshtein
    // sees the character sequence (OCR noise, typo'd re-posts).
    // Prefix blocking (equal first-8-words key) is the
    // record-linkage candidate cut — deterministic and replayed
    // verbatim by the oracle — and verification is both engines'
    // native levenshtein. Twins append ' zz' (3 edits, prefix
    // intact) so every planted pair blocks together and verifies at
    // maxEdits=4; the corpus's exact duplicates surface at 0 edits.
    Q("q146_editdist_neardup", Some("""
      WITH k AS (
        SELECT doc_id, text,
               array_to_string(string_split(text, ' ')[1:8], ' ') AS blk
        FROM (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text || ' zz'
              FROM documents WHERE doc_id % 10 = 0))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(levenshtein(a.text, b.text) AS BIGINT) AS edits
      FROM k a JOIN k b ON b.blk = a.blk AND a.doc_id < b.doc_id
      WHERE levenshtein(a.text, b.text) <= 4
      ORDER BY doc_a, doc_b""")) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val twins = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      Dedup.editDistanceNearDup(docs.unionByName(twins), maxEdits = 4)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q148: global paragraph-level dedup + document
    // reconstruction — the Dolma/RefinedWeb sub-document pass:
    // paragraphs (fixed 8-token windows on this layout-free corpus)
    // keep their first (doc, idx) occurrence only, documents
    // re-assemble from survivors in order. Every fifth document gets
    // a planted 8-token boilerplate banner prepended (the repeated
    // nav-bar shape the op exists for), so exactly one banner copy
    // survives. First-occurrence keys pack (doc, idx) into one long;
    // the oracle replays windows, census min and ordered re-concat
    // from first principles.
    Q("q148_paragraph_dedup", Some("""
      WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN 'b0 b1 b2 b3 b4 b5 b6 b7 ' || text
                    ELSE text END AS text
        FROM documents),
      t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM src),
      p0 AS (SELECT doc_id, toks,
               CAST(unnest(range(0, CAST(ceil(len(toks)/8.0) AS BIGINT))) AS BIGINT) AS idx
             FROM t),
      p AS (SELECT doc_id, idx,
              array_to_string(toks[(idx*8+1):(idx*8+8)], ' ') AS para
            FROM p0),
      w AS (SELECT para, MIN(doc_id*100000 + idx) AS wk FROM p GROUP BY 1),
      s AS (SELECT p.doc_id, p.idx, p.para,
                   (p.doc_id*100000 + p.idx = w.wk) AS keep
            FROM p JOIN w USING (para))
      SELECT doc_id,
             COUNT(*) AS n_paras,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             string_agg(CASE WHEN keep THEN para END, ' ' ORDER BY idx) AS text
      FROM s GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
      val banner = "b0 b1 b2 b3 b4 b5 b6 b7 "
      val src = Tables.documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(lit(banner), col("text"))).otherwise(col("text")).as("text"))
      Curation.paragraphDedup(src, Curation.tokenWindows(col("text"), 8))
        .orderBy("doc_id")
    },

    // ---- q156: MinHash-LSH recall audit — per-Jaccard-bucket recall
    // of the banding stage against exact ground truth on an
    // every-25th-doc sample (the q127 sampled-audit convention: the
    // exact side IS the cost, sampling is what makes it affordable).
    // bands=16 × rows=4 gives a real S-curve on this corpus —
    // partial recall at low similarity rising toward 1. The oracle
    // replays the exact inverted-index join AND the full
    // minhash/banding pipeline (0-based permutations, 4-row band
    // keys) from first principles; band equality via the raw slice
    // tuple, which equals the engine's hashed band key modulo
    // xxhash collisions (the md5-fingerprint class of assumption).
    Q("q156_dedup_recall_audit", Some("""
      WITH s AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
      d AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks FROM s),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      l AS (SELECT doc_id, len(toks) AS n FROM d),
      ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
             FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      ex AS MATERIALIZED (
        SELECT doc_a, doc_b,
               floor((ov/(la.n+lb.n-ov))*10000 + 0.5)/10000 AS j
        FROM ov JOIN l la ON la.doc_id = doc_a JOIN l lb ON lb.doc_id = doc_b
        WHERE ov/(la.n+lb.n-ov) >= 0.3),
      h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,7))::BIGINT AS h FROM t),
      perm AS (SELECT i, ((i*2654435761) % 2147483647) | 1 AS a,
                      (i*40503*65537 + 17) % 2147483647 AS b
               FROM generate_series(0, 63) g(i)),
      sig AS (SELECT doc_id, i, MIN((a*h + b) % 2147483647) AS v
              FROM h CROSS JOIN perm GROUP BY 1, 2),
      band AS MATERIALIZED (
        SELECT doc_id, i//4 AS bnd, string_agg(v, ',' ORDER BY i) AS key
        FROM sig GROUP BY 1, 2),
      cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band a JOIN band b ON b.bnd = a.bnd AND b.key = a.key
          AND a.doc_id < b.doc_id)
      SELECT CAST(FLOOR(ex.j*10) AS BIGINT) AS bucket,
             COUNT(*) AS n_true,
             CAST(COUNT(cand.doc_a) AS BIGINT) AS n_found,
             CAST(COUNT(cand.doc_a) AS DOUBLE) / COUNT(*) AS recall
      FROM ex LEFT JOIN cand USING (doc_a, doc_b)
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      Dedup.minhashRecallAudit(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(25L)) === 0L),
          threshold = 0.3, bands = 16, rowsPerBand = 4)
        .orderBy("bucket")
    },

    // ---- q152: DSIR hashed-n-gram importance weights — "make the
    // crawl look like the target": per-doc Σ over bigram instances of
    // the smoothed target-vs-raw bucket log-ratio plus the totals
    // normalizer, in 1/16-bit integer log2 (length(bin())+shift —
    // portable where ln() is not), target = the English slice.
    // Censuses are 8192-bucket bounded aggregates broadcast onto the
    // corpus scan. The oracle replays buckets, censuses and the
    // fixed-point log from first principles.
    Q("q152_dsir_importance", Some(s"""
      WITH tok AS MATERIALIZED (
        SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 8192 AS b
        FROM (SELECT doc_id,
                unnest([array_to_string(string_split(text,' ')[i:i+1], ' ')
                        FOR i IN range(1, len(string_split(text,' ')))]) AS g
              FROM documents)),
      ttok AS MATERIALIZED (
        SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 8192 AS b
        FROM (SELECT doc_id,
                unnest([array_to_string(string_split(text,' ')[i:i+1], ' ')
                        FOR i IN range(1, len(string_split(text,' ')))]) AS g
              FROM documents WHERE lang = 'en')),
      rcen AS (SELECT b, COUNT(*) AS cr FROM tok GROUP BY 1),
      tcen AS (SELECT b, COUNT(*) AS ct FROM ttok GROUP BY 1),
      tot AS (SELECT (SELECT COUNT(*) FROM tok) AS tr,
                     (SELECT COUNT(*) FROM ttok) AS tt),
      sc AS (SELECT tok.doc_id, COUNT(*) AS n_ngrams,
               CAST(SUM(${Curation.flog2qSql("COALESCE(tcen.ct, 0) + 1")}
                      - ${Curation.flog2qSql("rcen.cr + 1")}
                      + ${Curation.flog2qSql("tot.tr + 1")}
                      - ${Curation.flog2qSql("tot.tt + 1")}) AS BIGINT) AS score_q
             FROM tok JOIN rcen USING (b) LEFT JOIN tcen USING (b), tot
             GROUP BY 1)
      SELECT d.doc_id, COALESCE(sc.n_ngrams, 0) AS n_ngrams,
             COALESCE(sc.score_q, 0) AS score_q
      FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.dsirImportance(docs, docs.filter(col("lang") === "en"), n = 2)
        .orderBy("doc_id")
    },

    // ---- q22: exact set-similarity self-join with prefix filtering
    // (PPJoin-style) at 0.9 — exact algorithm, so it matches the
    // brute-force oracle with zero recall caveats.
    Q("q22_simjoin_jaccard", Some(jaccardOracle(0.9))) { (s, d) =>
      Dedup.jaccardSimilarityJoin(Tables.documents(s, d), threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q23: SimHash signatures (custom Catalyst expression).
    Q("q23_simhash_signatures", Some(simhashCte + """
      SELECT doc_id, simhash FROM s ORDER BY doc_id""")) { (s, d) =>
      Dedup.simhashSignatures(Tables.documents(s, d)).orderBy("doc_id")
    },

    // ---- q24: SimHash near-dup pairs within hamming radius 5 via
    // pigeonhole banding (6 chunks of 10 bits — any pair at distance
    // <= 5 shares a chunk, so the banding is exact, not approximate).
    Q("q24_dedup_simhash", Some(simhashCte + """
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
      ORDER BY doc_a, doc_b""")) { (s, d) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, d), maxHamming = 5)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q25: token statistics (A11 word-count shape + subword
    // estimate) — single projection, no shuffle.
    Q("q25_token_stats", Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             floor((len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS distinct_ratio,
             CAST(list_sum(list_transform(string_split(text, ' '),
                  x -> CAST(CEIL(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
      FROM documents
      ORDER BY doc_id""")) { (s, d) =>
      val toks = TextFunctions.tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        (floor((size(array_distinct(toks)) / size(toks)) * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("distinct_ratio"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // ---- q26: composite quality score (generalizes the reference's
    // length/stopword gates, process_all.py:299). Quantized with
    // floor(x*1e4 + 0.5)/1e4 on BOTH sides instead of round(x, 4):
    // the engines' round() algorithms disagree when the raw double
    // sits one ULP under a .xxxx5 boundary (Spark rounds the exact
    // binary expansion HALF_UP → down; DuckDB's multiply-shift lands
    // exactly on .5 → up — a real sf0.001 doc flips). floor over
    // pure IEEE *,+ is bit-identical across engines.
    Q("q26_quality_score", Some(s"""
      SELECT doc_id,
             floor((0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                  + 0.3 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
                  + 0.3 * (len(list_filter(string_split(text, ' '),
                        x -> list_contains(${TextQueries.stopwordSqlList}, x))) / len(string_split(text, ' '))))
                   * 10000 + 0.5) / 10000
               AS quality
      FROM documents
      ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          (floor(TextFunctions.qualityScore(col("text")) * lit(10000.0d) + lit(0.5d))
            / lit(10000.0d)).as("quality"))
        .orderBy("doc_id")
    },

    // ---- q180: mutual information between categorical columns —
    // the column-dependency statistic of a data profiler (lang ×
    // source here, plus the lang × lang self-pair as the
    // full-dependency calibration row): flog2q integer logs of
    // exact count products, count-weighted, ±0.03-bit floor near
    // independence. Cell + marginal censuses only.
    Q("q180_mutual_information", Some(mutualInfoOracleSql)) { (s, d) =>
      val docs = Tables.documents(s, d)
      def one(p: String, x: String, y: String) =
        graft.operators.Stats.mutualInformation(
            docs.select(col(x).as("x"), col(y).as("y")), "x", "y")
          .select(lit(p).as("pair"), col("n_cells"), col("n_rows"), col("mi_e4"))
      one("lang_source", "lang", "source")
        .unionByName(one("lang_lang", "lang", "lang"))
        .orderBy("pair")
    },

    // ---- q174: corpus-balance inequality — exact Gini + flog2q
    // Theil of token mass per source AND per lang (one row each):
    // the "is the mix dominated by a few strata" one-liner next to
    // q167's which-stratum-diverges and q163's how-to-rebalance.
    // Gini rank is a GlobalRank over strata only; both metrics exact
    // longs.
    Q("q174_source_inequality", Some(inequalityOracleSql)) { (s, d) =>
      val docs = Tables.documents(s, d)
      def one(dim: String) = graft.operators.Stats.inequality(
          docs.select(col(dim).as("grp"),
            size(split(col("text"), " ")).cast("long").as("sz")),
          "grp", col("sz"))
        .select(lit(dim).as("dim"), col("n_groups"), col("total"),
          col("gini_e4"), col("theil_e4"))
      one("source").unionByName(one("lang")).orderBy("dim")
    },

    // ---- q173: vocabulary growth curve (Heaps' law) — cumulative
    // distinct vocabulary at 10 id-order cuts, EXACT without 10
    // distinct-counts: each word's first-occurrence census buckets
    // into bands, the band-spine cumulative IS the distinct count at
    // every cut simultaneously. One word census + one doc census,
    // both ≤10 rows; the spine's running sums are driver work.
    Q("q173_vocab_growth", Some("""
      WITH n AS (SELECT MAX(doc_id) + 1 AS nn FROM documents),
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      fs AS (SELECT LEAST(f * 10 // n.nn, 9) AS band,
                    CAST(COUNT(*) AS BIGINT) AS new_words
             FROM (SELECT w, MIN(doc_id) AS f FROM tok WHERE w <> '' GROUP BY 1)
             CROSS JOIN n GROUP BY 1),
      tp AS (SELECT LEAST(doc_id * 10 // n.nn, 9) AS band,
                    CAST(SUM(t) AS BIGINT) AS n_tokens,
                    CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM (SELECT doc_id, COUNT(*) AS t FROM tok WHERE w <> '' GROUP BY 1)
             CROSS JOIN n GROUP BY 1),
      b AS (SELECT g.band,
                   COALESCE(tp.n_docs, 0) AS n_docs,
                   COALESCE(tp.n_tokens, 0) AS n_tokens,
                   COALESCE(fs.new_words, 0) AS new_words
            FROM (SELECT unnest(range(10)) AS band) g
            LEFT JOIN fs USING (band) LEFT JOIN tp USING (band))
      SELECT band, n_docs, n_tokens, new_words,
             CAST(SUM(n_docs) OVER (ORDER BY band
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
             CAST(SUM(n_tokens) OVER (ORDER BY band
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
             CAST(SUM(new_words) OVER (ORDER BY band
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
      FROM b ORDER BY band""")) { (s, d) =>
      Curation.vocabGrowth(Tables.documents(s, d), "doc_id",
          filter(split(col("text"), " "), w => w =!= ""), checkpoints = 10)
        .orderBy("band")
    },

    // ---- q202: Zipf rank–frequency fit — the power-law diagnostic
    // completing the corpus-statistics trio: q173 (Heaps: how fast
    // does VOCABULARY grow), q182 (Hill: how heavy is a size TAIL),
    // and this (Zipf: does token FREQUENCY fall as rank^-s, the
    // natural-language fingerprint — synthetic/templated corpora
    // read flat). OLS of flog2q(freq) on flog2q(rank) over the top
    // 1024 ranks: the 1/16-bit integer log2 kernel keeps both
    // coordinates exact longs (rank ties resolve by (freq DESC,
    // word)), and linearFit's exact decimal sums make the double
    // closed form bit-identical cross-engine (the q71 recipe).
    // slope ≈ −s; one token census + one bounded 1024-row sort.
    Q("q202_zipf_fit", Some(s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM tok WHERE w <> '' GROUP BY 1),
      t AS (SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS rk FROM c),
      p AS (SELECT CAST(${graft.operators.Curation.flog2qSql("rk")} AS DECIMAL(12,0)) AS x,
                   CAST(${graft.operators.Curation.flog2qSql("f")} AS DECIMAL(18,2)) AS y
            FROM t WHERE rk <= 1024),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
              CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(x * y) AS DOUBLE) AS sxy,
              CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM p)
      SELECT n,
             CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
             CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                  THEN (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE) END AS intercept,
             CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 AND CAST(n AS DOUBLE) * syy - sy * sy <> 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
      FROM s""")) { (s, d) =>
      val census = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("w"))
      val ranked = census.orderBy(col("f").desc, col("w")).limit(1024)
        .select(row_number().over(w).cast("long").as("rk"), col("f"))
      graft.operators.Stats.linearFit(
        ranked.select(
          expr(graft.operators.Curation.flog2qSql("rk")).as("lx"),
          expr(graft.operators.Curation.flog2qSql("f")).as("ly")),
        Seq.empty, col("lx"), col("ly"))
    },

    // ---- q209: tokenizer fertility by language — the multilingual
    // tokenizer-equity audit (a tokenizer that spends 3× the tokens
    // per word on one language triples its effective cost and
    // shrinks its effective context): q27's language id × q159's
    // fitted-BPE segmentation statistics, rolled up per predicted
    // language. fertility_e4 = tokens-per-word, cpt_e4 = chars-per-
    // token, both exact integer fixed-point. Pure composition of two
    // oracled machines — one langid scan + the q159 per-doc stats +
    // one ≤|languages| rollup.
    Q("q209_tokenizer_fertility", Some(bpeChainSql(10) + s""",
      dict AS (SELECT word,
               CAST(len(string_split(seq[2:-2], chr(1) || chr(1))) AS BIGINT) AS ntok
               FROM s10),
      dw AS (SELECT doc_id, word
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
             WHERE word <> ''),
      seg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                     CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                     CAST(SUM(length(word)) AS BIGINT) AS n_chars
              FROM dw JOIN dict USING (word) GROUP BY 1),
      lang AS (SELECT * FROM (${LangId.oracleSql}))
      SELECT lang.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST(SUM(n_tokens) * 10000 // SUM(n_words) AS BIGINT) AS fertility_e4,
             CAST(SUM(n_chars) * 10000 // SUM(n_tokens) AS BIGINT) AS cpt_e4
      FROM seg JOIN lang USING (doc_id)
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (_, dict) = graft.operators.Bpe.learnMergesAuto(words, "word", "freq", 10)
      val seg = graft.operators.Bpe.segmentStats(docs, "doc_id", "text", dict)
      val lang = docs.select(col("doc_id"),
        LangId.predict(col("text")).as("pred_lang"))
      seg.join(lang, "doc_id")
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
        .withColumn("fertility_e4", expr("n_tokens * 10000L div n_words"))
        .withColumn("cpt_e4", expr("n_chars * 10000L div n_tokens"))
        .orderBy("pred_lang")
    },

    // ---- q210: one-vs-rest KS length drift per source — "which
    // source's document-length distribution drifts from the rest of
    // the corpus?" asked for ALL sources in one pass: q194's
    // two-sample KS needs a labeled pair, this reads every source's
    // exact max-CDF-gap off the shared (source, length) census (the
    // gap's extremes provably land on the source's own census cells,
    // so there is no sources × lengths grid — see
    // Stats.ksOneVsRest). D_g = d_num / (n_g·(N−n_g)) is one
    // consumer-side division; the length census is bounded by
    // distinct token counts.
    Q("q210_source_length_drift", Some("""
      WITH e AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
                 FROM documents WHERE source IS NOT NULL),
      c AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cc FROM e GROUP BY 1, 2),
      gc AS (SELECT source, v, cc,
               SUM(cc) OVER (PARTITION BY source ORDER BY v) AS cuma,
               SUM(cc) OVER (PARTITION BY source) AS ng
             FROM c),
      p AS (SELECT v, CAST(SUM(cc) AS BIGINT) AS pc FROM c GROUP BY 1),
      pp AS (SELECT v, pc, SUM(pc) OVER (ORDER BY v) AS cump FROM p),
      nn AS (SELECT CAST(SUM(cc) AS BIGINT) AS nn FROM c)
      SELECT gc.source, CAST(MAX(gc.ng) AS BIGINT) AS n_g,
             CAST(MAX(nn.nn - gc.ng) AS BIGINT) AS n_rest,
             CAST(MAX(GREATEST(
               ABS(gc.cuma * nn.nn - pp.cump * gc.ng),
               ABS((gc.cuma - gc.cc) * nn.nn - (pp.cump - pp.pc) * gc.ng)))
               AS BIGINT) AS d_num
      FROM gc JOIN pp USING (v) CROSS JOIN nn
      GROUP BY 1 HAVING MAX(nn.nn - gc.ng) > 0
      ORDER BY source""")) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("source").isNotNull)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
      graft.operators.Stats.ksOneVsRest(docs, "source", col("ntok"))
        .orderBy("source")
    },

    // ---- q213: Cohen's kappa annotation audit — chance-corrected
    // agreement between the q27 heuristic language predictor and the
    // table's OWN lang column, per source ("which source's language
    // labels can we trust — and is the predictor just echoing the
    // majority class?"): raw accuracy rewards a constant-majority
    // rater, κ subtracts chance agreement. Exact integers on the
    // per-source confusion census; kappa_e6 is one signed truncating
    // division, null for the degenerate both-constant-equal case.
    Q("q213_lang_agreement", Some(s"""
      WITH lang AS (SELECT * FROM (${LangId.oracleSql})),
      r AS (SELECT d.source, lang.pred_lang AS a, d.lang AS b
            FROM documents d JOIN lang USING (doc_id)
            WHERE d.source IS NOT NULL AND d.lang IS NOT NULL),
      c AS (SELECT source, a, b, CAST(COUNT(*) AS BIGINT) AS c
            FROM r GROUP BY 1, 2, 3),
      ra AS (SELECT source, a AS l, CAST(SUM(c) AS BIGINT) AS rr
             FROM c GROUP BY 1, 2),
      cb AS (SELECT source, b AS l, CAST(SUM(c) AS BIGINT) AS kk
             FROM c GROUP BY 1, 2),
      pe AS (SELECT ra.source, CAST(SUM(rr * kk) AS BIGINT) AS pe_num
             FROM ra JOIN cb ON cb.source = ra.source AND cb.l = ra.l
             GROUP BY 1),
      base AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS n_agree
               FROM c GROUP BY 1)
      SELECT base.source, base.n, base.n_agree,
             COALESCE(pe.pe_num, 0) AS pe_num,
             CASE WHEN base.n * base.n <> COALESCE(pe.pe_num, 0)
                  THEN CAST(((CAST(base.n_agree AS HUGEINT) * base.n
                         - COALESCE(pe.pe_num, 0))
                       * 1000000) // (base.n * base.n - COALESCE(pe.pe_num, 0))
                       AS BIGINT)
             END AS kappa_e6
      FROM base LEFT JOIN pe ON pe.source = base.source
      ORDER BY base.source""")) { (s, d) =>
      val docs = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .select(col("source"), col("lang"),
          LangId.predict(col("text")).as("pred_lang"))
      graft.operators.Stats.cohenKappa(docs, Seq("source"),
          col("pred_lang"), col("lang"))
        .orderBy("source")
    },

    // ---- q172: quality selection curve — per q26-score band (×10⁴
    // in 10 bands), own mass and SURVIVAL mass at that threshold
    // (suffix-cumulative docs/tokens + exact ×10⁴ surviving-token
    // fraction): the dashboard that picks a quality cutoff. One
    // census shuffle into ≤10 rows; the band spine's suffix sums are
    // driver work, empty bands emitting zeros.
    Q("q172_selection_curve", Some(s"""
      WITH q AS (
        SELECT CAST(floor((0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                  + 0.3 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
                  + 0.3 * (len(list_filter(string_split(text, ' '),
                        x -> list_contains(${TextQueries.stopwordSqlList}, x))) / len(string_split(text, ' '))))
                   * 10000 + 0.5) AS BIGINT) AS s,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      c AS (SELECT GREATEST(0, LEAST(s // 1000, 9)) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS n_tokens
            FROM q GROUP BY 1),
      b AS (SELECT g.bin, COALESCE(c.n_docs, 0) AS n_docs,
                   COALESCE(c.n_tokens, 0) AS n_tokens
            FROM (SELECT unnest(range(10)) AS bin) g LEFT JOIN c USING (bin)),
      t AS (SELECT SUM(n_tokens) AS tt FROM b)
      SELECT bin, n_docs, n_tokens,
             CAST(SUM(n_docs) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS surv_docs,
             CAST(SUM(n_tokens) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS surv_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
               // GREATEST(t.tt, 1) AS BIGINT) AS surv_frac_e4
      FROM b CROSS JOIN t
      ORDER BY bin""")) { (s, d) =>
      Curation.selectionCurve(Tables.documents(s, d),
          floor(TextFunctions.qualityScore(col("text")) * lit(10000.0d) + lit(0.5d)),
          size(split(col("text"), " ")), bins = 10, widthE4 = 1000L)
        .orderBy("bin")
    },

    // ---- q27: stopword-profile language id — argmax over profile
    // hit counts with deterministic tie-break.
    Q("q27_langid", Some(LangId.oracleSql)) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), LangId.predict(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },

    // ---- q28: document fingerprints: order-invariant md5 + min
    // 60-bit hash over word 3-gram shingles (winnowing witness).
    Q("q28_fingerprints", Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
                          generate_subscripts(string_split(text, ' '), 1) AS i
                   FROM documents),
      sh AS (SELECT doc_id, t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS s
             FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY i)
             QUALIFY lead(t, 2) OVER w IS NOT NULL),
      m AS (SELECT doc_id, MIN(('0x' || substr(md5(s), 1, 15))::BIGINT) AS min_shingle_hash
            FROM sh GROUP BY doc_id)
      SELECT d.doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(d.text, ' '))), ' ')) AS fp,
             m.min_shingle_hash
      FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      // Tokenize ONCE: both outputs derive from the same `toks`
      // projection (CollapseProject keeps a non-cheap alias referenced
      // twice un-inlined, so split() runs once per row — the inline
      // form re-evaluated it per consumer).
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          md5(array_join(array_sort(array_distinct(col("toks"))), " ")).as("fp"),
          GraftFunctions.min_shingle_hash(col("toks"), 3).as("min_shingle_hash"))
        .orderBy("doc_id")
    },

    // ---- q29: stateful sentence grouping (F10) — order-dependent
    // greedy scan, expressed for the oracle as a DuckDB recursive CTE
    // that walks each doc's sentences in order carrying (group idx,
    // running word count, accumulated text). DuckDB's RE2 lacks the
    // lookahead Spark splits with, so the split is emulated by
    // marker-replace (" spark" → \x01"spark") + plain split — byte-
    // identical piece boundaries. ScalaTest additionally pins exact
    // semantics on handwritten cases.
    Q("q29_sentence_groups", Some("""
      WITH RECURSIVE
      pieces AS (
        SELECT doc_id,
               string_split(replace(text, ' spark', chr(1) || 'spark'), chr(1)) AS sents
        FROM documents),
      sent0 AS (
        SELECT doc_id,
               CAST(generate_subscripts(sents, 1) - 1 AS BIGINT) AS seq,
               unnest(sents) AS sentence
        FROM pieces),
      sent AS (
        SELECT doc_id, seq, sentence,
               len(string_split_regex(sentence, '\s+')) AS w
        FROM sent0
        WHERE sentence IS NOT NULL AND sentence <> ''),
      ord AS (
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY seq) - 1 AS BIGINT) AS i,
               sentence, w
        FROM sent),
      walk AS (
        SELECT doc_id, i, 0 AS gi, w AS cum, sentence AS txt
        FROM ord WHERE i = 0
        UNION ALL
        SELECT o.doc_id, o.i,
               CASE WHEN wk.cum >= 20 THEN wk.gi + 1 ELSE wk.gi END,
               CASE WHEN wk.cum >= 20 THEN o.w ELSE wk.cum + o.w END,
               CASE WHEN wk.cum >= 20 THEN o.sentence ELSE wk.txt || ' ' || o.sentence END
        FROM walk wk JOIN ord o ON o.doc_id = wk.doc_id AND o.i = wk.i + 1),
      last AS (
        SELECT doc_id, gi,
               arg_max(txt, i) AS text,
               arg_max(cum, i) AS cum
        FROM walk GROUP BY doc_id, gi),
      mx AS (SELECT doc_id, MAX(gi) AS max_gi FROM last GROUP BY doc_id)
      SELECT l.doc_id,
             CAST(l.gi AS INTEGER) AS group_idx,
             l.text,
             CAST(l.cum AS INTEGER) AS word_count
      FROM last l JOIN mx ON mx.doc_id = l.doc_id
      WHERE l.cum >= 20 OR (l.gi = mx.max_gi AND l.cum >= 10)
      ORDER BY l.doc_id, group_idx""")) { (s, d) =>
      val sentences = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " (?=spark)")))
        .toDF("doc_id", "seq", "sentence")
      SentenceGrouping(sentences, "doc_id", "seq", "sentence", minWords = 20)
        .withColumnRenamed("key", "doc_id")
        .orderBy("doc_id", "group_idx")
    },

    // ---- q43: n-gram (shingle-set) Jaccard similarity join — the
    // word-3-gram variant of q22. Shingles are represented as
    // compact 15-hex md5 tokens (one codegen'd pass; the raw-string
    // HOF form re-built every shingle chain on each DAG branch of
    // the join and was 10× slower) so the same collapsed
    // prefix-filter join runs unchanged over the shingle vocabulary;
    // order-sensitive near-dups that share vocabulary but not
    // phrasing separate here, unlike in token-set Jaccard.
    Q("q43_simjoin_ngram", Some("""
      WITH g AS (
        SELECT doc_id,
               array_to_string(list_transform(
                 [array_to_string(string_split(text,' ')[i:i+2], ' ')
                  FOR i IN range(1, len(string_split(text,' ')) - 1)],
                 x -> substr(md5(x), 1, 15)), ' ') AS text
        FROM documents
        WHERE len(string_split(text,' ')) >= 3),
      d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM g),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      l AS (SELECT doc_id, len(toks) AS n FROM d),
      ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
             FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT doc_a, doc_b, floor((ov / (la.n + lb.n - ov)) * 10000 + 0.5) / 10000 AS jaccard
      FROM ov JOIN l la ON la.doc_id = doc_a JOIN l lb ON lb.doc_id = doc_b
      WHERE ov / (la.n + lb.n - ov) >= 0.9
      ORDER BY doc_a, doc_b""")) { (s, d) =>
      Dedup.jaccardSimilarityJoin(q43Corpus(Tables.documents(s, d)), threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q46: PPJoin on its REAL workload — a word-token corpus
    // with a ~25k-token vocabulary and Zipf-skewed frequencies (the
    // shape crawler-scale text dedup sees), unlike q22 (31-token
    // vocab → bitmask path) and q43 (unique-shingle tokens → every
    // prefix token is rare). The corpus derives deterministically
    // from every third order (a bench-sized subset that keeps the
    // frequency shape): doc k gets 8 + k%8 tokens, token j's id is
    // md5-hash-driven through an integer log-skew map
    // (tok = h_hi % (1 + h_lo % 30000) — small ids common, tail ids
    // rare; all-integer, so Spark and DuckDB agree bit-for-bit), and
    // every ninth order also emits a near-dup twin with the last
    // token dropped (Jaccard (n-1)/n, straddling the 0.9 threshold
    // by distinct-set size). At sf0.1 the ~67k-doc corpus exceeds
    // the bitmask rep bound, so this times prefixFilteredPairs —
    // rarest-first prefixes, length + positional filters — against
    // the oracle's full inverted-index join. (At sf0.01 the corpus
    // is under the rep bound but the vocabulary probe still routes
    // it to the prefix path: ~9k distinct tokens ≫ 64.)
    Q("q46_simjoin_words", Some("""
      WITH tok AS (
        SELECT o_orderkey AS k, j,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM orders CROSS JOIN generate_series(0, 14) g(j)
        WHERE o_orderkey % 3 = 0 AND j <= 7 + (o_orderkey % 8)),
      w AS (
        SELECT k, j,
               'w' || CAST((h >> 30) % (1 + ((h & 1073741823) % 30000)) AS VARCHAR) AS w
        FROM tok),
      docs AS (
        SELECT k * 2 AS doc_id, string_agg(w, ' ' ORDER BY j) AS text
        FROM w GROUP BY k
        UNION ALL
        SELECT k * 2 + 1 AS doc_id, string_agg(w, ' ' ORDER BY j) AS text
        FROM w WHERE k % 9 = 0 AND j < 7 + (k % 8) GROUP BY k),
      d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM docs),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      l AS (SELECT doc_id, len(toks) AS n FROM d),
      ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
             FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT doc_a, doc_b, floor((ov / (la.n + lb.n - ov)) * 10000 + 0.5) / 10000 AS jaccard
      FROM ov JOIN l la ON la.doc_id = doc_a JOIN l lb ON lb.doc_id = doc_b
      WHERE ov / (la.n + lb.n - ov) >= 0.9
      ORDER BY doc_a, doc_b""")) { (s, d) =>
      // The synthetic corpus is EXPENSIVE (one md5 per token); the
      // join's bounded guard probes would re-synthesize it per probe
      // without the checkpoint (measured ~1s of the query).
      Dedup.jaccardSimilarityJoin(q46Corpus(s, d).localCheckpoint(true), threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q47: near-dup cluster resolution end-to-end — MinHash+LSH
    // pairs at 0.99 (q21's exactly-verified pair set) → connected
    // components by hash-min label propagation → per-document
    // component assignment over the full corpus (docs with no
    // near-dup keep their own id). The oracle computes true
    // components with a recursive transitive closure over the same
    // pair set — fine at gate scale, and exactly what the iterative
    // distributed algorithm must reproduce.
    Q("q47_dedup_components", Some("""
      WITH RECURSIVE d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      l AS (SELECT doc_id, len(toks) AS n FROM d),
      ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
             FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      p AS (SELECT doc_a, doc_b
            FROM ov JOIN l la ON la.doc_id = doc_a JOIN l lb ON lb.doc_id = doc_b
            WHERE ov / (la.n + lb.n - ov) >= 0.99),
      e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
      reach(src, dst) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.dst = e2.a),
      comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
               FROM reach GROUP BY src)
      SELECT dd.doc_id, COALESCE(c.component_id, dd.doc_id) AS component_id
      FROM documents dd LEFT JOIN comp c ON c.doc_id = dd.doc_id
      ORDER BY dd.doc_id""")) { (s, d) =>
      Dedup.nearDupComponents(Tables.documents(s, d), threshold = 0.99)
        .orderBy("doc_id")
    },

    // ---- q75: canonical-document selection — the dedup ENDGAME
    // composed from q47's components: per near-dup cluster keep the
    // highest-quality member (most raw tokens, smallest id on ties)
    // plus the cluster size for audit. The oracle states the pick as
    // a window rank over the same recursive closure; the engine
    // computes it as a COMBINABLE struct-argmax aggregate —
    // max(struct(n_toks, -id)) — so the selection is a partial
    // aggregation that never re-shuffles every member row the way
    // the row_number formulation would.
    Q("q75_canonical_docs", Some("""
      WITH RECURSIVE d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      l AS (SELECT doc_id, len(toks) AS n FROM d),
      ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
             FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      p AS (SELECT doc_a, doc_b
            FROM ov JOIN l la ON la.doc_id = doc_a JOIN l lb ON lb.doc_id = doc_b
            WHERE ov / (la.n + lb.n - ov) >= 0.99),
      e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
      reach(src, dst) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.dst = e2.a),
      comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
               FROM reach GROUP BY src),
      asg AS (SELECT dd.doc_id, COALESCE(c.component_id, dd.doc_id) AS component_id
              FROM documents dd LEFT JOIN comp c ON c.doc_id = dd.doc_id),
      sz AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
             FROM documents),
      r AS (SELECT component_id, asg.doc_id, n_toks,
              row_number() OVER (PARTITION BY component_id
                                 ORDER BY n_toks DESC, asg.doc_id) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS n_members
            FROM asg JOIN sz ON sz.doc_id = asg.doc_id)
      SELECT component_id, doc_id AS keep_id, n_toks, n_members
      FROM r WHERE rn = 1
      ORDER BY component_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val comps = Dedup.nearDupComponents(docs, threshold = 0.99)
      val sized = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      comps.join(sized, "doc_id")
        .groupBy(col("component_id"))
        .agg(max(struct(col("n_toks"), (-col("doc_id")).as("nid"))).as("b"),
          count(lit(1)).as("n_members"))
        .select(col("component_id"), (-col("b.nid")).as("keep_id"),
          col("b.n_toks").as("n_toks"), col("n_members"))
        .orderBy("component_id")
    },

    // ---- q48: benchmark decontamination — flag every corpus doc
    // sharing a word 3-gram with an "eval set" (every 97th doc, so
    // the eval docs themselves are contaminated by construction and
    // organic collisions exercise the interesting path). Both sides
    // compare 15-hex md5 shingles, so the oracle is bit-identical.
    Q("q48_decontaminate", Some("""
      WITH ds AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 [array_to_string(string_split(text,' ')[i:i+2], ' ')
                  FOR i IN range(1, len(string_split(text,' ')) - 1)],
                 x -> substr(md5(x), 1, 15))) AS shs
        FROM documents),
      e AS (SELECT DISTINCT unnest(shs) AS sh FROM ds WHERE doc_id % 97 = 0),
      t AS (SELECT doc_id, unnest(shs) AS sh FROM ds),
      h AS (SELECT t.doc_id, COUNT(*) AS n FROM t JOIN e USING (sh) GROUP BY t.doc_id)
      SELECT d.doc_id,
             COALESCE(h.n, 0) AS n_eval_shingles,
             COALESCE(h.n, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.flagContaminated(
          docs, docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 3)
        .orderBy("doc_id")
    },

    // ---- q162: per-eval-doc memorization-risk — the reverse of
    // q48: grade each EVAL doc by the fraction of its distinct word
    // 3-grams the TRAINING corpus already contains. Train is scanned
    // once and semi-joined against the broadcast eval shingle set
    // (the distinct after the probe is O(eval), never O(train));
    // same 15-hex md5 shingles as q48 so both engines agree bitwise.
    Q("q162_memorization_risk", Some("""
      WITH ds AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 [array_to_string(string_split(text,' ')[i:i+2], ' ')
                  FOR i IN range(1, len(string_split(text,' ')) - 1)],
                 x -> substr(md5(x), 1, 15))) AS shs
        FROM documents),
      es AS (SELECT doc_id, unnest(shs) AS sh FROM ds WHERE doc_id % 97 = 0),
      ts AS (SELECT DISTINCT unnest(shs) AS sh FROM ds WHERE doc_id % 97 <> 0),
      j AS (SELECT es.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN ts.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap
            FROM es LEFT JOIN ts ON ts.sh = es.sh GROUP BY 1)
      SELECT doc_id, n_shingles, n_overlap,
             CAST(n_overlap * 10000 // n_shingles AS BIGINT) AS overlap_e4,
             CASE WHEN n_overlap * 10000 // n_shingles >= 5000 THEN 'high'
                  WHEN n_overlap * 10000 // n_shingles >= 1000 THEN 'medium'
                  ELSE 'low' END AS risk
      FROM j ORDER BY doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Curation.memorizationRisk(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 3)
        .orderBy("doc_id")
    },

    // ---- q49: token-budget sequence packing — greedy next-fit into
    // 512-token sequences across 32 id-modulo shards. The oracle
    // replays the sequential walk per shard with a recursive CTE
    // (the q29 pattern); the Spark side is the one-shuffle
    // repartition + sortWithinPartitions + mapPartitions shape.
    Q("q49_pack_sequences", Some("""
      WITH RECURSIVE
      d AS (SELECT doc_id, doc_id % 32 AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS w
            FROM documents),
      ord AS (SELECT doc_id, shard, w,
                     CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1 AS BIGINT) AS i
              FROM d),
      walk AS (
        SELECT shard, i, doc_id, CAST(0 AS BIGINT) AS seq, w AS cum, w
        FROM ord WHERE i = 0
        UNION ALL
        SELECT o.shard, o.i, o.doc_id,
               CASE WHEN wk.cum + o.w > 512 THEN wk.seq + 1 ELSE wk.seq END,
               CASE WHEN wk.cum + o.w > 512 THEN o.w ELSE wk.cum + o.w END,
               o.w
        FROM walk wk JOIN ord o ON o.shard = wk.shard AND o.i = wk.i + 1)
      SELECT doc_id, shard, seq AS seq_id, w AS n_tokens
      FROM walk
      ORDER BY doc_id""")) { (s, d) =>
      Curation.packSequences(Tables.documents(s, d), maxTokens = 512, shards = 32)
        .orderBy("doc_id")
    },

    // ---- q50: deterministic stratified sampling by language —
    // en 25% / de 50% / fr 100% / es 10% / zh 0% via md5-bucket
    // thresholds, a pure codegen'd filter the oracle replays
    // selection-for-selection.
    Q("q50_sample_stratified", Some("""
      SELECT doc_id, lang FROM documents
      WHERE ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 <
            CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
                      WHEN 'fr' THEN 1000000 WHEN 'es' THEN 100000 ELSE 0 END
      ORDER BY doc_id""")) { (s, d) =>
      Curation.sampleStratified(
          Tables.documents(s, d), col("lang"),
          Map("en" -> 0.25, "de" -> 0.5, "fr" -> 1.0, "es" -> 0.1))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // ---- q74: deterministic bottom-k (KMV) sample — the FIXED-SIZE
    // companion to q50's fixed-rate stratified filter: per language,
    // the 10 docs with the smallest salted 48-bit md5 hash. Ranking
    // rides the bounded TopK aggregator (≤k candidates per stratum
    // per partition BEFORE the shuffle — the window-rank oracle
    // formulation below re-shuffles every row, which is exactly the
    // plan the operator avoids); 48-bit hashes round-trip the
    // double candidate channel exactly, so the oracle's integer
    // ordering and the aggregator's double ordering agree
    // bit-for-bit.
    Q("q74_sample_bottomk", Some("""
      WITH h AS (SELECT lang, doc_id,
               ('0x' || substr(md5('boka:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS sample_hash
             FROM documents),
      r AS (SELECT lang, doc_id, sample_hash,
              CAST(row_number() OVER (PARTITION BY lang
                                      ORDER BY sample_hash, doc_id) AS BIGINT) AS rank
            FROM h)
      SELECT lang, doc_id, rank, sample_hash
      FROM r WHERE rank <= 10
      ORDER BY lang, rank""")) { (s, d) =>
      Curation.bottomKSample(Tables.documents(s, d), "lang", k = 10)
        .orderBy("lang", "rank")
    },

    // ---- q76: token-budget domain mixing — cap every language at
    // 6000 tokens. The corpus is en-heavy (~3x the other languages),
    // so the derived keep-rates actually rebalance: en is sampled
    // hardest, small languages pass at higher rates (and at sf0.001
    // a language under the budget passes WHOLE — both branches of
    // the least() exercise). Pass 1's shuffle is O(domains) after
    // map-side combine; pass 2 is a broadcast join + codegen filter.
    // The only float step, least(1.0, budget/tokens)*1e6, is
    // correctly-rounded IEEE ops with matching shape on both sides.
    Q("q76_mix_token_budget", Some("""
      WITH t AS (SELECT doc_id, lang,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      r AS (SELECT lang,
                   CAST(floor(LEAST(1.0, CAST(6000 AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS mix_threshold
            FROM t GROUP BY lang)
      SELECT t.doc_id, t.lang, t.n_tokens, r.mix_threshold
      FROM t JOIN r USING (lang)
      WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
            < r.mix_threshold
      ORDER BY doc_id""")) { (s, d) =>
      Curation.mixByTokenBudget(Tables.documents(s, d), "lang", tokenBudget = 6000)
        .orderBy("doc_id")
    },

    // ---- q163: temperature mixture apportionment — per-source
    // sampling weights ∝ size^0.5 (α fixed at 0.5: IEEE sqrt is
    // correctly rounded in both engines, generic pow is not) with
    // the 100k-unit budget split by exact largest-remainder (Hare)
    // apportionment in long arithmetic — allocations sum to the
    // budget on any input. One corpus census shuffle; the remainder
    // rank is a GlobalRank over the strata table only.
    Q("q163_temperature_mix", Some("""
      WITH c AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
      w AS (SELECT source, n_tokens,
                   CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_fp
            FROM c),
      t AS (SELECT SUM(w_fp) AS tw FROM w),
      b AS (SELECT source, n_tokens, w_fp,
                   (100000 * w_fp) // t.tw AS base,
                   (100000 * w_fp) % t.tw AS rem
            FROM w, t),
      l AS (SELECT 100000 - SUM(base) AS lft FROM b),
      r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b)
      SELECT source, n_tokens, w_fp,
             CAST(base + CASE WHEN rk <= l.lft THEN 1 ELSE 0 END AS BIGINT) AS alloc
      FROM r, l ORDER BY source""")) { (s, d) =>
      Curation.temperatureAllocate(Tables.documents(s, d), "source",
          size(split(col("text"), " ")).cast("long"), budget = 100000L)
        .orderBy("source")
    },

    // ---- q215: IPF / raking mix optimizer — the TWO-marginal mix
    // question q163's one-axis apportionment can't pose: "give every
    // LANG an equal share of the training mix while each SOURCE
    // keeps its observed share" (the driver data is en-heavy, so the
    // row passes genuinely move mass and the col passes genuinely
    // pull it back — the gate hashes a non-trivial trajectory, not a
    // round-0 fixed point) — the classic contingency-table
    // raking (Sinkhorn on counts), 4 alternating row/col scaling
    // passes in exact e6 fixed-point so the full fitted table
    // hash-gates (every pass = integer multiply by the e6 target,
    // integral divide by the current marginal — `div` ≡ `//`, both
    // truncating, values nonnegative). One corpus census shuffle,
    // collected under the maxCells fail-fast; the 8 scaling passes
    // run on the driver in exact integers.
    Q("q215_ipf_raking", Some(ipfOracleSql(4))) { (s, d) =>
      Curation.ipfRake(Tables.documents(s, d), "lang", "source", rounds = 4)
        .orderBy("lang", "source")
    },

    // ---- q222: class-based TF-IDF characterization — "which terms
    // DEFINE each source?" (BERTopic's c-TF-IDF): top-8 per-source
    // terms by in-source count × the paper's log(1 + A/f) rarity in
    // exact flog2q integers (A = avg class token mass, f = the
    // term's corpus count — the frequency form; a presence-df idf
    // degenerates to 0 on this corpus's shared vocabulary).
    // Complements q166's BM25 (per-QUERY doc ranking) and q99's
    // co-occurrence with per-CLASS vocabulary profiling. One explode
    // → census; idf/top-k stay census-space.
    Q("q222_ctfidf_terms", Some(s"""
      WITH t AS (SELECT source, UNNEST(string_split(text, ' ')) AS term
                 FROM documents WHERE source IS NOT NULL),
      c AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n
            FROM t GROUP BY 1, 2),
      d AS (SELECT term, CAST(SUM(n) AS BIGINT) AS f FROM c GROUP BY 1),
      nc AS (SELECT CAST(SUM(n) AS BIGINT) // CAST(COUNT(DISTINCT source) AS BIGINT) AS a
             FROM c),
      s AS (SELECT c.source, c.term, c.n, d.f,
                   c.n * ((${graft.operators.Curation.flog2qSql("d.f + nc.a")})
                          - (${graft.operators.Curation.flog2qSql("d.f")})) AS score_fp
            FROM c JOIN d USING (term) CROSS JOIN nc),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
                        ORDER BY score_fp DESC, term ASC) AS rank
            FROM s WHERE score_fp > 0)
      SELECT source, term, n, f AS f_corpus,
             CAST(score_fp AS BIGINT) AS score_fp,
             CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 8
      ORDER BY source, rank""")) { (s, d) =>
      Curation.classTfidfTerms(Tables.documents(s, d), "source", topK = 8)
        .orderBy("source", "rank")
    },

    // ---- q218: unigram surprisal — the CCNet-style perplexity
    // filter in exact integers: per-doc total surprisal under the
    // corpus unigram distribution, 1/16-bit log2 units (flog2q).
    // Low bits/token = templated text, high = rare-token soup — the
    // quality filter's two drop tails, complementing q94's trained
    // classifier and q26's heuristics with a corpus-relative signal.
    // One explode → vocab-bounded census → co-partitioned token
    // join-back → per-doc sum; total attaches broadcast.
    Q("q218_unigram_surprisal", Some(s"""
      WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                 FROM documents),
      c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cc FROM t GROUP BY 1),
      tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS tt FROM c)
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM((${graft.operators.Curation.flog2qSql("tot.tt")})
                    - (${graft.operators.Curation.flog2qSql("c.cc")})) AS BIGINT)
               AS surprisal_fp
      FROM t JOIN c USING (tok) CROSS JOIN tot
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      Curation.unigramSurprisal(Tables.documents(s, d)).orderBy("doc_id")
    },

    // ---- q231: BLEU/ROUGE components (r16) — generation-eval
    // statistics per (candidate, reference) pair in exact integers
    // (the q55 BM25 portable-exactness split: integer sufficient
    // components gate; the float BLEU — exp of the mean, e^(1-r/c)
    // brevity — is a display-side transform because exp/ln are not
    // bit-portable). Candidate = the first 80% of each document's
    // tokens, reference = the full document (the truncation shape an
    // eval harness scores); clipped matches are per-n multiset
    // intersections computed in one per-row kernel — no explode, no
    // shuffle, stream-deployable. ROUGE-n recall = m_n / r_n from
    // the same frame.
    Q("q231_bleu_components", Some(bleuOracleSql)) { (s, d) =>
      // Candidate = the 80%-token prefix of each document — censused
      // by the single-pass truncation expression (r17): the prefix is
      // never materialized as a string; candidate grams are a
      // positional slice of the reference grams. Bit-identical to the
      // r16 build-the-pair form (spec-pinned).
      graft.operators.Evaluation
        .bleuTruncationComponents(Tables.documents(s, d), "doc_id", "text", 8, 10)
        .orderBy("doc_id")
    },

    // ---- q230: Aho–Corasick blocklist hits (r16) — the literal
    // multi-pattern filter a 10⁴-entry blocklist needs (chained
    // per-pattern regexes are one scan per pattern; the automaton is
    // one O(chars + hits) pass per document regardless of pattern
    // count). OVERLAPPING occurrence counts by char, so patterns
    // cross word boundaries and self-overlapping patterns ("a a" in
    // "a a a") count both hits; the oracle IS the positional
    // substring census — per (doc, pattern), the count of positions
    // where the pattern starts — so the gate proves the automaton's
    // goto/fail/output machinery against the definition.
    Q("q230_blocklist_hits", Some("""
      WITH pats AS (SELECT * FROM (VALUES
        ('scan'), ('an'), ('hash join'), ('slow'), ('table t'),
        ('merge batch'), ('w s'), ('a a')) t(pattern)),
      h AS (SELECT d.doc_id, p.pattern,
              CAST(len(list_filter(
                     range(1, CAST(len(d.text) - len(p.pattern) + 2 AS BIGINT)),
                     i -> substr(d.text, CAST(i AS BIGINT), len(p.pattern))
                          = p.pattern)) AS BIGINT) AS n_hits
            FROM documents d CROSS JOIN pats p
            WHERE len(d.text) >= len(p.pattern))
      SELECT doc_id, pattern, n_hits FROM h WHERE n_hits > 0
      ORDER BY doc_id, pattern""")) { (s, d) =>
      Curation.blocklistHits(Tables.documents(s, d),
          Seq("scan", "an", "hash join", "slow", "table t",
            "merge batch", "w s", "a a"))
        .orderBy("doc_id", "pattern")
    },

    // ---- q229: DoReMi-style mix-weight optimizer (r16) — the
    // loss-FEEDBACK member of the mixing family beside q76's
    // temperature and q163's token-budget mixes: per-source mean
    // unigram surprisal (the q218 proxy loss) drives 4 rounds of
    // multiplicative weights with floored e9 renormalization,
    // upweighting the domains the current mixture models worst (the
    // Group-DRO loop of Xie et al., NeurIPS 2023, in the q215
    // exact-integer fixed-point discipline). The full trajectory
    // hash-gates against 4 unrolled oracle rounds.
    Q("q229_doremi_mix", Some(doremiOracleSql(rounds = 4, eta = 10000L))) { (s, d) =>
      Curation.doremiMixWeights(Tables.documents(s, d), "source", rounds = 4)
        .orderBy("round", "source")
    },

    // ---- q219: winnowing fingerprints (MOSS) — the position-
    // aligned document fingerprint beside MinHash (q21, set
    // similarity) and SimHash (q23, distributional): every window of
    // w=4 consecutive 3-gram hashes selects its rightmost minimum,
    // so any shared run of ≥ w+k−1 tokens yields an identical
    // (hash, aligned-pos) fingerprint in both docs — the guarantee
    // substring-matching dedup (plagiarism, license-text, quote
    // detection) needs and set-similarity schemes can't give. The
    // engine side is a per-row monotonic-deque kernel (O(n)/doc, no
    // explode before the ~2/(w+1)-sparse output); the oracle IS the
    // naive all-windows argmin census (the q216 discipline), with
    // the rightmost tie encoded as an (hash·2^20 + (2^20−1−pos))
    // HUGEINT argmin key — positions guarded < 2^20 in the kernel.
    Q("q219_winnow_fingerprints", Some(s"""
      WITH $winnowFpCtes
      SELECT doc_id, pos, fp_hash FROM fp
      ORDER BY doc_id, pos""")) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(GraftFunctions.winnow_fingerprints(
            split(col("text"), " "), 3, 4)).as("fp"))
        .select(col("doc_id"), col("fp.pos").as("pos"),
          col("fp.hash").as("fp_hash"))
        .orderBy("doc_id", "pos")
    },

    // ---- q220: winnow span-overlap pairs — the POSITION-AWARE
    // near-dup channel beside MinHash's whole-doc Jaccard (q21):
    // fingerprint-bucket collisions with alignment evidence (the
    // offset delta carrying the most colliding fingerprints, plus
    // its support) — copied spans (quotes, license boilerplate,
    // plagiarism) show as many collisions at ONE delta; phrase noise
    // scatters. Buckets above 64 docs drop as stop-fingerprints
    // (ubiquitous phrases are not copy evidence), bounding the self-
    // join at maxBucket² per bucket — never all-pairs.
    Q("q220_winnow_overlap_pairs", Some(s"""
      WITH $winnowFpCtes,
      keep AS (SELECT fp_hash FROM fp GROUP BY 1 HAVING COUNT(*) <= 64),
      f2 AS (SELECT fp.* FROM fp JOIN keep USING (fp_hash)),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pos AS pa, b.pos AS pb, a.fp_hash AS hh
            FROM f2 a JOIN f2 b ON b.fp_hash = a.fp_hash
                              AND b.doc_id > a.doc_id),
      ns AS (SELECT doc_a, doc_b, CAST(COUNT(DISTINCT hh) AS BIGINT) AS n_shared
             FROM p GROUP BY 1, 2 HAVING COUNT(DISTINCT hh) >= 3),
      dl AS (SELECT doc_a, doc_b, pb - pa AS delta,
                    CAST(COUNT(*) AS BIGINT) AS cnt
             FROM p GROUP BY 1, 2, 3),
      best AS (SELECT doc_a, doc_b, delta, cnt,
                      row_number() OVER (PARTITION BY doc_a, doc_b
                                         ORDER BY cnt DESC, delta ASC) AS rn
               FROM dl)
      SELECT ns.doc_a, ns.doc_b, ns.n_shared,
             b.cnt AS n_aligned, CAST(b.delta AS BIGINT) AS delta
      FROM ns JOIN best b ON b.doc_a = ns.doc_a AND b.doc_b = ns.doc_b
                         AND b.rn = 1
      ORDER BY ns.doc_a, ns.doc_b""")) { (s, d) =>
      Dedup.winnowOverlapPairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b")
    },

    // ---- q221: span-overlap clusters — the dedup ENDGAME for the
    // winnowing channel, composing q220's aligned-collision pairs
    // through the shared connected-components kernel (q47's hash-min
    // LPA) into boilerplate families, each with its canonical member
    // (longest by n_chars, smallest id on ties — the q75 struct-
    // argmax pick, a combinable aggregate, never a member re-shuffle).
    // The oracle replays the whole composition: winnow chain → pair
    // census → recursive closure → window rank.
    Q("q221_span_overlap_clusters", Some(s"""
      WITH RECURSIVE $winnowFpCtes,
      keep AS (SELECT fp_hash FROM fp GROUP BY 1 HAVING COUNT(*) <= 64),
      f2 AS (SELECT fp.* FROM fp JOIN keep USING (fp_hash)),
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM f2 a JOIN f2 b ON b.fp_hash = a.fp_hash
                               AND b.doc_id > a.doc_id
             GROUP BY 1, 2 HAVING COUNT(DISTINCT a.fp_hash) >= 3),
      e AS (SELECT doc_a AS a, doc_b AS b FROM pr
            UNION SELECT doc_b, doc_a FROM pr),
      reach(src, dst) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.dst = e2.a),
      comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
               FROM reach GROUP BY src),
      m AS (SELECT c.component_id, c.doc_id, d.n_chars,
                   row_number() OVER (PARTITION BY c.component_id
                                      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
             CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS canonical_chars
      FROM m GROUP BY 1 ORDER BY component_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.winnowOverlapPairs(docs)
      val comps = Dedup.connectedComponents(pairs)
      comps.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
        .groupBy(col("comp").as("component_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("id")).as("__nid"), col("id")))
            .as("__best"))
        .select(col("component_id"), col("n_members"),
          col("__best.id").as("canonical_doc"),
          col("__best.n_chars").as("canonical_chars"))
        .orderBy("component_id")
    },

    // ---- q216: longest repeated token n-gram per document — the
    // WITHIN-doc repetition fingerprint beside the cross-doc shingle
    // spans (q92/q93) and the char-level repetition ratios (q28): a
    // high lrg_len marks boilerplate/loop spam (the memorization-
    // prone shape q162 scores across docs). The engine side is a
    // per-row codegen kernel — binary search over L (repeat
    // existence is monotone: equal L-windows contain equal (L−1)-
    // windows), ~5 hash passes/doc, corpus never shuffles, no
    // explode; the oracle IS the naive all-(L, position) gram
    // census, so the gate proves the O(n·log maxL) kernel equals the
    // O(n·maxL) definition doc-for-doc. Gram keys are tokens joined
    // with U+0001 on both sides (the kernel's documented contract).
    Q("q216_longest_repeated_gram", Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
                 FROM documents),
      pl AS (SELECT doc_id, toks, nt, UNNEST(range(1, 17)) AS l FROM t),
      pp AS (SELECT doc_id, l,
                    UNNEST(range(1, CAST(nt - l + 2 AS BIGINT))) AS i, toks
             FROM pl),
      g AS (SELECT doc_id, l, array_to_string(toks[i:i + l - 1], chr(1)) AS gram
            FROM pp),
      dups AS (SELECT doc_id, l, gram FROM g GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
      rep AS (SELECT doc_id, l, CAST(COUNT(*) AS BIGINT) AS n_rep
              FROM dups GROUP BY 1, 2),
      best AS (SELECT doc_id, CAST(MAX(l) AS BIGINT) AS lrg_len FROM rep GROUP BY 1)
      SELECT t.doc_id, t.nt AS n_tokens,
             COALESCE(best.lrg_len, 0) AS lrg_len,
             COALESCE(rep.n_rep, 0) AS n_repeated
      FROM t LEFT JOIN best USING (doc_id)
             LEFT JOIN rep ON rep.doc_id = t.doc_id AND rep.l = best.lrg_len
      ORDER BY t.doc_id""")) { (s, d) =>
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          GraftFunctions.longest_repeated_gram(toks, 16).as("__lrg"))
        .select(col("doc_id"), col("n_tokens"),
          element_at(col("__lrg"), 1).as("lrg_len"),
          element_at(col("__lrg"), 2).as("n_repeated"))
        .orderBy("doc_id")
    },

    // ---- q128: leakage-safe train/val/test split — docs assigned by
    // hashing their exact-duplicate-group REPRESENTATIVE (q20's
    // canonical fingerprint, min-id rep), so duplicates can never
    // straddle splits: the eval-contamination failure a per-doc hash
    // silently commits. Buckets 0-7/8/9 of the salted 10-way hash =
    // 80/10/10; no RNG, so corpus top-ups never reshuffle history.
    // One fingerprint census + one equi-join back — the q20 shuffle.
    Q("q128_leakage_split", Some("""
      WITH f AS (SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
                 FROM documents),
      r AS (SELECT fp, MIN(doc_id) AS group_rep FROM f GROUP BY 1),
      j AS (SELECT f.doc_id, r.group_rep,
              ('0x' || substr(md5('split:' || CAST(r.group_rep AS VARCHAR)), 1, 15))::BIGINT % 10 AS b
            FROM f JOIN r USING (fp))
      SELECT doc_id, group_rep,
             CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
      FROM j ORDER BY doc_id""")) { (s, d) =>
      Curation.leakageSafeSplit(Tables.documents(s, d)).orderBy("doc_id")
    },

    // ---- q122: token-weighted SYSTEMATIC sample — pick every
    // document covering a 500th-token boundary of the id-ordered
    // corpus: the one sampling design here with size-proportional
    // inclusion (long docs more likely), next to q50's fixed-rate,
    // q74's fixed-size and q76's derived-rate filters. The engine
    // side computes the exact global token prefix sum with
    // GlobalRank (id buckets → bounded driver offsets →
    // per-bucket window), never a single-partition global
    // window; the oracle IS that naive global window, so the gate
    // proves the scalable plan equals the sequential definition
    // boundary-for-boundary. Selection is nonnegative integer
    // arithmetic only (`div` ≡ `//` there).
    Q("q122_systematic_sample", Some("""
      WITH w AS (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, n_tokens,
              CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
            FROM w)
      SELECT doc_id, n_tokens, cum_tokens FROM c
      WHERE (cum_tokens // 500) > ((cum_tokens - n_tokens) // 500)
      ORDER BY doc_id""")) { (s, d) =>
      Curation.systematicSampleByTokens(Tables.documents(s, d), step = 500L)
        .orderBy("doc_id")
    },

    // ---- q132: sequential Poisson sample — the fixed-SIZE
    // probability-proportional-to-size draw next to q122's
    // exhaustive every-k-th-token walk: k=200 docs ranked by
    // priority = u/w (u the 48-bit salted hash, w = n_chars), keep
    // the smallest. One correctly-rounded division on exactly-
    // converted longs, so priorities gate bit-for-bit; ties break on
    // doc_id. The engine plan is a single TakeOrdered (per-partition
    // top-k before one bounded exchange — plan-pinned); the oracle
    // is the sequential ORDER BY + LIMIT definition.
    Q("q132_pps_sample", Some("""
      WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                   ('0x' || substr(md5('spps:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS u
                 FROM documents WHERE n_chars > 0)
      SELECT doc_id, weight,
             CAST(u AS DOUBLE) / CAST(weight AS DOUBLE) AS priority
      FROM w ORDER BY priority, doc_id LIMIT 200""")) { (s, d) =>
      Curation.sequentialPoissonSample(Tables.documents(s, d), k = 200,
        weightCol = "n_chars")
    },

    // ---- q77: char-bigram familiarity — the integer-exact core of
    // perplexity quality filtering: fit a character-bigram census on
    // the corpus (bounded at charset² rows, broadcast back), then
    // score every document by total corpus-familiarity of its
    // bigrams plus a RELATIVE rare-bigram occurrence count
    // (count * 2000 < total — all-integer, so the gate survives any
    // scale factor where an absolute cutoff goes vacuous). Sums are
    // longs: order-independent, hash-exact, no ln() portability trap.
    Q("q77_chargram_familiarity", Some("""
      WITH bg AS (SELECT doc_id,
                         unnest(list_transform(range(1, length(text)), i -> substr(text, i, 2))) AS bg
                  FROM documents),
      m0 AS (SELECT bg, COUNT(*) AS bg_count FROM bg GROUP BY bg),
      m AS (SELECT bg, bg_count,
                   bg_count * 2000 < (SELECT SUM(bg_count) FROM m0) AS is_rare
            FROM m0),
      s AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(m.bg_count) AS BIGINT) AS familiarity,
                   CAST(SUM(CASE WHEN m.is_rare THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
            FROM bg JOIN m USING (bg) GROUP BY bg.doc_id)
      SELECT d.doc_id,
             COALESCE(s.n_bigrams, 0) AS n_bigrams,
             COALESCE(s.familiarity, 0) AS familiarity,
             COALESCE(s.n_rare, 0) AS n_rare
      FROM documents d LEFT JOIN s USING (doc_id)
      ORDER BY doc_id""")) { (s, d) =>
      CharLm.bigramFamiliarity(Tables.documents(s, d), rareFactor = 2000)
        .orderBy("doc_id")
    },

    // ---- q78: deterministic corpus shuffle-shard — the global
    // decorrelation pass before writing training shards: salted-md5
    // shard + in-shard position, zero RNG, one exchange (the window's
    // partition-by-shard — the same exchange the shard writer needs).
    Q("q78_shuffle_shard", Some("""
      WITH h AS (SELECT doc_id,
                        ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                          AS shuffle_hash
                 FROM documents)
      SELECT doc_id, shuffle_hash % 8 AS shard,
             CAST(row_number() OVER (PARTITION BY shuffle_hash % 8
                                     ORDER BY shuffle_hash, doc_id) - 1 AS BIGINT) AS pos,
             shuffle_hash
      FROM h
      ORDER BY doc_id""")) { (s, d) =>
      Curation.shuffleShard(Tables.documents(s, d), shards = 8)
        .orderBy("doc_id")
    },

    // ---- q167: per-source Jensen-Shannon divergence vs the rest of
    // the corpus — the governance metric behind mixture rebalancing
    // ("which source's word distribution is the odd one out").
    // Integer-exact: each KL term is a log of INTEGER ratios through
    // the q152 flog2q kernel, count-weighted and summed as longs;
    // jsd_e4 = the halves ÷ (32·mass) as exact integer division. A
    // 3e9-token guard trips before count·mass can wrap a long.
    // Census joins are vocab-bounded broadcasts — never corpus-row
    // shaped.
    Q("q167_source_divergence", Some(s"""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents),
      sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok WHERE w <> '' GROUP BY 1, 2),
      wall AS (SELECT w, CAST(SUM(c) AS BIGINT) AS g FROM sw GROUP BY 1),
      masses AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cp FROM sw GROUP BY 1),
      t AS (SELECT CAST(SUM(g) AS BIGINT) AS tt FROM wall),
      grid AS (SELECT m.source, m.cp, t.tt - m.cp AS cq, wall.w, wall.g,
                      COALESCE(sw.c, 0) AS c, wall.g - COALESCE(sw.c, 0) AS d
               FROM masses m CROSS JOIN t CROSS JOIN wall
               LEFT JOIN sw ON sw.source = m.source AND sw.w = wall.w)
      SELECT source, MIN(cp) AS mass,
             CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab,
             CAST(SUM(CASE WHEN c > 0 THEN c * (
                    ${graft.operators.Curation.flog2qSql("2 * c * cq")} -
                    ${graft.operators.Curation.flog2qSql("c * cq + d * cp")})
                  ELSE 0 END) AS BIGINT) AS klp_fp,
             CAST(SUM(CASE WHEN d > 0 THEN d * (
                    ${graft.operators.Curation.flog2qSql("2 * d * cp")} -
                    ${graft.operators.Curation.flog2qSql("d * cp + c * cq")})
                  ELSE 0 END) AS BIGINT) AS klq_fp,
             CAST(SUM(CASE WHEN c > 0 THEN c * (
                    ${graft.operators.Curation.flog2qSql("2 * c * cq")} -
                    ${graft.operators.Curation.flog2qSql("c * cq + d * cp")})
                  ELSE 0 END) * 10000 // (32 * MIN(cp))
                + SUM(CASE WHEN d > 0 THEN d * (
                    ${graft.operators.Curation.flog2qSql("2 * d * cp")} -
                    ${graft.operators.Curation.flog2qSql("d * cp + c * cq")})
                  ELSE 0 END) * 10000 // (32 * MIN(cq)) AS BIGINT) AS jsd_e4
      FROM grid GROUP BY source
      ORDER BY source""")) { (s, d) =>
      graft.operators.Stats.jsDivergence(Tables.documents(s, d), "source",
          filter(split(col("text"), " "), w => w =!= ""))
        .orderBy("source")
    },

    // ---- q168: rendezvous (HRW) shard assignment — the
    // topology-stable alternative to q78's hash-MOD sharding: under
    // a shard-count change ONLY the leaving shard's rows move. The
    // gate assigns under 8 and under 7 shards side by side; the
    // moved flag equals (shard8 = 7) by construction — the minimal-
    // movement property, hash-pinned. Stateless projection, no
    // shuffle.
    Q("q168_rendezvous_shard", Some("""
      WITH sh AS (SELECT unnest(range(8)) AS s),
      sc AS (SELECT doc_id, sh.s AS s,
                    ('0x' || substr(md5('hrw:' || CAST(sh.s AS VARCHAR) || ':' ||
                                        CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
             FROM documents CROSS JOIN sh),
      m8 AS (SELECT doc_id, MAX(h) AS mh FROM sc GROUP BY 1),
      a8 AS (SELECT sc.doc_id, CAST(MIN(sc.s) AS BIGINT) AS shard8
             FROM sc JOIN m8 ON m8.doc_id = sc.doc_id AND sc.h = m8.mh GROUP BY 1),
      m7 AS (SELECT doc_id, MAX(h) AS mh FROM sc WHERE s < 7 GROUP BY 1),
      a7 AS (SELECT sc.doc_id, CAST(MIN(sc.s) AS BIGINT) AS shard7
             FROM sc JOIN m7 ON m7.doc_id = sc.doc_id AND sc.h = m7.mh
             WHERE sc.s < 7 GROUP BY 1)
      SELECT doc_id, shard8, shard7, shard8 <> shard7 AS moved
      FROM a8 JOIN a7 USING (doc_id)
      ORDER BY doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val s8 = Curation.rendezvousShard(docs, shards = 8)
        .withColumnRenamed("shard", "shard8")
      val s7 = Curation.rendezvousShard(docs, shards = 7)
        .withColumnRenamed("shard", "shard7")
      s8.join(s7, "doc_id")
        .withColumn("moved", col("shard8") =!= col("shard7"))
        .orderBy("doc_id")
    },

    // ---- q80: cross-source duplication matrix — per source pair,
    // the count of distinct content fingerprints both carry: the
    // "which crawls duplicate each other" diagnostic a curation run
    // consults before deciding dedup priority and domain weights.
    // Bounded by construction: the fp self-join emits at most
    // sources²/2 rows per fingerprint no matter how many documents
    // share it.
    Q("q80_source_dup_matrix", Some("""
      WITH f AS (SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
                        source
                 FROM documents),
      d AS (SELECT fp, source FROM f GROUP BY fp, source)
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
      ORDER BY src_a, src_b""")) { (s, d) =>
      Dedup.crossSourceDupMatrix(Tables.documents(s, d))
        .orderBy("src_a", "src_b")
    },

    // ---- q81: incremental ingestion triage — classify a small
    // "today's batch" (doc_id % 17 = 0) against the standing corpus
    // (the rest) as exact / near (Jaccard ≥ 0.9) / accepted, with
    // best match id and quantized similarity. The corpus side is
    // scan+broadcast-join only (never shuffled); the oracle computes
    // the same classification by direct inverted-index overlap — the
    // PPJoin prefix/positional pruning never drops a qualifying
    // pair, so results agree though the plans differ.
    Q("q81_delta_ingest", Some("""
      WITH delta AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
      corpus AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
      dfp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp FROM delta),
      cfp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp FROM corpus),
      ex AS (SELECT dfp.doc_id, MIN(cfp.doc_id) AS match_id
             FROM dfp JOIN cfp USING (fp) GROUP BY dfp.doc_id),
      dt AS (SELECT doc_id AS dn_id, list_distinct(string_split(text, ' ')) AS toks FROM delta),
      ct AS (SELECT doc_id AS cn_id, list_distinct(string_split(text, ' ')) AS toks FROM corpus),
      du AS (SELECT dn_id, unnest(toks) AS tok, len(toks) AS dn FROM dt),
      cu AS (SELECT cn_id, unnest(toks) AS tok, len(toks) AS cn FROM ct),
      ovt AS (SELECT dn_id, cn_id, dn, cn, COUNT(*) AS ov
              FROM du JOIN cu USING (tok) GROUP BY 1, 2, 3, 4),
      near AS (SELECT dn_id, cn_id, ov / (dn + cn - ov) AS jr
               FROM ovt WHERE ov / (dn + cn - ov) >= 0.9),
      best AS (SELECT dn_id, cn_id, jr FROM near
               QUALIFY row_number() OVER (PARTITION BY dn_id ORDER BY jr DESC, cn_id) = 1)
      SELECT d.doc_id,
             CASE WHEN ex.match_id IS NOT NULL THEN 'exact'
                  WHEN b.cn_id IS NOT NULL THEN 'near'
                  ELSE 'accepted' END AS status,
             COALESCE(ex.match_id, b.cn_id) AS match_id,
             CASE WHEN ex.match_id IS NOT NULL THEN 1.0
                  WHEN b.cn_id IS NOT NULL THEN floor(b.jr * 10000 + 0.5) / 10000 END AS jaccard
      FROM delta d
      LEFT JOIN ex ON ex.doc_id = d.doc_id
      LEFT JOIN best b ON b.dn_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.deltaIngest(
          docs.filter(pmod(col("doc_id"), lit(17)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(17)) === 0),
          threshold = 0.9)
        .orderBy("doc_id")
    },

    // ---- q83: retrieval chunking — 32-token windows every 24
    // tokens (8 overlap) over every document, with chunk ordinal,
    // token offset, window length, and re-joined text. Zero-shuffle
    // generator projection (sequence → posexplode → slice); the
    // oracle replays the windows with generate_series + list_slice.
    Q("q83_chunk_documents", Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      s AS (SELECT doc_id, toks,
                   unnest(generate_series(0, len(toks) - 1, 24)) AS tok_start
            FROM t)
      SELECT doc_id,
             CAST(tok_start // 24 AS INTEGER) AS chunk_id,
             CAST(tok_start AS INTEGER) AS tok_start,
             CAST(len(list_slice(toks, tok_start + 1, tok_start + 32)) AS INTEGER) AS n_toks,
             array_to_string(list_slice(toks, tok_start + 1, tok_start + 32), ' ') AS chunk_text
      FROM s
      ORDER BY doc_id, chunk_id""")) { (s, d) =>
      Curation.chunkTokens(Tables.documents(s, d), chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    },

    // ---- q85: Unicode NFC normalization — the first scrub of a
    // crawl pipeline. Test documents are already NFC (the gate would
    // be vacuous), so the workload is synthesized q46-style: every
    // doc gets a decomposed-Vietnamese suffix (base letters +
    // combining circumflex/breve/horn + tone marks) that NFC must
    // collapse to composed codepoints. Java Normalizer and DuckDB's
    // utf8proc are both Unicode-conformant, so outputs hash-match;
    // changed flag + char deltas make silent no-ops visible. Pure
    // codegen projection, zero shuffle.
    {
      // DECOMPOSED by construction (base letter + combining marks as
      // separate codepoints — an editor would silently compose a
      // pasted composed form): "ấn mẹ ứ ề" spelled as
      // a+U+0302+U+0301, e+U+0323, u+U+031B+U+0301, e+U+0302+U+0300.
      // The same Scala constant feeds the Spark literal AND the
      // interpolated oracle SQL, so both engines normalize the
      // identical byte sequence.
      val suffix = " a\u0302\u0301n me\u0323 u\u031b\u0301 e\u0302\u0300"
      Q("q85_nfc_normalize", Some(s"""
      SELECT doc_id,
             nfc_normalize(text || '$suffix') AS text_nfc,
             (nfc_normalize(text || '$suffix') <> (text || '$suffix')) AS changed,
             CAST(length(text || '$suffix') AS BIGINT) AS n_chars_raw,
             CAST(length(nfc_normalize(text || '$suffix')) AS BIGINT) AS n_chars_nfc
      FROM documents
      ORDER BY doc_id""")) { (s, d) =>
        val raw = concat(col("text"), lit(suffix))
        val nfc = GraftFunctions.nfc_normalize(raw)
        Tables.documents(s, d).select(
          col("doc_id"),
          nfc.as("text_nfc"),
          (nfc =!= raw).as("changed"),
          length(raw).cast("long").as("n_chars_raw"),
          length(nfc).cast("long").as("n_chars_nfc"))
          .orderBy("doc_id")
      }
    },

    // ---- q88: sketch-driven quality stratification — how a corpus
    // is split into quality quartiles at 100 TB WITHOUT a global
    // sort: quartile boundaries come from the q72 mergeable binned
    // histogram (bounded state, one bounded boundary row collected
    // as strategy constants), every document classifies against the
    // boundary BINS as a pure codegen projection, and the per-
    // stratum report aggregates exactly (quantized quality, long
    // token sums). The oracle replays histogram, boundary pick, and
    // classification from first principles.
    Q("q88_quality_strata", Some(s"""
      WITH q AS (
        SELECT doc_id,
               floor((0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                    + 0.3 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
                    + 0.3 * (len(list_filter(string_split(text, ' '),
                          x -> list_contains(${TextQueries.stopwordSqlList}, x))) / len(string_split(text, ' '))))
                     * 10000 + 0.5) / 10000 AS q,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents),
      b AS (SELECT doc_id, q, n_toks, CAST(floor(q * 64) AS BIGINT) AS bin FROM q),
      h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
      c AS (SELECT bin, cnt,
              CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
              CAST(SUM(cnt) OVER () AS BIGINT) AS n
            FROM h),
      bd AS (SELECT
               MIN(CASE WHEN cum >= ((n - 1) * 25) // 100 + 1 THEN bin END) AS b25,
               MIN(CASE WHEN cum >= ((n - 1) * 50) // 100 + 1 THEN bin END) AS b50,
               MIN(CASE WHEN cum >= ((n - 1) * 75) // 100 + 1 THEN bin END) AS b75
             FROM c)
      SELECT CAST(1 + (bin > b25)::INT + (bin > b50)::INT + (bin > b75)::INT AS INTEGER) AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
             MIN(q) AS q_min,
             MAX(q) AS q_max
      FROM b, bd
      GROUP BY 1
      ORDER BY stratum""")) { (s, d) =>
      val qcol = floor(TextFunctions.qualityScore(col("text")) * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)
      val docs = Tables.documents(s, d).select(
        col("doc_id"), qcol.as("q"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_toks"))
      // Quartile boundary bins from the mergeable sketch: ONE bounded
      // row, collected as strategy constants (the k-means centroid
      // rule) so classification below is a literal-only projection.
      val bounds = Sketches.binnedPercentiles(docs, Nil, col("q"),
        percentiles = Seq(25, 50, 75), binsPerUnit = 64).head()
      def boundaryBin(name: String): Long =
        math.round(bounds.getAs[Double](name) * 64.0d) // bin/64 * 64 — exact
      val (b25, b50, b75) = (boundaryBin("p25_est"), boundaryBin("p50_est"), boundaryBin("p75_est"))
      val bin = Sketches.histogramBin(col("q"), 64)
      docs.select(col("q"), col("n_toks"),
          (lit(1) + (bin > lit(b25)).cast("int") + (bin > lit(b50)).cast("int")
            + (bin > lit(b75)).cast("int")).as("stratum"))
        .groupBy(col("stratum"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_tokens"),
          min(col("q")).as("q_min"), max(col("q")).as("q_max"))
        .orderBy("stratum")
    },

    // ---- q89: duplicate-passage mining — the 8-gram spans shared
    // by >= 2 documents, ranked by spread: the shingle-level view
    // behind exact-substring dedup (find the boilerplate/quoted
    // passages document-level dedup misses). Per-doc DISTINCT
    // shingles (spans repeated within one doc count once), one
    // partial-agg shuffle on 15-hex shingle keys, top-50 via
    // TakeOrdered on the total (n_docs desc, shingle) order — the
    // corpus never sorts whole.
    Q("q89_repeated_passages", Some("""
      WITH ds AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 [array_to_string(string_split(text,' ')[i:i+7], ' ')
                  FOR i IN range(1, len(string_split(text,' ')) - 6)],
                 x -> substr(md5(x), 1, 15))) AS shs
        FROM documents),
      t AS (SELECT doc_id, unnest(shs) AS sh FROM ds),
      g AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS min_doc
            FROM t GROUP BY 1)
      SELECT sh, n_docs, min_doc FROM g
      WHERE n_docs >= 2
      ORDER BY n_docs DESC, sh
      LIMIT 50""")) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(
          GraftFunctions.shingle_hex_tokens(TextFunctions.tokens(col("text")), 8))).as("sh"))
        .groupBy(col("sh"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("sh"))
        .limit(50)
    },

    // ---- q90: directed containment join (near-subset dedup) on a
    // q46-style synthesized Zipf-vocabulary corpus (the documents
    // table's 31-token vocab makes containment vacuously dense).
    // Every ninth order emits a base doc; even k add a drop-last
    // twin (twin→base containment 1.0; base→twin = (n-1)/n — >= 0.9
    // only when n >= 10, so both accept/reject branches populate);
    // k%3==0 add a HALF-length excerpt (excerpt→base 1.0 while
    // Jaccard ≈ 0.5 — the asymmetric case symmetric dedup misses by
    // construction). The oracle is the full inverted-index overlap;
    // the engine runs the prefix-filtered containment join
    // (contained-side prefixes vs full containing-side index).
    Q("q90_containment", Some("""
      WITH tok AS (
        SELECT o_orderkey AS k, j,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM orders CROSS JOIN generate_series(0, 14) g(j)
        WHERE o_orderkey % 9 = 0 AND j <= 7 + (o_orderkey % 8)),
      w AS (
        SELECT k, j,
               'w' || CAST((h >> 30) % (1 + ((h & 1073741823) % 30000)) AS VARCHAR) AS w
        FROM tok),
      base AS (SELECT k, string_agg(w, ' ' ORDER BY j) AS text, COUNT(*) AS len FROM w GROUP BY k),
      docs AS (
        SELECT k * 4 AS doc_id, text FROM base
        UNION ALL
        SELECT k * 4 + 1 AS doc_id,
               array_to_string(string_split(text, ' ')[1:len - 1], ' ') AS text
        FROM base WHERE k % 2 = 0
        UNION ALL
        SELECT k * 4 + 2 AS doc_id,
               array_to_string(string_split(text, ' ')[1:CAST(ceil(len / 2.0) AS INTEGER)], ' ') AS text
        FROM base WHERE k % 3 = 0),
      d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM docs),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      l AS (SELECT doc_id, len(toks) AS n FROM d),
      ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
             FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id <> b.doc_id
             GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             floor((ov / la.n) * 10000 + 0.5) / 10000 AS containment
      FROM ov JOIN l la ON la.doc_id = doc_a
      WHERE ov / la.n >= 0.9
      ORDER BY doc_a, doc_b""")) { (s, d) =>
      Dedup.containmentJoin(q90Corpus(s, d).localCheckpoint(true), threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q91: per-source corpus health report — the dashboard a
    // curation run consults first: doc and exact-dup counts
    // (fingerprint-distinct), contamination counts (vs the q48 eval
    // set), token totals, and mean quality. Every statistic is
    // integer-exact or scaled-long (quality sums ride 1e4-scaled
    // longs; the one division is shape-matched double), so the per-
    // source report hash-gates. One grouped aggregate over a scan +
    // broadcast semi-join lineage — no corpus-wide shuffle beyond
    // the per-source agg.
    Q("q91_source_health", Some(s"""
      WITH q AS (
        SELECT doc_id, source,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
               CAST(floor((0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                    + 0.3 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
                    + 0.3 * (len(list_filter(string_split(text, ' '),
                          x -> list_contains(${TextQueries.stopwordSqlList}, x))) / len(string_split(text, ' '))))
                     * 10000 + 0.5) AS BIGINT) AS q4
        FROM documents),
      ds AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 [array_to_string(string_split(text,' ')[i:i+2], ' ')
                  FOR i IN range(1, len(string_split(text,' ')) - 1)],
                 x -> substr(md5(x), 1, 15))) AS shs
        FROM documents),
      e AS (SELECT DISTINCT unnest(shs) AS sh FROM ds WHERE doc_id % 97 = 0),
      hit AS (SELECT DISTINCT ds.doc_id FROM ds, unnest(ds.shs) AS u(sh)
              JOIN e ON u.sh = e.sh)
      SELECT q.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) - COUNT(DISTINCT q.fp) AS BIGINT) AS n_exact_dups,
             CAST(COUNT(*) FILTER (WHERE hit.doc_id IS NOT NULL) AS BIGINT) AS n_contaminated,
             CAST(SUM(q.n_toks) AS BIGINT) AS sum_tokens,
             CAST(SUM(q.q4) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 10000.0) AS mean_quality
      FROM q LEFT JOIN hit ON hit.doc_id = q.doc_id
      GROUP BY q.source
      ORDER BY q.source""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val flagged = Curation.flagContaminated(
        docs, docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 3)
      val toks = TextFunctions.tokens(col("text"))
      docs.select(col("doc_id"), col("source"),
          TextFunctions.canonicalFingerprint(col("text")).as("fp"),
          size(toks).cast("long").as("n_toks"),
          floor(TextFunctions.qualityScore(col("text")) * lit(10000.0d) + lit(0.5d))
            .cast("long").as("q4"))
        .join(flagged.select(col("doc_id"), col("contaminated")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
          sum(col("contaminated").cast("long")).as("n_contaminated"),
          sum(col("n_toks")).as("sum_tokens"),
          (sum(col("q4")).cast("double") / (count(lit(1)).cast("double") * lit(10000.0d)))
            .as("mean_quality"))
        .orderBy("source")
    },

    // ---- q92: exact-substring dedup (suffix-array tier, Lee et
    // al.) — maximal repeated token spans: every 8-token window
    // inside a reported span occurs >= 2 times corpus-wide. The
    // k-gram-anchor formulation runs in two corpus-linear shuffles
    // (anchors by window hash, duplicated anchors by doc) with no
    // pairwise join anywhere; run-coalescing per doc is the span
    // "extension" step of the suffix-array construction. The oracle
    // replays anchors positionally (struct list comprehension) and
    // the same pos - row_number() run trick.
    Q("q92_exact_substring_spans", Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      anch0 AS (
        SELECT doc_id,
               [{'pos': i - 1, 'h': substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15)}
                FOR i IN range(1, len(ts) - 6)] AS a
        FROM toks),
      anch AS (SELECT doc_id, unnest(a, recursive := true) FROM anch0),
      freq AS (SELECT h FROM anch GROUP BY h HAVING COUNT(*) >= 2),
      da AS (SELECT a.doc_id, a.pos FROM anch a JOIN freq USING (h)),
      runs AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM da)
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
      FROM runs GROUP BY doc_id, run
      ORDER BY doc_id, span_start""")) { (s, d) =>
      ExactSubstring.repeatedSpans(Tables.documents(s, d), k = 8)
        .orderBy("doc_id", "span_start")
    },

    // ---- q236: suffix-array LCS pair tier (r17) — the document-
    // PAIR refinement of the q92/q93 exact-substring family:
    // candidate pairs share an 8-gram anchor hash (per-doc DISTINCT,
    // ids-only join), then each pair's EXACT longest common token
    // run is computed by the prefix-doubling suffix array + Kasai
    // LCP kernel. The oracle replays candidates with the q92 anchor
    // CTE and the exact LCS with the diagonal-islands trick (match
    // positions (i, j) with equal tokens; per (pair, i−j) diagonal,
    // consecutive-i islands are common runs; max island = LCS) —
    // two very different exact algorithms agreeing on the hash is
    // the strongest cross-check in this family.
    Q("q236_lcs_pair_dedup", Some("""
      WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      anch0 AS (SELECT doc_id,
              [{'h': substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15)}
               FOR i IN range(1, len(ts) - 6)] AS a
            FROM toks),
      anch AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(a, recursive := true) FROM anch0),
      pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM anch a JOIN anch b ON a.h = b.h AND a.doc_id < b.doc_id),
      ta AS (SELECT p.doc_a, p.doc_b, m.i, m.tok FROM pairs p JOIN
             (SELECT doc_id, unnest([{'i': i, 'tok': ts[i]}
                FOR i IN range(1, len(ts) + 1)], recursive := true) FROM toks) m
             ON m.doc_id = p.doc_a),
      tb AS (SELECT p.doc_a, p.doc_b, m.i AS j, m.tok FROM pairs p JOIN
             (SELECT doc_id, unnest([{'i': i, 'tok': ts[i]}
                FOR i IN range(1, len(ts) + 1)], recursive := true) FROM toks) m
             ON m.doc_id = p.doc_b),
      mm AS (SELECT ta.doc_a, ta.doc_b, ta.i, tb.j FROM ta JOIN tb
             ON tb.doc_a = ta.doc_a AND tb.doc_b = ta.doc_b AND tb.tok = ta.tok),
      isl AS (SELECT doc_a, doc_b, i - j AS diff, i,
              i - row_number() OVER (PARTITION BY doc_a, doc_b, i - j
                                     ORDER BY i) AS run FROM mm),
      lens AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS len
               FROM isl GROUP BY doc_a, doc_b, diff, run),
      best AS (SELECT doc_a, doc_b, MAX(len) AS lcs_len
               FROM lens GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b, lcs_len FROM best WHERE lcs_len >= 8
      ORDER BY doc_a, doc_b""")) { (s, d) =>
      ExactSubstring.lcsNearDupPairs(Tables.documents(s, d), k = 8, minLen = 8)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q93: the exact-substring REWRITE — drop every token
    // covered by a q92 repeated span, reassemble the remainder in
    // order, and keep fully-repeated documents as explicit empty
    // rows so the corpus row count is invariant (it's a downstream
    // length filter's job to drop them). The oracle replays the q92
    // span derivation, anti-joins positions, and string_aggs the
    // survivors positionally.
    Q("q93_drop_repeated_spans", Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      anch0 AS (
        SELECT doc_id,
               [{'pos': i - 1, 'h': substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15)}
                FOR i IN range(1, len(ts) - 6)] AS a
        FROM toks),
      anch AS (SELECT doc_id, unnest(a, recursive := true) FROM anch0),
      freq AS (SELECT h FROM anch GROUP BY h HAVING COUNT(*) >= 2),
      da AS (SELECT a.doc_id, a.pos FROM anch a JOIN freq USING (h)),
      runs AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run FROM da),
      spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
                FROM runs GROUP BY doc_id, run),
      tok AS (
        SELECT doc_id, unnest([{'pos': i - 1, 'tok': ts[i]}
                               FOR i IN range(1, len(ts) + 1)], recursive := true)
        FROM toks),
      kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
               WHERE NOT EXISTS (SELECT 1 FROM spans s
                                 WHERE s.doc_id = t.doc_id
                                   AND t.pos >= s.s AND t.pos < s.e))
      SELECT d.doc_id,
             coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS kept_text,
             CAST(COUNT(k.tok) AS BIGINT) AS kept_len
      FROM documents d LEFT JOIN kept k USING (doc_id)
      GROUP BY d.doc_id
      ORDER BY doc_id""")) { (s, d) =>
      ExactSubstring.dropRepeatedSpans(Tables.documents(s, d), k = 8)
        .orderBy("doc_id")
    },

    // ---- q73: the COMPOSED curation pipeline — exact dedup (q20)
    // → benchmark decontamination (q48) → stratified sampling (q50)
    // → sequence packing (q49), chained in one lineage the way a
    // real pre-training data build runs them. Composition order is
    // the production one: dedup first (cheapest eliminator), then
    // drop eval-contaminated docs, then rebalance languages, and
    // pack only what survives. The sample stage is a pure codegen
    // filter fused into the packing scan (no shuffle of its own);
    // dedup's survivor semi-join and the decontamination anti-join
    // are the only corpus-wide exchanges before the single packing
    // repartition — the fused plan is pinned in PLANS.md. The
    // oracle replays all four stages stage-for-stage: survivor
    // min-ids, 15-hex shingle hits, md5 strat buckets, and the
    // recursive next-fit walk.
    Q("q73_curation_pipeline", Some("""
      WITH RECURSIVE
      surv AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))),
      dd AS (SELECT d.doc_id, d.text, d.lang FROM documents d JOIN surv USING (doc_id)),
      e AS (SELECT DISTINCT unnest(list_distinct(list_transform(
              [array_to_string(string_split(text,' ')[i:i+2], ' ')
               FOR i IN range(1, len(string_split(text,' ')) - 1)],
              x -> substr(md5(x), 1, 15)))) AS sh
            FROM documents WHERE doc_id % 97 = 0),
      tsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                [array_to_string(string_split(text,' ')[i:i+2], ' ')
                 FOR i IN range(1, len(string_split(text,' ')) - 1)],
                x -> substr(md5(x), 1, 15)))) AS sh
              FROM dd),
      cont AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN e USING (sh)),
      clean AS (SELECT dd.* FROM dd ANTI JOIN cont USING (doc_id)),
      sampled AS (
        SELECT * FROM clean
        WHERE ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 <
              CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
                        WHEN 'fr' THEN 1000000 WHEN 'es' THEN 100000 ELSE 0 END),
      d2 AS (SELECT doc_id, doc_id % 32 AS shard,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS w
             FROM sampled),
      ord AS (SELECT doc_id, shard, w,
                     CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1 AS BIGINT) AS i
              FROM d2),
      walk AS (
        SELECT shard, i, doc_id, CAST(0 AS BIGINT) AS seq, w AS cum, w
        FROM ord WHERE i = 0
        UNION ALL
        SELECT o.shard, o.i, o.doc_id,
               CASE WHEN wk.cum + o.w > 512 THEN wk.seq + 1 ELSE wk.seq END,
               CASE WHEN wk.cum + o.w > 512 THEN o.w ELSE wk.cum + o.w END,
               o.w
        FROM walk wk JOIN ord o ON o.shard = wk.shard AND o.i = wk.i + 1)
      SELECT doc_id, shard, seq AS seq_id, w AS n_tokens
      FROM walk
      ORDER BY doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val survivors = Dedup.exactByFingerprint(docs).select(col("doc_id"))
      val deduped = docs.join(survivors, Seq("doc_id"), "left_semi")
      val contaminated = Curation
        .flagContaminated(deduped, docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 3)
        .filter(col("contaminated")).select(col("doc_id"))
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      val sampled = Curation.sampleStratified(clean, col("lang"),
        Map("en" -> 0.25, "de" -> 0.5, "fr" -> 1.0, "es" -> 0.1))
      Curation.packSequences(sampled, maxTokens = 512, shards = 32)
        .orderBy("doc_id")
    },

    // ---- q52: count-min sketch term estimates — the bounded-state
    // aggregation (4x512 cells regardless of vocabulary size) probed
    // for the stopword vocabulary. All four cell hashes are 32-bit
    // slices of ONE md5 per term (the digest is the scan's hot
    // loop; subexpression elimination computes it once), so the
    // estimates — overcounts included — match the oracle
    // cell-for-cell.
    Q("q52_cms_estimates", Some(s"""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      cells AS (SELECT d, ('0x' || substr(md5(term), 1 + 8 * d, 8))::BIGINT % 512 AS bucket,
                       COUNT(*) AS cnt
                FROM tok CROSS JOIN generate_series(0, 3) g(d)
                GROUP BY 1, 2),
      p AS (SELECT unnest(${TextQueries.stopwordSqlList}) AS term),
      pb AS (SELECT term, d, ('0x' || substr(md5(term), 1 + 8 * d, 8))::BIGINT % 512 AS bucket
             FROM p CROSS JOIN generate_series(0, 3) g(d))
      SELECT term, MIN(COALESCE(cells.cnt, 0)) AS est
      FROM pb LEFT JOIN cells USING (d, bucket)
      GROUP BY term
      ORDER BY term""")) { (s, d) =>
      import s.implicits._
      val terms = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      val sketch = Sketches.countMinSketch(terms, "term", depth = 4, width = 512)
      val probes = TextFunctions.Stopwords.toDF("term")
      Sketches.cmsEstimate(sketch, probes, "term", depth = 4, width = 512)
        .orderBy("term")
    },

    // ---- q42: sentence tokenize as a custom Generator (F9,
    // process_all.py:291): punctuation is synthesized into the
    // corpus (a period every five words), then the SentenceSplit
    // generator expands one row per sentence. The whole pipeline —
    // including the r9 decimal/abbreviation protections (see
    // StringOps.sentenceSplit: protect → split → restore via chr(1)
    // placeholders, no lookarounds) — is replicated in the oracle
    // with RE2 regexp_replace + the same ordered replace chain, so
    // DuckDB agrees byte-for-byte.
    Q("q42_sentence_split", Some(s"""
      WITH m AS (
        SELECT doc_id,
               regexp_replace(text, '((?:\\S+ ){4}\\S+) ', '\\1. ', 'g') AS t0
        FROM documents),
      p AS (
        SELECT doc_id, ${TextQueries.sentenceProtectSql("regexp_replace(t0, '(\\d)\\.(\\d)', '\\1' || chr(1) || '\\2', 'g')")} AS t
        FROM m),
      s AS (
        SELECT doc_id,
               list_filter(list_transform(regexp_extract_all(t, '[^.!?]+[.!?]*'),
                                          x -> trim(replace(x, chr(1), '.'))), x -> x <> '') AS sents
        FROM p)
      SELECT doc_id,
             CAST(generate_subscripts(sents, 1) - 1 AS BIGINT) AS pos,
             unnest(sents) AS sentence
      FROM s
      ORDER BY doc_id, pos""")) { (s, d) =>
      val punctuated = regexp_replace(col("text"), "((?:\\S+ ){4}\\S+) ", "$1. ")
      Tables.documents(s, d)
        .select(col("doc_id"), GraftFunctions.sentence_split(punctuated))
        .withColumn("pos", col("pos").cast("long"))
        .orderBy("doc_id", "pos")
    },

    // ---- q55: keyword search — top 20 documents for a three-term
    // query, ranked by (distinct terms matched, total tf, doc_id).
    // 'dup' is the corpus's one rare term (df ~5%), so the ranking
    // exercises the full lattice: rare-term full matches float to
    // the top, partial matches tier below. The relevance score is
    // integer-exact (see TextRank.keywordSearch), so the gate hashes
    // the ranking itself — the float-scored BM25 variant of the same
    // machinery is spec-gated in TextRankSpec. Plan: projection-only
    // scoring (no explode, no shuffle) + partial-limit top-k.
    Q("q55_keyword_search", Some("""
      WITH scored AS (
        SELECT doc_id,
               CAST((len(list_filter(string_split(text, ' '), x -> x = 'spark')) > 0)::INT
                  + (len(list_filter(string_split(text, ' '), x -> x = 'window')) > 0)::INT
                  + (len(list_filter(string_split(text, ' '), x -> x = 'dup')) > 0)::INT AS BIGINT)
                 AS n_matched,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
                  + len(list_filter(string_split(text, ' '), x -> x = 'window'))
                  + len(list_filter(string_split(text, ' '), x -> x = 'dup')) AS BIGINT)
                 AS tf_total,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents)
      SELECT doc_id, n_matched, tf_total, dl FROM scored
      WHERE n_matched > 0
      ORDER BY n_matched DESC, tf_total DESC, doc_id
      LIMIT 20""")) { (s, d) =>
      TextRank.keywordSearch(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("spark", "window", "dup"), k = 20)
    },

    // ---- q166: BM25-ranked retrieval — q55's flat (n_matched, tf)
    // ranking upgraded with the real relevance weighting: flog2q
    // integer idf (rare terms count more), k1=1.2 tf saturation,
    // b=0.75 length normalization via millitoken-quantized avgdl —
    // every term an exact long, so a SCORE ranking hash-gates where
    // a float BM25 never could. Two corpus scans (tf projection +
    // one-row stats broadcast), bounded TakeOrdered(20).
    Q("q166_bm25", Some(s"""
      WITH base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS BIGINT) AS tf0,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'window')) AS BIGINT) AS tf1,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'dup')) AS BIGINT) AS tf2
        FROM documents),
      st AS (SELECT CAST(SUM(dl) AS BIGINT) AS dl_total,
                    CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
                    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
             FROM base),
      j AS (SELECT base.*, st.*, (1000 * dl_total) // n_docs AS avgdl_fp FROM base, st)
      SELECT doc_id,
             CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END +
                   CASE WHEN tf1 > 0 THEN 1 ELSE 0 END +
                   CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             CAST(${Seq(("tf0", "df0"), ("tf1", "df1"), ("tf2", "df2")).map { case (tf, df) =>
               val idf = s"(${graft.operators.Curation.flog2qSql(s"2 * (n_docs - $df) + 1")} - " +
                 s"${graft.operators.Curation.flog2qSql(s"2 * $df + 1")})"
               s"""CASE WHEN $tf > 0
                     THEN ($idf * 2200 * $tf * avgdl_fp)
                          // (10 * $tf * avgdl_fp + 3 * avgdl_fp + 9000 * dl)
                     ELSE 0 END"""
             }.mkString(" + ")} AS BIGINT) AS score_q,
             dl
      FROM j
      WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
      ORDER BY score_q DESC, doc_id
      LIMIT 20""")) { (s, d) =>
      TextRank.bm25Search(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("spark", "window", "dup"), k = 20)
    },

    // ---- q116: hybrid retrieval via reciprocal-rank fusion — the
    // RAG-stack default combiner: q55's integer-exact lexical top-50
    // and q30's dense cosine top-50 (query = vector 0) merge by
    // rrf = Σ 1/(60 + rank), absent lists contributing 0. Rank-based
    // fusion needs no score calibration between rankers — and each
    // term is one correctly-rounded division plus one fixed-order
    // addition, so the fused floats hash-gate (the no-ln rule:
    // score-based fusers would not). All fusion work runs on the
    // two bounded top-k lists; corpus-sized work stays inside the
    // upstream rankers.
    Q("q116_hybrid_rrf", Some("""
      WITH scored AS (
        SELECT doc_id,
               CAST((len(list_filter(string_split(text, ' '), x -> x = 'spark')) > 0)::INT
                  + (len(list_filter(string_split(text, ' '), x -> x = 'window')) > 0)::INT
                  + (len(list_filter(string_split(text, ' '), x -> x = 'dup')) > 0)::INT AS BIGINT)
                 AS n_matched,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
                  + len(list_filter(string_split(text, ' '), x -> x = 'window'))
                  + len(list_filter(string_split(text, ' '), x -> x = 'dup')) AS BIGINT)
                 AS tf_total
        FROM documents),
      kwr AS (SELECT doc_id,
                CAST(row_number() OVER (ORDER BY n_matched DESC, tf_total DESC, doc_id) AS BIGINT) AS kw_rank
              FROM scored WHERE n_matched > 0),
      kw AS (SELECT * FROM kwr WHERE kw_rank <= 50),
      p AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings),
      ds AS (SELECT c.vec_id AS neighbor_id,
               list_inner_product(c.v, q.v) / (c.nrm * q.nrm) AS sim_raw
             FROM p c JOIN p q ON q.vec_id = 0 AND c.vec_id <> 0),
      dr AS (SELECT neighbor_id,
               CAST(row_number() OVER (ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS dense_rank
             FROM ds),
      dn AS (SELECT * FROM dr WHERE dense_rank <= 50),
      f AS (SELECT COALESCE(kw.doc_id, dn.neighbor_id) AS doc_id,
              kw.kw_rank, dn.dense_rank,
              COALESCE(1.0 / (60.0 + kw.kw_rank), 0.0)
                + COALESCE(1.0 / (60.0 + dn.dense_rank), 0.0) AS rrf
            FROM kw FULL OUTER JOIN dn ON dn.neighbor_id = kw.doc_id)
      SELECT doc_id, kw_rank, dense_rank, rrf FROM f
      ORDER BY rrf DESC, doc_id
      LIMIT 10""")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // The rank windows run over the 50-row top-k lists, not the
      // corpus — presentation-sized, like the final LIMIT.
      val kw = TextRank.keywordSearch(Tables.documents(s, d), "doc_id", "text",
          terms = Seq("spark", "window", "dup"), k = 50)
        .withColumn("kw_rank", row_number().over(
          Window.orderBy(col("n_matched").desc, col("tf_total").desc, col("doc_id")))
          .cast("long"))
      val emb = Tables.embeddings(s, d)
      val dense = graft.operators.Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 50)
        .select(col("neighbor_id"), col("rank").cast("long").as("dense_rank"))
      TextRank.rrfFuse(kw, "doc_id", "kw_rank",
          dense, "neighbor_id", "dense_rank", k = 10)
        .select(col("doc_id"), col("rank_a").as("kw_rank"),
          col("rank_b").as("dense_rank"), col("rrf"))
    },

    // ---- q58: PII redaction — emails/phones/IPs are synthesized
    // onto each document deterministically (with per-category
    // presence varying by doc_id so the counts exercise 0 and 1),
    // then scrubbed by the shared lookaround-free pattern set that
    // Java regex and RE2 match byte-for-byte. The gate hashes the
    // per-category counts AND an md5 fingerprint of the redacted
    // text, so a one-character divergence in any replacement flips
    // the hash. Pure projection — no shuffle.
    Q("q58_pii_redact", Some("""
      WITH pii AS (SELECT doc_id,
          'contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
            || CASE WHEN doc_id % 3 = 0 THEN ''
                    ELSE ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' END
            || CASE WHEN doc_id % 2 = 0
                    THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
            || ' ' || text AS t
        FROM documents),
      s0 AS (SELECT doc_id,
          CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[a-zA-Z]')) AS BIGINT) AS n_email,
          regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[a-zA-Z]', '<EMAIL>', 'g') AS t1
        FROM pii),
      s1 AS (SELECT doc_id, n_email,
          CAST(len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
          regexp_replace(t1, '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS t2
        FROM s0),
      s2 AS (SELECT doc_id, n_email, n_phone,
          CAST(len(regexp_extract_all(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
          regexp_replace(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS t3
        FROM s1)
      SELECT doc_id, n_email, n_phone, n_ip, md5(t3) AS redacted_fp
      FROM s2
      ORDER BY doc_id""")) { (s, d) =>
      val piiText = concat(
        lit("contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0, lit(""))
          .otherwise(concat(lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-0199"))),
        when(col("doc_id") % 2 === 0,
          concat(lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7")))
          .otherwise(lit("")),
        lit(" "), col("text"))
      Curation.redactPii(Tables.documents(s, d).withColumn("text", piiText))
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
          md5(col("text")).as("redacted_fp"))
        .orderBy("doc_id")
    },

    // ---- q59: Gopher-style repetition statistics — duplicate-line
    // and top-bigram shares, the quality gate that drops boilerplate
    // and spam. Lines are synthesized two-words-per-line (q42's
    // marker-replace trick) so the small vocabulary actually
    // produces duplicates; all four statistics are exact integers
    // computed INSIDE the row — the bigram census in the codegen'd
    // TopShingleRun kernel over 60-bit md5 classes the oracle
    // replays — so the scan never explodes or shuffles and the
    // oracle's group-by formulation must agree exactly.
    Q("q59_repetition_stats", Some("""
      WITH lined AS (SELECT doc_id,
          regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g') AS t
        FROM documents),
      l AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM lined),
      toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                     i -> ('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 15))::BIGINT)) AS gram
            FROM toks),
      gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
      top AS (SELECT doc_id, MAX(c) AS top_bigram_count, CAST(SUM(c) AS BIGINT) AS n_bigrams
              FROM gc GROUP BY 1)
      SELECT l.doc_id,
             CAST(len(l.lines) AS BIGINT) AS n_lines,
             CAST(len(l.lines) - len(list_distinct(l.lines)) AS BIGINT) AS n_dup_lines,
             COALESCE(top.n_bigrams, 0) AS n_bigrams,
             CAST(COALESCE(top.top_bigram_count, 0) AS BIGINT) AS top_bigram_count
      FROM l LEFT JOIN top ON l.doc_id = top.doc_id
      ORDER BY l.doc_id""")) { (s, d) =>
      val lined = Tables.documents(s, d)
        .withColumn("text", regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n"))
      Curation.repetitionStats(lined).orderBy("doc_id")
    },

    // ---- q63: inverted-index build — df, corpus tf, and the
    // 20-smallest-doc-id posting head per term, the construction
    // side of q55's keyword search. The posting head rides the
    // bounded TopK aggregator (≤20 ids per term per partition
    // before the shuffle), never an unbounded collect_list of a
    // stopword's corpus-sized posting list; the oracle's
    // list_sort(list(...)) formulation must agree exactly on the
    // comma-joined head.
    Q("q63_inverted_index", Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
             array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
      FROM tf GROUP BY term
      ORDER BY term""")) { (s, d) =>
      TextRank.invertedIndex(Tables.documents(s, d))
        .orderBy("term")
    },

    // ---- q179: posting-list varint compression estimate — the
    // index-storage planner beside q63: per term, delta-gap varint
    // bytes (first gap = id+1, ceil(bitlen/7) per gap) vs the raw
    // 8-byte baseline, top-20 terms by df. Gaps accumulate in a
    // hash-partitioned sorted mapPartitions stream (running sums —
    // a stopword's corpus-sized posting list costs bounded memory).
    Q("q179_posting_compression", Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      p AS (SELECT DISTINCT term, doc_id FROM tok),
      g AS (SELECT term, doc_id,
                   doc_id - LAG(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS gap
            FROM p),
      b AS (SELECT term, COALESCE(gap, doc_id + 1) AS gap FROM g),
      s AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                   CAST(SUM((length(bin(gap)) + 6) // 7) AS BIGINT) AS varint_bytes
            FROM b GROUP BY 1)
      SELECT term, df, CAST(df * 8 AS BIGINT) AS raw_bytes, varint_bytes,
             CAST(varint_bytes * 10000 // (df * 8) AS BIGINT) AS ratio_e4
      FROM s ORDER BY df DESC, term LIMIT 20""")) { (s, d) =>
      TextRank.postingCompressionStats(Tables.documents(s, d), k = 20)
    },

    // ---- q94: word-n-gram quality classifier (fastText-shape) —
    // the seed-vs-rest gate of CCNet/GPT-3-style curation, with
    // integer sufficient statistics instead of trained float
    // weights: fit a class-conditional uni+bigram census (support
    // >= 2, the fastText minCount bound) with src0-2 as the seed
    // class, then score every document by its census mass per class;
    // prediction is the cross-multiplied naive-Bayes log-odds sign,
    // all-integer so the gate hash-matches across engines. Census =
    // one map-side-combined groupBy; scoring (since r10) = the
    // zero-join WordNgramScore codegen projection over one corpus
    // scan — no explode, no census equi-join, no re-aggregate —
    // behind the maxVocab driver bound, falling back to the
    // distributed join plan when the census exceeds it.
    Q("q94_quality_classifier", Some("""
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      terms AS (
        SELECT doc_id, source, unnest(t) AS term FROM toks
        UNION ALL
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS term
        FROM toks),
      census AS (
        SELECT term,
               CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END) AS BIGINT) AS pos_count,
               CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 0 ELSE 1 END) AS BIGINT) AS neg_count
        FROM terms GROUP BY term
        HAVING COUNT(*) >= 2),
      tot AS (SELECT CAST(SUM(pos_count) AS BIGINT) AS pt, CAST(SUM(neg_count) AS BIGINT) AS nt FROM census)
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(c.pos_count) AS BIGINT) AS pos_mass,
             CAST(SUM(c.neg_count) AS BIGINT) AS neg_mass,
             CAST(SUM(c.pos_count) AS BIGINT) * (SELECT nt FROM tot)
               > CAST(SUM(c.neg_count) AS BIGINT) * (SELECT pt FROM tot) AS pred_pos
      FROM terms t JOIN census c USING (term)
      GROUP BY t.doc_id
      ORDER BY t.doc_id""")) { (s, d) =>
      QualityClassifier.fitScoreFast(Tables.documents(s, d),
          isPositive = col("source").isin("src0", "src1", "src2"))
        .orderBy("doc_id")
    },

    // ---- q99: windowed co-occurrence census — PMI-collocation
    // sufficient statistics (pair count within a 5-token window +
    // each side's unigram count), integer-only per the house float
    // rule (PMI's ln is the caller's derivation). Pair generation is
    // a generate-only nested transform inside the row — corpus-
    // linear for fixed window, never a positional self-join; the
    // oracle replays the same nested list construction in DuckDB.
    // Oracle pairs join on chr(1) (the q42 placeholder convention,
    // under the same no-U+0001-in-text corpus precondition) — a tab
    // separator would mis-split on tokens that contain tabs.
    Q("q99_cooccurrence", Some("""
      WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      pl AS (
        SELECT doc_id,
               list_filter(flatten(list_transform(range(1, len(t)+1),
                 i -> list_transform(range(1, 6),
                   j -> CASE WHEN i+j <= len(t)
                        THEN least(t[i], t[i+j]) || chr(1) || greatest(t[i], t[i+j]) END))),
                 x -> x IS NOT NULL) AS ps
        FROM toks),
      pairs AS (SELECT string_split(unnest(ps), chr(1)) AS pr FROM pl),
      tc AS (SELECT unnest(t) AS term FROM toks),
      tcnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM tc GROUP BY term)
      SELECT pr[1] AS term_a, pr[2] AS term_b, CAST(COUNT(*) AS BIGINT) AS n_pair,
             MIN(ca.n) AS n_a, MIN(cb.n) AS n_b
      FROM pairs JOIN tcnt ca ON ca.term = pr[1] JOIN tcnt cb ON cb.term = pr[2]
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
      ORDER BY term_a, term_b""")) { (s, d) =>
      TextRank.cooccurrence(Tables.documents(s, d), window = 5, minCount = 5)
        .orderBy("term_a", "term_b")
    },

    // ---- q102: Bloom-filter membership sketch (completing the
    // sketch family: CMS counts, HLL cardinality, percentiles, now
    // MEMBERSHIP — the standard 100-TB decontamination/delta-ingest
    // accelerator). Fit on the eval slice's text keys (doc_id % 37),
    // probe every document: (n_hit of k, maybe_in_set). Hashing is
    // the engine-portable md5 scheme (position i = h60(i':'key) mod
    // numBits), so the oracle REBUILDS the exact bitset and replays
    // membership semantics bit-for-bit — false positives included
    // (numBits=1024 is deliberately small so FP arithmetic is
    // actually exercised at sf0.1 rather than vacuously absent).
    // Fit collects the filter, never the keys: the driver reads at
    // most numBits/64 bit_or-merged words at ANY corpus size.
    Q("q102_bloom_membership", Some("""
      WITH fit AS (SELECT text FROM documents WHERE doc_id % 37 = 0),
      bits AS (SELECT DISTINCT
                 ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || text), 1, 15))::BIGINT % 1024 AS p
               FROM fit, range(5) r(i)),
      probe AS (SELECT doc_id,
                  ('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || text), 1, 15))::BIGINT % 1024 AS p
                FROM documents, range(5) r(i)),
      hit AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
              FROM probe JOIN bits USING (p) GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(h.n_hit, 0) AS n_hit,
             COALESCE(h.n_hit, 0) = 5 AS maybe_in_set
      FROM documents d LEFT JOIN hit h USING (doc_id)
      ORDER BY doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = Sketches.fitBloom(
        docs.filter(col("doc_id") % 37 === 0).select(col("text").as("key")),
        "key", numBits = 1024, k = 5)
      Sketches.bloomScored(docs, model).orderBy("doc_id")
    },

    // ---- q100: content-defined chunking (FastCDC/rsync family,
    // token granularity) — cuts where a 3-gram md5 hashes to
    // 0 mod 64, so boundaries follow CONTENT, not offsets: the
    // property that lets chunk-hash dedup collapse unchanged regions
    // across document versions. One Generator kernel pass per row,
    // no shuffle; the oracle replays cut selection, chunk slicing,
    // and the 15-hex chunk hash with the same md5 spelling.
    Q("q100_cdc_chunks", Some("""
      WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      cuts AS (
        SELECT doc_id, t,
               list_prepend(CAST(1 AS BIGINT), list_filter(
                 list_transform(range(1, len(t) - 3 + 2),
                   i -> CASE WHEN ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT % 64 = 0
                             AND i + 3 <= len(t)
                        THEN CAST(i + 3 AS BIGINT) END),
                 x -> x IS NOT NULL)) AS starts
        FROM toks),
      ch AS (
        SELECT doc_id, t, starts,
               CAST(generate_subscripts(starts, 1) - 1 AS INTEGER) AS chunk_idx,
               unnest(starts) AS s
        FROM cuts),
      fin AS (
        SELECT doc_id, chunk_idx,
               CAST(COALESCE(starts[chunk_idx + 2], len(t) + 1) - s AS BIGINT) AS n_tokens,
               array_to_string(t[s:COALESCE(starts[chunk_idx + 2], len(t) + 1) - 1], ' ') AS chunk_text
        FROM ch)
      SELECT doc_id, chunk_idx, n_tokens, chunk_text,
             substr(md5(chunk_text), 1, 15) AS chunk_hash
      FROM fin
      ORDER BY doc_id, chunk_idx""")) { (s, d) =>
      Curation.cdcChunks(Tables.documents(s, d), k = 3, divisor = 64)
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- q113: ensemble quality GATE — the production filter step
    // that q26/q77/q94 exist to feed, composed in one lineage: fit
    // the char-bigram LM and the word-n-gram classifier (two bounded
    // census jobs), then score EVERY document in a single scan — the
    // heuristic score, the LM familiarity and the classifier verdict
    // are all stateless codegen projections closing over broadcast
    // models, so the scoring pass has zero joins and zero shuffles
    // (the fit-batch/score-stream split means this same projection
    // deploys on a stream). Gate rule (each clause binds on real
    // docs at every SF): quality ≥ 0.38 AND classifier-positive AND
    // rare-bigram mass ≤ 0.5% (n_rare·200 ≤ n_bigrams, the q77
    // relative-bound convention). The oracle replays all three
    // scorers and the gate.
    Q("q113_quality_gate", Some(s"""
      WITH h AS (
        SELECT doc_id,
               floor((0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                    + 0.3 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
                    + 0.3 * (len(list_filter(string_split(text, ' '),
                          x -> list_contains(${TextQueries.stopwordSqlList}, x))) / len(string_split(text, ' '))))
                     * 10000 + 0.5) / 10000 AS quality
        FROM documents),
      bg AS (SELECT doc_id,
                    unnest(list_transform(range(1, length(text)), i -> substr(text, i, 2))) AS bg
             FROM documents),
      m0 AS (SELECT bg, COUNT(*) AS bg_count FROM bg GROUP BY bg),
      m AS (SELECT bg, bg_count,
                   bg_count * 2000 < (SELECT SUM(bg_count) FROM m0) AS is_rare
            FROM m0),
      s AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(m.bg_count) AS BIGINT) AS familiarity,
                   CAST(SUM(CASE WHEN m.is_rare THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
            FROM bg JOIN m USING (bg) GROUP BY bg.doc_id),
      toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      terms AS (
        SELECT doc_id, source, unnest(t) AS term FROM toks
        UNION ALL
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS term
        FROM toks),
      census AS (
        SELECT term,
               CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END) AS BIGINT) AS pos_count,
               CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 0 ELSE 1 END) AS BIGINT) AS neg_count
        FROM terms GROUP BY term
        HAVING COUNT(*) >= 2),
      tot AS (SELECT CAST(SUM(pos_count) AS BIGINT) AS pt, CAST(SUM(neg_count) AS BIGINT) AS nt FROM census),
      w AS (SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(SUM(c.pos_count) AS BIGINT) AS pos_mass,
                   CAST(SUM(c.neg_count) AS BIGINT) AS neg_mass,
                   CAST(SUM(c.pos_count) AS BIGINT) * (SELECT nt FROM tot)
                     > CAST(SUM(c.neg_count) AS BIGINT) * (SELECT pt FROM tot) AS pred_pos
            FROM terms t JOIN census c USING (term)
            GROUP BY t.doc_id)
      SELECT d.doc_id, h.quality,
             COALESCE(s.n_bigrams, 0) AS n_bigrams,
             COALESCE(s.familiarity, 0) AS familiarity,
             COALESCE(s.n_rare, 0) AS n_rare,
             COALESCE(w.n_terms, 0) AS n_terms,
             COALESCE(w.pos_mass, 0) AS pos_mass,
             COALESCE(w.neg_mass, 0) AS neg_mass,
             COALESCE(w.pred_pos, FALSE) AS pred_pos,
             h.quality >= 0.38 AND COALESCE(w.pred_pos, FALSE)
               AND COALESCE(s.n_rare, 0) * 200 <= COALESCE(s.n_bigrams, 0) AS pass
      FROM documents d
      JOIN h USING (doc_id)
      LEFT JOIN s USING (doc_id)
      LEFT JOIN w USING (doc_id)
      ORDER BY d.doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val lm = CharLm.collectModel(docs, rareFactor = 2000)
      val cls = QualityClassifier.collectModel(docs,
        isPositive = col("source").isin("src0", "src1", "src2"))
      docs.select(col("doc_id"),
          (floor(TextFunctions.qualityScore(col("text")) * lit(10000.0d) + lit(0.5d))
            / lit(10000.0d)).as("quality"),
          GraftFunctions.char_bigram_score(col("text"), lm).as("__c"),
          GraftFunctions.word_ngram_score(col("text"), cls).as("__w"))
        .select(col("doc_id"), col("quality"),
          coalesce(col("__c.n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("__c.familiarity"), lit(0L)).as("familiarity"),
          coalesce(col("__c.n_rare"), lit(0L)).as("n_rare"),
          coalesce(col("__w.n_terms"), lit(0L)).as("n_terms"),
          coalesce(col("__w.pos_mass"), lit(0L)).as("pos_mass"),
          coalesce(col("__w.neg_mass"), lit(0L)).as("neg_mass"),
          coalesce(col("__w.pred_pos"), lit(false)).as("pred_pos"))
        .withColumn("pass",
          col("quality") >= 0.38d && col("pred_pos") &&
            col("n_rare") * 200L <= col("n_bigrams"))
        .orderBy("doc_id")
    },

    // ---- q108: politeness-scheduled crawl frontier — the batch
    // planner for the reference's per-host-semaphore fetcher: each
    // request gets its host-FIFO position, a politeness ROUND (at
    // most 4 requests per host per round) and a global dispatch
    // BATCH within the round (at most 16 requests per batch, FIFO by
    // host then queue position). Pure integer window arithmetic —
    // two partitioned windows on bounded keys, no global sort of the
    // frontier (the final ORDER BY is presentation, the schedule
    // itself never totals-orders the corpus).
    Q("q108_crawl_schedule", Some("""
      WITH f AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS host_seq
        FROM documents),
      r AS (SELECT doc_id, source, host_seq,
                   (host_seq - 1) // 4 AS round
            FROM f)
      SELECT doc_id, source, host_seq, round,
             (CAST(row_number() OVER (PARTITION BY round
                                      ORDER BY source, host_seq) AS BIGINT) - 1) // 16 AS batch
      FROM r
      ORDER BY doc_id""")) { (s, d) =>
      Curation.crawlSchedule(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          hostCol = "source", orderCol = "doc_id",
          maxPerHost = 4, waveCapacity = 16)
        .select(col("doc_id"), col("source"), col("host_seq"), col("round"), col("batch"))
        .orderBy("doc_id")
    },

    // ---- q241: CCNet-style per-LINE LM quality filtering (r18
    // growth — Wenzek et al. 2020's head/middle/tail recipe, the
    // line-granular deployment of the q77 char-bigram LM): documents
    // split into lines (every third token boundary, the q59 lining
    // convention), each LINE scores against the CORPUS-fit bigram
    // model, and unfamiliar lines (any rare-bigram mass above 5%,
    // or no bigrams at all) are dropped; the cleaned document is
    // reassembled in line order. Engine shape: the model collects
    // once under the bounded charset² guard and rides the plan as a
    // codegen literal ([[CharLm.scoreWithModel]]'s expression) INSIDE
    // an array `filter` lambda — per-document work is one projection,
    // no explode, no shuffle, no join; the only aggregation in the
    // whole query is the model fit. The reassembled `kept_text`
    // makes the gate order-sensitive (a reordered keep-set flips the
    // hash). Line-internal bigrams are substrings of the original
    // text by construction, so the inner model join in the oracle
    // never misses.
    Q("q241_ccnet_line_filter", Some(ccnetLineOracle)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val lm = CharLm.collectModel(docs, rareFactor = 2000)
      lineFilterProjection(docs, lm).orderBy("doc_id")
    },

    // ---- q245: the STREAMING LINE-FILTER lane (r18) — q241's
    // CCNet-style per-line quality filter deployed at ingest,
    // completing the production ingest triad beside q234 (dedup
    // triage) and q240 (ANN serve): the corpus bigram model
    // batch-fits once and rides the plan as a codegen literal; every
    // arriving document is lined, line-scored, filtered, and
    // reassembled in ONE stateless projection — no state store, no
    // stream-side shuffle, no watermark, appending at ingest rate.
    // Same oracle as q241: the hash proves batch/stream parity.
    Q("q245_stream_line_filter", Some(ccnetLineOracle)) { (s, d) =>
      val lm = CharLm.collectModel(Tables.documents(s, d), rareFactor = 2000)
      val scored = lineFilterProjection(
        graft.streaming.StreamLane.documents(s, d), lm)
      graft.streaming.StreamLane.drain(s, scored, "append", "q245_mem",
          noDataBatch = false)
        .orderBy("doc_id")
    })

  /** DuckDB list literal of the quality-score stopwords. */
  def stopwordSqlList: String =
    TextFunctions.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Wraps `inner` in the ORDERED abbreviation-protection replace
    * chain of [[graft.functions.StringOps.sentenceSplit]] —
    * generated from the same `SentenceAbbrevs` list, so engine and
    * oracle can never drift on membership or order. */
  def sentenceProtectSql(inner: String): String =
    graft.functions.StringOps.SentenceAbbrevs.foldLeft(inner) { (acc, a) =>
      val stem = a.dropRight(1)
      s"replace($acc, '$a', '$stem' || chr(1))"
    }
}
