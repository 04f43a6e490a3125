package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** A collected char-bigram census ([[graft.operators.CharLm
  * .bigramModel]] brought to the driver, bounded at charset² rows):
  * the serializable model a [[CharBigramScore]] expression closes
  * over, so one batch-fit model scores any frame — batch or
  * STREAMING — as a stateless codegen'd projection. The UTF8String
  * lookup table is transient and rebuilt once per deserialization
  * (per executor), not per row. */
case class CharLmModel(counts: Map[String, Long], total: Long, rareFactor: Long) {
  require(rareFactor > 0, "rareFactor must be positive")
  @transient lazy val utf8Table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](counts.size * 2)
    counts.foreach { case (k, v) => m.put(UTF8String.fromString(k), java.lang.Long.valueOf(v)) }
    m
  }
}

/** A collected word-n-gram class census ([[graft.operators
  * .QualityClassifier.fit]] brought to the driver, bounded by the
  * census's minCount support filter and a caller guard): the
  * serializable model a [[WordNgramScore]] expression closes over —
  * the fastText-classifier deployment shape (bag of word uni+bigrams,
  * linear in counts) with INTEGER sufficient statistics instead of
  * trained float weights, so batch and stream scores hash-gate
  * exactly. `counts` maps term → (positive-class occurrences,
  * negative-class occurrences); totals are the class masses the
  * prediction cross-multiplies against. */
case class WordLmModel(counts: Map[String, (Long, Long)], posTotal: Long, negTotal: Long) {
  /** term → [pos_count, neg_count]; rebuilt once per executor. */
  @transient lazy val utf8Table: java.util.HashMap[UTF8String, Array[Long]] = {
    val m = new java.util.HashMap[UTF8String, Array[Long]](counts.size * 2)
    counts.foreach { case (k, (p, n)) => m.put(UTF8String.fromString(k), Array(p, n)) }
    m
  }
}

/** Collected DSIR bucket censuses ([[graft.operators.Curation
  * .collectDsirModel]] brought to the driver — DENSE long arrays
  * indexed by bucket, bounded by construction at `buckets` entries):
  * the serializable model a [[DsirScore]] expression closes over,
  * completing the fit-batch/score-stream family for importance
  * weighting. `ct`/`cr` are target/raw n-gram instance counts per
  * hash bucket; `tt`/`tr` the two census masses. */
case class DsirModel(n: Int, buckets: Int, ct: Array[Long], cr: Array[Long],
                     tr: Long, tt: Long) {
  require(n >= 1, "n must be positive")
  require(buckets >= 2, "buckets must be >= 2")
  require(ct.length == buckets && cr.length == buckets,
    "census arrays must be buckets-sized")
}

/** JVM implementations backing the custom Catalyst expressions.
  *
  * Kept as a top-level object so Scala emits static forwarders —
  * generated whole-stage code calls these as plain static Java
  * methods (`graft.functions.StringOps.slugify(...)`).
  */
object StringOps {

  /** De-accent + slugify (reference F1, `__init__.py:10-29`):
    * NFD-decompose, strip combining marks, lowercase, drop
    * punctuation except word chars / whitespace / hyphen, collapse
    * whitespace runs into single hyphens.
    *
    * Note the reference keeps letters that do not NFD-decompose
    * (e.g. Vietnamese "đ") — so does this.
    */
  def slugify(s: String): String = {
    if (s == null) return null
    val decomposed = Normalizer.normalize(s, Normalizer.Form.NFD)
    val deaccented = decomposed.replaceAll("\\p{Mn}+", "")
    // (?U): Python's \w / \s are Unicode-aware — without it Java drops
    // non-ASCII word chars like the Vietnamese đ that the reference keeps.
    val cleaned = deaccented.toLowerCase.replaceAll("(?U)[^\\w\\s-]", "")
    cleaned.trim.replaceAll("(?U)\\s+", "-")
  }

  /** Character-bigram array of a string — the codegen'd kernel
    * behind [[graft.operators.CharLm.charBigrams]] (an interpreted
    * per-char `transform(sequence(...))` HOF was the q77 scan's hot
    * loop, the q59 lesson again). Walks the UTF-8 bytes directly and
    * slices on CHARACTER starts — code-point indexing, matching
    * Spark `substring` and DuckDB `substr` on multibyte text — so
    * no UTF-16 surrogate hazard and zero String conversions; each
    * bigram is one small byte copy. Empty below two characters. */
  def charBigrams(s: UTF8String): ArrayData = {
    val n = s.numChars()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val bytes = s.getBytes
    val offs = new Array[Int](n + 1)
    var i = 0
    var o = 0
    while (o < bytes.length) {
      offs(i) = o
      o += UTF8String.numBytesForFirstByte(bytes(o))
      i += 1
    }
    offs(n) = bytes.length
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      out(i) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, offs(i), offs(i + 2)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Familiarity statistics of a string against a FIXED bigram
    * model — the kernel behind [[CharBigramScore]]: same byte walk
    * as [[charBigrams]], but folding `(n_bigrams, familiarity,
    * n_rare)` directly instead of materializing the array (scoring
    * never needs the bigrams themselves). A bigram absent from the
    * model contributes familiarity 0 and counts rare (count 0 is
    * below any rarity threshold) — on the model's own fit corpus
    * every bigram is present, so this reduces exactly to
    * [[graft.operators.CharLm.bigramFamiliarity]]'s distributed
    * fit+score (the parity the specs pin). */
  def charBigramScore(s: UTF8String,
                      counts: java.util.HashMap[UTF8String, java.lang.Long],
                      total: Long, rareFactor: Long): InternalRow = {
    val n = s.numChars()
    if (n < 2) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val bytes = s.getBytes
    val offs = new Array[Int](n + 1)
    var i = 0
    var o = 0
    while (o < bytes.length) {
      offs(i) = o
      o += UTF8String.numBytesForFirstByte(bytes(o))
      i += 1
    }
    offs(n) = bytes.length
    var fam = 0L
    var rare = 0L
    i = 0
    while (i < n - 1) {
      val bg = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, offs(i), offs(i + 2)))
      val c = counts.get(bg)
      val cv = if (c == null) 0L else c.longValue()
      fam += cv
      if (cv * rareFactor < total) rare += 1L
      i += 1
    }
    new GenericInternalRow(Array[Any]((n - 1).toLong, fam, rare))
  }

  /** Word-uni+bigram classifier statistics of a string against a
    * plan-time [[WordLmModel]] census — the scoring half of the
    * fastText-shape quality classifier, as one stateless kernel call
    * (string → (n_terms, pos_mass, neg_mass, pred_pos)).
    *
    * Tokenization mirrors `split(text, ' ')` EXACTLY (single-space
    * separator, empty tokens preserved) so the kernel's terms are
    * byte-identical to the batch census's — the parity the spec pins.
    * Terms absent from the census contribute nothing and do NOT
    * count toward `n_terms` (inner-join semantics, matching the
    * batch score). Prediction is the integer cross-multiplication
    * `pos_mass·negTotal > neg_mass·posTotal` — no float division, so
    * engines agree bit-for-bit. The products are compared EXACTLY at
    * 128 bits ([[productGt]]), so unlike a raw `Long` multiply this
    * never wraps at corpus scale — the kernel path is overflow-safe
    * for any mass the census can hold. */
  def wordNgramScore(s: UTF8String,
                     counts: java.util.HashMap[UTF8String, Array[Long]],
                     posTotal: Long, negTotal: Long): InternalRow = {
    val toks = s.split(UTF8String.fromString(" "), -1)
    var nTerms = 0L
    var posMass = 0L
    var negMass = 0L
    def add(term: UTF8String): Unit = {
      val c = counts.get(term)
      if (c != null) { nTerms += 1L; posMass += c(0); negMass += c(1) }
    }
    var i = 0
    while (i < toks.length) {
      add(toks(i))
      if (i + 1 < toks.length)
        add(UTF8String.concat(toks(i), UTF8String.fromString(" "), toks(i + 1)))
      i += 1
    }
    new GenericInternalRow(Array[Any](nTerms, posMass, negMass,
      productGt(posMass, negTotal, negMass, posTotal)))
  }

  /** Word uni+bigram term array of a string — the codegen'd kernel
    * behind [[graft.operators.QualityClassifier.terms]] (the
    * interpreted `transform(sequence(...))` HOF it replaces was the
    * q94 census's hot loop — the q59/q77/q99 CodegenFallback lesson
    * again). Tokenization mirrors `split(text, ' ')` exactly
    * (single-space separator, empty tokens preserved); unigrams
    * first, then bigrams joined with one space, matching the
    * column-level construction the oracle replays. */
  def wordNgramTerms(s: UTF8String): ArrayData = {
    val toks = s.split(UTF8String.fromString(" "), -1)
    val n = toks.length
    val out = new Array[Any](n + (if (n >= 2) n - 1 else 0))
    var i = 0
    while (i < n) { out(i) = toks(i); i += 1 }
    val sp = UTF8String.fromString(" ")
    i = 0
    while (i < n - 1) {
      out(n + i) = UTF8String.concat(toks(i), sp, toks(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `a·b > c·d` computed EXACTLY for non-negative operands: both
    * products are formed as unsigned 128-bit values
    * (`Math.multiplyHigh` + wrapped low word) and compared
    * lexicographically. A raw `Long` multiply silently wraps in
    * non-ANSI Spark once a product passes 2⁶³ (≈ masses of 3·10⁹
    * against class totals of the same order — reachable at corpus
    * scale) while DuckDB errors, so the naive form diverges from the
    * oracle exactly when it matters; this never does. */
  def productGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) hi1 > hi2
    else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  // Precompiled: String.replaceAll would re-compile the pattern on
  // EVERY call — a per-row Pattern.compile in the q17 hot loop.
  private val SepRuns = java.util.regex.Pattern.compile("[;:]+")

  /** Tolerant clock-duration parse (reference F2, `__init__.py:32-73`):
    * "HH:MM:SS" / "MM:SS" / "SS" with messy `[;:]+` separators and
    * empty fields treated as 0. Returns total seconds; NaN signals
    * parse failure (mapped to SQL NULL by the expression).
    */
  def durationSeconds(s: String): Double = {
    if (s == null) return Double.NaN
    val cleaned = SepRuns.matcher(s.trim).replaceAll(":")
    if (cleaned.isEmpty) return Double.NaN
    val parts = cleaned.split(":", -1)
    if (parts.length > 3) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < parts.length) {
      val p = parts(i).trim
      val v =
        if (p.isEmpty) 0.0
        else {
          try p.toDouble
          catch { case _: NumberFormatException => return Double.NaN }
        }
      acc = acc * 60.0 + v
      i += 1
    }
    acc
  }

  /** SimHash over pre-hashed 60-bit token hashes: for each bit
    * position, sum +1/-1 over tokens by whether that bit is set;
    * output bit = 1 iff the sum is positive. Result stays below
    * 2^60 so it round-trips through any engine's signed 64-bit
    * integer without sign games.
    */
  def simhash60(hashes: Array[Long]): Long = {
    val counts = new Array[Int](60)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Sentence tokenizer (reference F9 stand-in for
    * `underthesea.sent_tokenize`, `process_all.py:291`): maximal
    * runs of non-terminator characters with their trailing
    * terminators, trimmed, empties dropped. Deepened in r9 with the
    * two protections a sentence tokenizer actually needs on real
    * text — decimal points (3.14) and title abbreviations (TS. GS.
    * Dr. …) must not terminate a sentence — implemented as
    * placeholder substitution (protect → split → restore) so the
    * whole pipeline stays lookaround-free and an RE2-based oracle
    * (DuckDB: regexp_replace + replace chains) replicates it
    * byte-for-byte. Abbreviations are matched case-sensitively and
    * longest-first (PGS. before GS.) so replace chains agree across
    * engines. */
  private val SentencePattern = java.util.regex.Pattern.compile("[^.!?]+[.!?]*")
  private val DecimalDotPattern = java.util.regex.Pattern.compile("(\\d)\\.(\\d)")

  /** Vietnamese titles + a few latin ones; longest-first where one
    * contains another. Public list, mirrored in the q42 oracle. */
  val SentenceAbbrevs: Seq[String] = Seq(
    "PGS.", "ThS.", "GS.", "TS.", "BS.", "TP.", "Tr.",
    "Mr.", "Mrs.", "Ms.", "Dr.", "St.", "vs.", "etc.")

  /** Protect placeholder for the protect→split→restore pipeline.
    * PRECONDITION: input text does not itself contain U+0001 — a
    * pre-existing occurrence would be "restored" to '.' in the
    * output. Engine and oracle replay the identical substitution
    * chain, so PARITY holds regardless; what's at stake on
    * adversarial input is only fidelity of that one control char,
    * which the control-char scrub any crawl pipeline runs upstream
    * already removes. Chosen over escaping because the oracle must
    * reproduce the chain byte-for-byte with plain
    * replace/regexp_replace — an escape scheme would need
    * lookarounds DuckDB's RE2 lacks. */
  private val Protected = '\u0001'

  def sentenceSplit(s: String): Array[String] = {
    if (s == null) return Array.empty
    var t = DecimalDotPattern.matcher(s).replaceAll("$1" + Protected + "$2")
    SentenceAbbrevs.foreach { a =>
      t = t.replace(a, a.dropRight(1) + Protected)
    }
    val m = SentencePattern.matcher(t)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) {
      val piece = m.group().replace(Protected, '.').trim
      if (piece.nonEmpty) out += piece
    }
    out.toArray
  }

  /** Crawl-frontier URL canonicalization, rule-for-rule replayable
    * in plain SQL string ops (the q66 oracle does): strip the
    * fragment, strip ONE trailing slash from the pre-query part,
    * lowercase the scheme://host[:port] prefix (ASCII hosts; an IDN
    * pipeline would punycode upstream), drop the scheme's default
    * port (:80 http, :443 https), and sort query parameters in
    * UTF-16 code-unit order — identical to byte order for the ASCII
    * query strings URLs normally carry (and that the q66 oracle's
    * binary-collation `list_sort` compares); non-BMP params would
    * order differently from raw UTF-8 bytes. Deliberately minimal —
    * the deterministic subset
    * every crawl dedup needs before fingerprinting; percent-decode
    * and relative resolution are out of scope. */
  def canonicalUrl(u: String): String = {
    val hash = u.indexOf('#')
    val noFrag = if (hash >= 0) u.substring(0, hash) else u
    val q = noFrag.indexOf('?')
    var base = if (q >= 0) noFrag.substring(0, q) else noFrag
    val query = if (q >= 0) noFrag.substring(q + 1) else ""
    if (base.endsWith("/")) base = base.substring(0, base.length - 1)
    val schemeEnd = base.indexOf("://")
    if (schemeEnd >= 0) {
      val pathStart = base.indexOf('/', schemeEnd + 3)
      val prefixEnd = if (pathStart >= 0) pathStart else base.length
      var prefix = base.substring(0, prefixEnd).toLowerCase(java.util.Locale.ROOT)
      if (prefix.startsWith("https://") && prefix.endsWith(":443"))
        prefix = prefix.substring(0, prefix.length - 4)
      else if (prefix.startsWith("http://") && prefix.endsWith(":80"))
        prefix = prefix.substring(0, prefix.length - 3)
      base = prefix + base.substring(prefixEnd)
    }
    if (query.isEmpty) base
    else {
      val params = query.split("&", -1)
      java.util.Arrays.sort(params, java.util.Comparator.naturalOrder[String]())
      base + "?" + params.mkString("&")
    }
  }

  /** Bounded Levenshtein distance with common-prefix/suffix trimming
    * and a Ukkonen BANDED DP: exact distance when ≤ `maxEdits`, else
    * −1 — bit-compatible with Spark's `levenshtein(a, b, k)` builtin
    * (code-POINT unit edits, so surrogate pairs count once;
    * differential-pinned in StringOpsSpec).
    *
    * Why not the builtin: near-dup candidates are near-IDENTICAL
    * long strings (that is what a blocking join emits), and the
    * builtin walks the full O((2k+1)·n) band over both entire
    * strings even when they differ only in a 3-char suffix. Trimming
    * the shared prefix/suffix first makes the banded DP run over the
    * DIFFERENCE region only — O((2k+1)·(edit region)) — which is the
    * whole cost model of a verification kernel whose inputs are
    * mostly duplicates (r12 verdict: the per-pair call dominated
    * q146 at 29× the oracle's constant). */
  def boundedLevenshtein(ua: UTF8String, ub: UTF8String, maxEdits: Int): Int = {
    if (maxEdits < 0) return -1
    val sa = ua.toString
    val sb = ub.toString
    // Code-point arrays: trimming and DP must operate on code points
    // (trimming one half of a surrogate pair would split a character
    // and diverge from the builtin's code-point unit).
    var a = new Array[Int](sa.length); var la = 0
    var i = 0
    while (i < sa.length) {
      val cp = sa.codePointAt(i); a(la) = cp; la += 1; i += Character.charCount(cp)
    }
    var b = new Array[Int](sb.length); var lb = 0
    i = 0
    while (i < sb.length) {
      val cp = sb.codePointAt(i); b(lb) = cp; lb += 1; i += Character.charCount(cp)
    }
    // Trim shared prefix, then shared suffix.
    var lo = 0
    while (lo < la && lo < lb && a(lo) == b(lo)) lo += 1
    var haL = la; var hbL = lb
    while (haL > lo && hbL > lo && a(haL - 1) == b(hbL - 1)) { haL -= 1; hbL -= 1 }
    var m = haL - lo; var n = hbL - lo
    if (m > n) { val t = a; a = b; b = t; val u = m; m = n; n = u
                 val v = haL; haL = hbL; hbL = v } // keep m ≤ n; offsets share lo
    if (n - m > maxEdits) return -1
    if (m == 0) return n // n ≤ maxEdits by the guard above
    val k = maxEdits
    val inf = k + 1
    // One-row banded DP: dp(j) holds row i−1 within its band, INF
    // outside; every cell saturates at inf so the row-min bail is a
    // plain compare.
    val dp = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { dp(j) = if (j <= k) j else inf; j += 1 }
    i = 1
    while (i <= m) {
      val jLo = if (i - k > 1) i - k else 1
      val jHi = if (i + k < n) i + k else n
      var diag = if (jLo == 1) i - 1 else dp(jLo - 1) // dp[i−1][jLo−1]
      var left = if (jLo == 1) i else inf             // dp[i][jLo−1]
      var rowMin = inf
      val ca = a(lo + i - 1)
      j = jLo
      while (j <= jHi) {
        val up = if (j <= i - 1 + k) dp(j) else inf   // dp[i−1][j], band-guarded
        var v = diag + (if (ca == b(lo + j - 1)) 0 else 1)
        if (up + 1 < v) v = up + 1
        if (left + 1 < v) v = left + 1
        if (v > inf) v = inf
        diag = up
        dp(j) = v
        left = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return -1
      i += 1
    }
    if (dp(n) > k) -1 else dp(n)
  }

  /** Word-level Levenshtein distance (token-sequence edit distance) —
    * the unit of the corpus-WER aggregate (reference A8,
    * `post_process.py:322-329`). */
  def wordLevenshtein(a: Array[String], b: Array[String]): Int = {
    if (a == null || a.isEmpty) return if (b == null) 0 else b.length
    if (b == null || b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var curr = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      curr(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(b.length)
  }

  /** BLEU/ROUGE integer-component kernel (q231) over two raw text
    * columns — the codegen-side twin of the r16 UDF form, moved here
    * so [[graft.functions.BleuComponentsExpr]] can call it as a
    * static from generated code: no ScalaUDF converter machinery, no
    * Option/case-class encoder boundary, and the token counts come
    * out of the same pass (the UDF plan split each side twice more
    * for `size(split(...))`).
    *
    * Tokenization matches `split(s, " ", -1)` exactly (single-space
    * separator, leading/trailing/consecutive empties kept). Tokens
    * are interned once per row into ≤16-bit ids shared across both
    * sides and all n, so an n-gram is a packed Long and the clipped
    * multiset intersection is a two-pointer merge over sorted
    * primitive arrays — zero per-gram string allocation.
    *
    * Returns struct<c_len, r_len, (m_n, t_n, r_n) for n=1..4>, all
    * exact longs. Throws past 65,535 distinct tokens in one row (the
    * packed-key bound; far above any real document). */
  private def internTokens(s: String,
                           dict: java.util.HashMap[String, Integer]): Array[Long] = {
    val n = s.length
    var cnt = 1
    var i = 0
    while (i < n) { if (s.charAt(i) == ' ') cnt += 1; i += 1 }
    val a = new Array[Long](cnt)
    var k = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val tok = s.substring(start, i)
        var id = dict.get(tok)
        if (id == null) { id = Integer.valueOf(dict.size()); dict.put(tok, id) }
        a(k) = id.longValue(); k += 1
        start = i + 1
      }
      i += 1
    }
    a
  }

  def bleuComponents(candU: UTF8String, refU: UTF8String): InternalRow = {
    val dict = new java.util.HashMap[String, Integer]()
    val c = internTokens(candU.toString, dict)
    val r = internTokens(refU.toString, dict)
    if (dict.size() >= 65536)
      throw new IllegalArgumentException(
        "bleuComponents: more than 65535 distinct tokens in one row")
    val out = new Array[Any](14)
    out(0) = c.length.toLong
    out(1) = r.length.toLong
    var n = 1
    while (n <= 4) {
      val tc = math.max(0, c.length - n + 1)
      val tr = math.max(0, r.length - n + 1)
      var m = 0L
      if (tc > 0 && tr > 0) {
        val cg = new Array[Long](tc)
        val rg = new Array[Long](tr)
        var i = 0
        while (i < tc) {
          var key = 0L; var j = 0
          while (j < n) { key = (key << 16) | c(i + j); j += 1 }
          cg(i) = key; i += 1
        }
        i = 0
        while (i < tr) {
          var key = 0L; var j = 0
          while (j < n) { key = (key << 16) | r(i + j); j += 1 }
          rg(i) = key; i += 1
        }
        java.util.Arrays.sort(cg)
        java.util.Arrays.sort(rg)
        i = 0; var j = 0
        while (i < tc && j < tr) {
          if (cg(i) == rg(j)) { m += 1L; i += 1; j += 1 }
          else if (cg(i) < rg(j)) i += 1
          else j += 1
        }
      }
      out(2 + (n - 1) * 3) = m
      out(2 + (n - 1) * 3 + 1) = tc.toLong
      out(2 + (n - 1) * 3 + 2) = tr.toLong
      n += 1
    }
    new GenericInternalRow(out)
  }

  /** Self-truncation BLEU components (the q231 eval-harness shape):
    * candidate = the first max(1, ⌊len·num/den⌋) tokens of `text`,
    * reference = all of `text`. Because the candidate IS a token
    * prefix of the reference, the whole census needs ONE
    * tokenization and ONE gram pass — candidate grams are exactly
    * the first `c_len−n+1` reference grams in positional order, so
    * they are sliced from the unsorted gram array before sorting.
    * Output schema identical to [[bleuComponents]]; results are
    * bit-identical to building the prefix string with
    * `concat_ws(" ", slice(split(text," "),1,k))` and scoring the
    * pair (spec-pinned), without materializing it. */
  def bleuTruncComponents(text: UTF8String, num: Int, den: Int): InternalRow = {
    val dict = new java.util.HashMap[String, Integer]()
    val r = internTokens(text.toString, dict)
    if (dict.size() >= 65536)
      throw new IllegalArgumentException(
        "bleuTruncComponents: more than 65535 distinct tokens in one row")
    val rLen = r.length
    val cLen = math.max(1L, rLen.toLong * num / den).toInt
    val out = new Array[Any](14)
    out(0) = cLen.toLong
    out(1) = rLen.toLong
    var n = 1
    while (n <= 4) {
      val tc = math.max(0, cLen - n + 1)
      val tr = math.max(0, rLen - n + 1)
      var m = 0L
      if (tc > 0 && tr > 0) {
        val rg = new Array[Long](tr)
        var i = 0
        while (i < tr) {
          var key = 0L; var j = 0
          while (j < n) { key = (key << 16) | r(i + j); j += 1 }
          rg(i) = key; i += 1
        }
        // Candidate grams = positional prefix of the reference grams.
        val cg = java.util.Arrays.copyOfRange(rg, 0, tc)
        java.util.Arrays.sort(cg)
        java.util.Arrays.sort(rg)
        i = 0; var j = 0
        while (i < tc && j < tr) {
          if (cg(i) == rg(j)) { m += 1L; i += 1; j += 1 }
          else if (cg(i) < rg(j)) i += 1
          else j += 1
        }
      }
      out(2 + (n - 1) * 3) = m
      out(2 + (n - 1) * 3 + 1) = tc.toLong
      out(2 + (n - 1) * 3 + 2) = tr.toLong
      n += 1
    }
    new GenericInternalRow(out)
  }
}
