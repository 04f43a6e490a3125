package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the hash expressions ([[MinHashSig]]).
  *
  * Semantics are pinned to the engine-portable md5 scheme of
  * [[HashFunctions]]: a token's 28-bit hash is the first 7 hex chars
  * of md5 (= the top 28 bits of the digest), and permutation i is
  * `(permA(i)*h + permB(i)) mod (2^31-1)` — bit-identical to what
  * the previous column-composed form computed, so signatures are
  * reproducible in DuckDB (`('0x' || substr(md5(t),1,7))::BIGINT`).
  *
  * The point of the kernel: the md5 per token is computed ONCE and
  * all k permutation minima fold in a single pass. The former
  * `array(k × array_min(transform(...)))` column tree recomputed the
  * interpreted md5 up to k times per token (higher-order functions
  * get neither codegen nor CSE) — the dominant cost of the whole
  * bench at sf0.1.
  */
object HashOps {

  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Top 28 bits of md5(bytes) — equals parsing the first 7 hex chars. */
  def h28(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val dig = d.digest(bytes)
    ((dig(0) & 0xffL) << 20) | ((dig(1) & 0xffL) << 12) |
      ((dig(2) & 0xffL) << 4) | ((dig(3) & 0xffL) >>> 4)
  }

  /** Coefficient tables for up to `k` permutations (grown on demand,
    * cached; coefficients are those of [[HashFunctions.permA]]/`permB`). */
  @volatile private var coefA: Array[Long] = Array.empty
  @volatile private var coefB: Array[Long] = Array.empty

  private def coeffs(k: Int): (Array[Long], Array[Long]) = {
    if (coefA.length < k) synchronized {
      if (coefA.length < k) {
        coefA = Array.tabulate(k)(HashFunctions.permA)
        coefB = Array.tabulate(k)(HashFunctions.permB)
      }
    }
    (coefA, coefB)
  }

  /** MinHash signature: k minima over `(a_i*h28(tok) + b_i) mod p`,
    * one md5 per token. Duplicate tokens cannot change a minimum, so
    * the caller does not need to de-duplicate first. */
  def minhash(tokens: ArrayData, k: Int): ArrayData = {
    val (as, bs) = coeffs(k)
    val p = HashFunctions.MinHashPrime
    val out = Array.fill(k)(Long.MaxValue)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val h = h28(tokens.getUTF8String(t).getBytes)
      var i = 0
      while (i < k) {
        val v = (as(i) * h + bs(i)) % p
        if (v < out(i)) out(i) = v
        i += 1
      }
      t += 1
    }
    if (n == 0) null else new GenericArrayData(out)
  }

  /** Count-min bucket row for every depth in one pass: ONE md5 of the
    * term covers the first four rows (row d reads digest bytes
    * [4d, 4d+4) big-endian unsigned — bit-identical to DuckDB's
    * `('0x' || substr(md5(term), 1 + 8*d, 8))::BIGINT`), deeper rows
    * fall back to the salted 60-bit digest `h60("cms<d>:" || term)`
    * exactly as the former column-composed form did. The kernel
    * replaces a per-row md5→hex→4×substring→4×conv(16,10) string
    * pipeline that dominated the CMS build (measured ~2× the whole
    * sketch aggregate at sf0.1). */
  def cmsBuckets(term: UTF8String, depth: Int, width: Int): ArrayData = {
    val out = new Array[Long](depth)
    val md = md5Local.get()
    md.reset()
    val dig = md.digest(term.getBytes)
    var d = 0
    while (d < depth && d < 4) {
      val h = ((dig(4 * d) & 0xffL) << 24) | ((dig(4 * d + 1) & 0xffL) << 16) |
        ((dig(4 * d + 2) & 0xffL) << 8) | (dig(4 * d + 3) & 0xffL)
      out(d) = h % width
      d += 1
    }
    while (d < depth) {
      val salt = s"cms$d:".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bytes = term.getBytes
      val buf = new Array[Byte](salt.length + bytes.length)
      System.arraycopy(salt, 0, buf, 0, salt.length)
      System.arraycopy(bytes, 0, buf, salt.length, bytes.length)
      out(d) = h60(buf) % width
      d += 1
    }
    new GenericArrayData(out)
  }

  /** Top 60 bits of md5(bytes) — equals parsing the first 15 hex chars. */
  def h60(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val dig = d.digest(bytes)
    ((dig(0) & 0xffL) << 52) | ((dig(1) & 0xffL) << 44) | ((dig(2) & 0xffL) << 36) |
      ((dig(3) & 0xffL) << 28) | ((dig(4) & 0xffL) << 20) | ((dig(5) & 0xffL) << 12) |
      ((dig(6) & 0xffL) << 4) | ((dig(7) & 0xffL) >>> 4)
  }

  /** The i-th Bloom bit position of a key: `h60("i:" || key) mod
    * numBits` — one engine-portable md5 per probe, replayable in SQL
    * as `('0x' || substr(md5(i || ':' || key), 1, 15))::BIGINT %
    * numBits`, which is what lets a Bloom filter hash-GATE: the
    * oracle rebuilds the exact bit set and replays membership,
    * false positives included. */
  def bloomPos(keyBytes: Array[Byte], i: Int, numBits: Int): Long = {
    val prefix = (i.toString + ":").getBytes("UTF-8")
    val buf = new Array[Byte](prefix.length + keyBytes.length)
    System.arraycopy(prefix, 0, buf, 0, prefix.length)
    System.arraycopy(keyBytes, 0, buf, prefix.length, keyBytes.length)
    h60(buf) % numBits
  }

  /** All k Bloom positions of a key (fit side: explode + bit_or). */
  def bloomPositions(s: org.apache.spark.unsafe.types.UTF8String,
                     k: Int, numBits: Int): ArrayData = {
    val kb = s.getBytes
    val out = new Array[Any](k)
    var i = 0
    while (i < k) { out(i) = java.lang.Long.valueOf(bloomPos(kb, i, numBits)); i += 1 }
    new GenericArrayData(out)
  }

  /** Probe a key against a fitted bitset: `(n_hit, maybe)` — the
    * count of the k positions that are set, and whether all are
    * (Bloom "maybe contains"; n_hit < k is a definite miss). */
  def bloomHits(s: org.apache.spark.unsafe.types.UTF8String, k: Int, numBits: Int,
                words: Array[Long]): org.apache.spark.sql.catalyst.InternalRow = {
    val kb = s.getBytes
    var hit = 0L
    var i = 0
    while (i < k) {
      val p = bloomPos(kb, i, numBits)
      if ((words((p >>> 6).toInt) & (1L << (p & 63L).toInt)) != 0L) hit += 1L
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](hit, hit == k.toLong))
  }

  /** Minimum 60-bit hash over word n-gram shingles, one md5 per
    * shingle in a single pass (shingle bytes are assembled directly,
    * no intermediate strings). Null when fewer than n tokens —
    * matching `array_min(empty)`. Boxed so the expression layer can
    * pass null through. */
  def minShingleHash(tokens: ArrayData, n: Int): java.lang.Long = {
    val cnt = tokens.numElements()
    if (cnt < n) return null
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    var minH = Long.MaxValue
    val buf = new java.io.ByteArrayOutputStream(64)
    i = 0
    while (i <= cnt - n) {
      buf.reset()
      var j = 0
      while (j < n) {
        if (j > 0) buf.write(' ')
        buf.write(toks(i + j))
        j += 1
      }
      val h = h60(buf.toByteArray)
      if (h < minH) minH = h
      i += 1
    }
    java.lang.Long.valueOf(minH)
  }

  /** Count of the most frequent word n-gram in a token array,
    * n-grams identified by their 60-bit md5 class — the exact slice
    * the SQL oracles replay (`('0x'||substr(md5(gram),1,15))::BIGINT`),
    * so both engines count identical equivalence classes. One md5
    * per shingle, a primitive long sort, one linear run scan — the
    * codegen'd replacement for a per-row HOF sort+fold, whose
    * interpreted per-element struct churn dominated q59's scan.
    * 0 when fewer than n tokens. */
  def topShingleRun(tokens: ArrayData, n: Int): Long = {
    val cnt = tokens.numElements()
    if (cnt < n) return 0L
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    val hs = new Array[Long](cnt - n + 1)
    val buf = new java.io.ByteArrayOutputStream(64)
    i = 0
    while (i <= cnt - n) {
      buf.reset()
      var j = 0
      while (j < n) {
        if (j > 0) buf.write(' ')
        buf.write(toks(i + j))
        j += 1
      }
      hs(i) = h60(buf.toByteArray)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var best = 1L
    var run = 1L
    i = 1
    while (i < hs.length) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1L
      i += 1
    }
    best
  }

  /** Bounded per-thread memo for [[h60]] over short byte keys
    * (tokens): a 2^16-slot direct-mapped cache — natural-language
    * vocabularies repeat the same tokens millions of times across a
    * corpus, so an md5 per token INSTANCE wastes most of its work.
    * Deterministic by construction (a hit returns exactly what the
    * miss would compute); keys are defensively copied on insert
    * because UTF8String.getBytes may expose a scanner-reused buffer.
    * ~64k slots × (key + 8 B) per thread bounds the footprint. */
  private val h60MemoKeys = new ThreadLocal[Array[Array[Byte]]] {
    override def initialValue(): Array[Array[Byte]] = new Array[Array[Byte]](1 << 16)
  }
  private val h60MemoVals = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](1 << 16)
  }
  def h60Memo(bytes: Array[Byte]): Long = {
    if (bytes.length > 48) return h60(bytes) // long keys: compare ≈ md5 cost
    val keys = h60MemoKeys.get()
    var hc = 1
    var i = 0
    while (i < bytes.length) { hc = hc * 31 + bytes(i); i += 1 }
    val slot = hc & 0xffff
    val k = keys(slot)
    if (k != null && java.util.Arrays.equals(k, bytes)) h60MemoVals.get()(slot)
    else {
      val v = h60(bytes)
      keys(slot) = java.util.Arrays.copyOf(bytes, bytes.length)
      h60MemoVals.get()(slot) = v
      v
    }
  }

  /** SimHash60 straight from a token array: one md5 per token (vs
    * the interpreted per-token HOF md5 the column form paid), then
    * the same sign-of-sum per bit as [[StringOps.simhash60]].
    * Duplicate tokens must be removed by the caller (they would bias
    * the bit sums — semantics are distinct-set SimHash). */
  def simhash60Tokens(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val h = h60Memo(tokens.getUTF8String(t).getBytes)
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Word n-gram shingles as compact 15-hex md5 tokens, one pass and
    * one md5 per shingle. Used to re-express shingle-set similarity
    * as token-set similarity: the 15-char hex token is engine-
    * portable (`substr(md5(shingle),1,15)` in any SQL engine) and
    * ~2× smaller than the raw 3-word shingle, and the kernel avoids
    * rebuilding interpreted HOF string chains on every DAG branch
    * that references the projection. */
  def shingleHexTokens(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Any](cnt - n + 1)
    val buf = new java.io.ByteArrayOutputStream(64)
    val d = md5Local.get()
    i = 0
    while (i <= cnt - n) {
      buf.reset()
      var j = 0
      while (j < n) {
        if (j > 0) buf.write(' ')
        buf.write(toks(i + j))
        j += 1
      }
      d.reset()
      val dig = d.digest(buf.toByteArray)
      val hex = new Array[Byte](15)
      var k = 0
      while (k < 15) {
        val b = dig(k / 2) & 0xff
        hex(k) = HexDigits(if (k % 2 == 0) b >>> 4 else b & 0xf).toByte
        k += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hashed-n-gram BUCKET ids in one kernel call: h60 of each
    * n-token shingle mod `buckets` — bit-identical to
    * `conv(shingleHexTokens(...), 16, 10) % buckets` (the 15-hex
    * parse IS the top-60-bit value, nonnegative so `%` ≡ `pmod`)
    * but without materializing hex strings or running the
    * interpreted conv/pmod chain per gram (the r12 md5-hex-pipeline
    * lesson: one MessageDigest + integer arithmetic beats the
    * hex-string detour ~4×). */
  def shingleBucketTokens(tokens: ArrayData, n: Int, buckets: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Any](cnt - n + 1)
    val buf = new java.io.ByteArrayOutputStream(64)
    val d = md5Local.get()
    i = 0
    while (i <= cnt - n) {
      buf.reset()
      var j = 0
      while (j < n) {
        if (j > 0) buf.write(' ')
        buf.write(toks(i + j))
        j += 1
      }
      d.reset()
      val dig = d.digest(buf.toByteArray)
      val h = ((dig(0) & 0xffL) << 52) | ((dig(1) & 0xffL) << 44) |
        ((dig(2) & 0xffL) << 36) | ((dig(3) & 0xffL) << 28) |
        ((dig(4) & 0xffL) << 20) | ((dig(5) & 0xffL) << 12) |
        ((dig(6) & 0xffL) << 4) | ((dig(7) & 0xffL) >>> 4)
      out(i) = java.lang.Long.valueOf(h % buckets)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of DISTINCT word n-gram shingles of `tokens` whose 15-hex
    * md5 form is in `evalSet` — [[shingleHexTokens]]' hashing loop
    * inlined against the membership probe, so contamination scoring
    * is one pass with no shingle ArrayData materialized (each hex is
    * a transient String handed straight to the probe). The per-doc
    * dedup set only holds MATCHED hexes (bounded by hits, not doc
    * length). */
  def evalShingleHits(tokens: ArrayData, n: Int,
                      evalSet: java.util.HashSet[String]): Long = {
    val cnt = tokens.numElements()
    if (cnt < n) return 0L
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    val matched = new java.util.HashSet[String]()
    val buf = new java.io.ByteArrayOutputStream(64)
    val d = md5Local.get()
    val hex = new Array[Char](15)
    i = 0
    while (i <= cnt - n) {
      buf.reset()
      var j = 0
      while (j < n) {
        if (j > 0) buf.write(' ')
        buf.write(toks(i + j))
        j += 1
      }
      d.reset()
      val dig = d.digest(buf.toByteArray)
      var k = 0
      while (k < 15) {
        val b = dig(k / 2) & 0xff
        hex(k) = HexDigits(if (k % 2 == 0) b >>> 4 else b & 0xf)
        k += 1
      }
      val s = new String(hex)
      if (evalSet.contains(s)) matched.add(s)
      i += 1
    }
    matched.size.toLong
  }

  /** Intersection size of two individually-sorted string arrays via a
    * single merge scan — O(|a|+|b|) with zero allocation, vs the
    * hash-set build of `array_intersect` per pair. Inputs must be
    * sorted by Spark's binary UTF8String order (`array_sort`). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Sign matrix for random-hyperplane LSH: signs(plane)(j) = +1 when
    * bit (j mod 60) of h60("plane:&lt;plane&gt;:&lt;j&gt;") is set else -1 —
    * identical to the column-level [[VectorFunctions.hyperplaneBit]]
    * derivation, precomputed once per (planes, dim). */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def signs(totalPlanes: Int, dim: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((totalPlanes, dim), { _ =>
      Array.tabulate(totalPlanes) { plane =>
        Array.tabulate(dim) { j =>
          val h = h60(s"plane:$plane:$j".getBytes("UTF-8"))
          if (((h >>> (j % 60)) & 1L) == 1L) 1.0 else -1.0
        }
      }
    })

  /** All nTables LSH bucket keys of a vector in one pass; key t is
    * `(t << 32) | bucket_t` where bucket_t packs the nPlanes sign
    * bits of table t's plane family. One kernel call replaces a
    * nTables × nPlanes × dim `element_at` expression tree (6k+ nodes
    * at 16×6×64 — big enough to break codegen and broadcast). */
  def hyperplaneBuckets(vec: ArrayData, dim: Int, nPlanes: Int, nTables: Int): ArrayData = {
    val sg = signs(nTables * nPlanes, dim)
    val v = new Array[Double](dim)
    var j = 0
    while (j < dim) { v(j) = vec.getDouble(j); j += 1 }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val row = sg(t * nPlanes + p)
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v(i) * row(i); i += 1 }
        if (acc > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = (t.toLong << 32) | bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Dot product of two double arrays, left-to-right accumulation —
    * bit-identical to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` but
    * a tight primitive loop instead of interpreted HOF trees. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** PQ encode kernel: per subspace j, the 1-based argmin code over
    * `ksub` centroids by d = |sub|^2 - 2*sub.c + |c|^2, every dot
    * summed left-to-right and ties keeping the LOWEST code — the
    * exact arithmetic and (d, cid) tie rule of the expression-tree
    * spelling it replaces (and of the oracle's `ORDER BY dist, cid`
    * replay). `cb` is the flat codebook: cb[((j*ksub)+c)*dsub + t],
    * with `cnorms` the precomputed |c|^2 per (j, c) — both ride into
    * generated code as one reference object each, so the projection
    * is a tight loop instead of a 100-node literal tree per row. */
  def pqEncode(v: ArrayData, m: Int, dsub: Int, ksub: Int,
               cb: Array[Double], cnorms: Array[Double]): ArrayData = {
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      var svv = 0.0d
      var t = 0
      while (t < dsub) { val x = v.getDouble(base + t); svv += x * x; t += 1 }
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < ksub) {
        val off = (j * ksub + c) * dsub
        var sc = 0.0d
        var t2 = 0
        while (t2 < dsub) { sc += v.getDouble(base + t2) * cb(off + t2); t2 += 1 }
        val d = svv - 2.0d * sc + cnorms(j * ksub + c)
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      codes(j) = bestC + 1
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** 15-hex md5 form of a UTF-8 byte payload — the one hash spelling
    * every cross-engine gate here shares (`substr(md5(x),1,15)`). */
  private def hex15(payload: Array[Byte]): Array[Byte] = {
    val d = md5Local.get()
    d.reset()
    val dig = d.digest(payload)
    val hex = new Array[Byte](15)
    var k = 0
    while (k < 15) {
      val b = dig(k / 2) & 0xff
      hex(k) = HexDigits(if (k % 2 == 0) b >>> 4 else b & 0xf).toByte
      k += 1
    }
    hex
  }

  /** Content-defined chunking (FastCDC/rsync family, token
    * granularity): cut AFTER token `i+k-1` whenever the k-gram
    * starting at `i` hashes to `0 mod divisor` (the same 15-hex md5
    * spelling as [[shingleHexTokens]], parsed as a 60-bit long), so
    * chunk boundaries depend only on LOCAL content — an insertion
    * early in a document shifts at most one chunk's boundary instead
    * of re-aligning every fixed-width window, which is what makes
    * chunk-level dedup storage work. Returns
    * (chunk_idx, n_tokens, chunk_text, chunk_hash) rows; documents
    * shorter than `k` tokens are a single chunk. A qualifying k-gram
    * ending exactly at the last token produces no empty trailing
    * chunk. */
  def cdcChunks(tokens: ArrayData, k: Int, divisor: Int): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val cnt = tokens.numElements()
    if (cnt == 0) return Nil
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
    // chunk start positions (0-based), always beginning at 0
    val starts = scala.collection.mutable.ArrayBuffer(0)
    if (cnt >= k) {
      val buf = new java.io.ByteArrayOutputStream(64)
      i = 0
      while (i <= cnt - k) {
        buf.reset()
        var j = 0
        while (j < k) {
          if (j > 0) buf.write(' ')
          buf.write(toks(i + j))
          j += 1
        }
        val h = java.lang.Long.parseLong(new String(hex15(buf.toByteArray), "US-ASCII"), 16)
        val cut = i + k
        if (h % divisor == 0 && cut < cnt) starts += cut
        i += 1
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](starts.length)
    var m = 0
    while (m < starts.length) {
      val s = starts(m)
      val e = if (m + 1 < starts.length) starts(m + 1) else cnt
      val buf = new java.io.ByteArrayOutputStream(64)
      var j = s
      while (j < e) {
        if (j > s) buf.write(' ')
        buf.write(toks(j))
        j += 1
      }
      val text = buf.toByteArray
      out += InternalRow(m, (e - s).toLong,
        UTF8String.fromBytes(text), UTF8String.fromBytes(hex15(text)))
      m += 1
    }
    out.toSeq
  }

  /** Fixed-point log2 in 1/16-bit steps of a positive long — the JVM
    * twin of `Curation.flog2qSql` (same shift spelling, same ~0.15
    * bit truncation), so model-scored streams and census-joined
    * batches agree bit-for-bit. */
  def flog2q(x: Long): Long = {
    val bl = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val mant = if (bl >= 5) x >> (bl - 5) else (x * 16L) >> (bl - 1)
    mant + 16L * bl - 32L
  }

  /** DSIR importance score of one document under collected bucket
    * censuses — the scoring half of `Curation.dsirImportance` as a
    * single-pass JVM kernel over the raw token array: per n-gram,
    * the md5 bucket (identical bytes-and-separator scheme to
    * [[shingleHexTokens]], so batch and model paths land in the SAME
    * buckets) indexes two dense count arrays, and the four
    * [[flog2q]] terms accumulate in exact longs. Returns
    * `(n_ngrams, score_q)`. */
  def dsirScore(tokens: ArrayData, n: Int, buckets: Int,
                ct: Array[Long], cr: Array[Long],
                tr: Long, tt: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val cnt = tokens.numElements()
    val constTerm = flog2q(tr + 1L) - flog2q(tt + 1L)
    var count = 0L
    var score = 0L
    if (cnt >= n) {
      val toks = new Array[Array[Byte]](cnt)
      var i = 0
      while (i < cnt) { toks(i) = tokens.getUTF8String(i).getBytes; i += 1 }
      val buf = new java.io.ByteArrayOutputStream(64)
      i = 0
      while (i <= cnt - n) {
        buf.reset()
        var j = 0
        while (j < n) {
          if (j > 0) buf.write(' ')
          buf.write(toks(i + j))
          j += 1
        }
        val b = (h60(buf.toByteArray) % buckets).toInt
        score += flog2q(ct(b) + 1L) - flog2q(cr(b) + 1L) + constTerm
        count += 1L
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](count, score))
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * scheme), per document: over the sequence of `k`-token-gram
    * hashes (h60 of the space-joined gram — engine-portable md5),
    * every window of `w` consecutive gram positions selects its
    * minimum hash with RIGHTMOST tie-break, and the fingerprint set
    * is the union of selections (consecutive windows usually re-
    * select the same position, so density ≈ 2/(w+1)). The guarantee
    * that makes it a dedup/plagiarism fingerprint: any shared token
    * run of ≥ w+k−1 tokens produces at least one IDENTICAL
    * (hash, aligned-position) fingerprint in both documents.
    * Returns array<struct<pos, hash>> with 1-based gram positions,
    * ascending; documents with fewer than w grams fingerprint to
    * empty (no full window). Single forward pass with a monotonic
    * deque — O(n) per document, embarrassingly parallel, no explode
    * until the (already ~2/(w+1)-sparse) output. Positions are
    * bounded at 2^20−1 grams/doc (guarded loud) so the oracle can
    * pack its (hash, −pos) argmin key into one HUGEINT. */
  def winnowFingerprints(toks: ArrayData, k: Int, w: Int): ArrayData = {
    val nTok = toks.numElements()
    val n = nTok - k + 1
    if (n < w) return new GenericArrayData(Array.empty[Any])
    if (n > 1048575)
      throw new IllegalArgumentException(
        "winnowFingerprints: more than 2^20-1 grams in one document — chunk upstream")
    val hs = new Array[Long](n)
    val buf = new java.io.ByteArrayOutputStream(64)
    var i = 0
    while (i < n) {
      buf.reset()
      var j = 0
      while (j < k) {
        if (j > 0) buf.write(' ')
        val u = toks.getUTF8String(i + j)
        if (u != null) buf.write(u.getBytes)
        j += 1
      }
      hs(i) = h60(buf.toByteArray)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val deque = new java.util.ArrayDeque[Int]()
    var last = -1
    i = 0
    while (i < n) {
      // >= pop: an equal hash later in the window takes the front —
      // the rightmost tie-break the oracle's (hash, -pos) key encodes.
      while (!deque.isEmpty && hs(deque.peekLast()) >= hs(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) {
        val sel = deque.peekFirst()
        if (sel != last) {
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any]((sel + 1).toLong, hs(sel)))
          last = sel
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Longest repeated token n-gram, per document — `[lrg_len,
    * n_repeated]` where `lrg_len` is the largest L ≤ maxL such that
    * some L-token window occurs at least twice in `toks`, and
    * `n_repeated` is the number of DISTINCT repeated L-grams at that
    * length (both 0 when all tokens are distinct). Grams are keyed
    * by the window's tokens joined with U+0001 — the operator's
    * documented key contract, shared verbatim by the SQL oracle.
    *
    * Binary search over L: "some L-gram repeats" is monotone
    * decreasing in L (two equal L-windows contain two equal (L−1)-
    * windows at the same offsets), so ⌈log₂ maxL⌉ + 1 single-pass
    * hash probes of O(n·L) chars each decide the maximum — O(n·maxL
    * ·log maxL) worst case per document instead of the naive
    * O(n·maxL²) all-L census, and embarrassingly parallel across
    * documents (a per-row kernel; the corpus never shuffles). */
  def longestRepeatedGram(toks: ArrayData, maxL: Int): ArrayData = {
    val n = toks.numElements()
    def tok(i: Int): String = {
      val u = toks.getUTF8String(i)
      if (u == null) "" else u.toString
    }
    // counts repeated grams at length L; returns -1 the moment a
    // repeat exists when `firstOnly` (the binary-search probe needs
    // only existence), else the full distinct-repeated count.
    def probe(l: Int, firstOnly: Boolean): Long = {
      val seen = new java.util.HashMap[String, Integer]()
      var repeated = 0L
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= n - l) {
        sb.setLength(0)
        var j = 0
        while (j < l) {
          if (j > 0) sb.append('\u0001')
          sb.append(tok(i + j))
          j += 1
        }
        val key = sb.toString
        val prev = seen.put(key, Integer.valueOf(1))
        if (prev != null) {
          if (firstOnly) return -1L
          if (prev.intValue() == 1) repeated += 1L
          seen.put(key, Integer.valueOf(prev.intValue() + 1))
        }
        i += 1
      }
      repeated
    }
    var lo = 1
    var hi = math.min(maxL, n - 1)
    var best = 0
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (probe(mid, firstOnly = true) == -1L) { best = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    val nRep = if (best > 0) probe(best, firstOnly = false) else 0L
    new GenericArrayData(Array[Long](best.toLong, nRep))
  }
}
