package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GraftFunctions, HashFunctions}
import graft.operators.Multimodal

/** Asset/path-shaped operators from SURVEY §2 that had no gate yet:
  * ordered concat aggregation with natural-order sort (A12+W1+F15),
  * deterministic per-group sampling (P2/W5), the filename/url scalar
  * family (P10/P12/F16/F19/F20), and the widen/projection pair
  * (U2+P4+P5). */
object AssetQueries {

  val qs: Seq[Q] = Seq(

    // ---- q38: ordered parts assembly (A12 + W1 + F15,
    // process_all.py:409-438,566-617): per order, part filenames are
    // sorted by the trailing sequence number extracted from the name
    // (NOT lexicographically — part_10 must follow part_9) and
    // concatenated in that order. Shape (r15, measured at sf0.1):
    // ONE range exchange + partition-local sort + a streaming
    // mapPartitions group-assemble. The previous hash-aggregate
    // (collect_list(struct) → array_sort → transform → array_join →
    // orderBy) paid a second exchange for the global order plus
    // per-group array materialization and measured 1.17-1.27 s min
    // isolated (2.26x DuckDB, the registry's only >2x row); this
    // plan rides the ONE shuffle every grouping needs, the sort
    // doubles as both group clustering and the global output order
    // (RangePartitioning(l_orderkey) + in-partition (key, seq) sort
    // ⇒ output is globally ordered by construction — no second
    // exchange), and groups assemble in a single forward pass with a
    // StringBuilder, never an array. Measured 0.83-0.90 s min — 1.5x
    // DuckDB's 0.56 s. mapPartitions is justified here per the
    // SURVEY preference order: the composition-of-builtins plan was
    // measured slower (`cur`/`stragg`/`rangeagg` variants),
    // and the F10 sentence-grouping precedent applies (ordered
    // stateful scan). At 1000 executors this is the same shape as a
    // sort-merge aggregation: one wide exchange of narrow rows, then
    // linear per-partition work with O(1) state per group.
    Q("q38_ordered_concat", Some("""
      WITH f AS (
        SELECT l_orderkey,
               'part_' || l_linenumber || '.mp3' AS fname,
               l_linenumber AS seq
        FROM lineitem)
      SELECT l_orderkey,
             COUNT(*) AS n_parts,
             string_agg(fname, ',' ORDER BY seq) AS assembled
      FROM f
      GROUP BY l_orderkey
      ORDER BY l_orderkey""")) { (s, d) =>
      val fname = concat(lit("part_"), col("l_linenumber"), lit(".mp3"))
      // F15: the sequence is *extracted from the filename* (the
      // digits between the last underscore and the extension), not
      // read from a column. substring_index is a plain codegen'd
      // string scan, cheaper than the equivalent regexp_extract.
      val seq = coalesce(
        substring_index(substring_index(col("fname"), ".", 1), "_", -1)
          .cast("int"), lit(0))
      val rows = Tables.lineitem(s, d)
        .select(col("l_orderkey"), fname.as("fname"))
        .withColumn("seq", seq)
      graft.operators.OrderedConcat.assemble(rows)
    },

    // ---- q39: per-group sampling with floor (W5,
    // post_process.py:231-242): take int(n*pct) per group, min 1 —
    // "randomness" is a deterministic md5 ordering so the oracle
    // reproduces the exact sample (the reference's random.sample is
    // seeded operationally; a hash order is the engine-portable
    // equivalent and what you'd use for reproducible pipelines).
    Q("q39_group_sample", Some("""
      WITH r AS (
        SELECT c_nationkey, c_custkey,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn,
               COUNT(*) OVER (PARTITION BY c_nationkey) AS n
        FROM customer)
      SELECT c_nationkey, c_custkey, CAST(rn AS BIGINT) AS rn
      FROM r
      WHERE rn <= GREATEST(1, CAST(FLOOR(n * 0.05) AS INTEGER))
      ORDER BY c_nationkey, rn""")) { (s, d) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
      val cw = Window.partitionBy(col("c_nationkey"))
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(cw))
        .filter(col("rn") <= greatest(lit(1), (col("n") * 0.05).cast("int")))
        .select("c_nationkey", "c_custkey", "rn")
        .orderBy("c_nationkey", "rn")
    },

    // ---- q40: the filename/url scalar family — P10 format
    // predicate, P12 mp3 check, F16 stem/idx parse, F19 url→name,
    // F20 deterministic hex id (secrets.token_hex replaced by a
    // natural-key digest for reproducibility, SURVEY §2.7).
    Q("q40_path_ops", Some("""
      WITH f AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 5 = 0 THEN 'stray-file'
                    ELSE 'book' || p_partkey % 50 || '_' || p_partkey END
                 || CASE WHEN p_partkey % 4 = 0 THEN '.wav' ELSE '.mp3' END AS fname,
               'https://cdn.example/' || p_partkey || '/download' AS url
        FROM part)
      SELECT p_partkey, fname,
             regexp_matches(regexp_replace(fname, '\.[^.]+$', ''), '_[0-9]+$') AS valid_format,
             fname LIKE '%.mp3' AS is_mp3,
             CASE WHEN regexp_matches(regexp_replace(fname, '\.[^.]+$', ''), '_[0-9]+$')
                  THEN regexp_extract(regexp_replace(fname, '\.[^.]+$', ''), '^(.*)_([0-9]+)$', 1)
                  ELSE NULL END AS book_id,
             CASE WHEN regexp_matches(regexp_replace(fname, '\.[^.]+$', ''), '_[0-9]+$')
                  THEN CAST(regexp_extract(regexp_replace(fname, '\.[^.]+$', ''), '^(.*)_([0-9]+)$', 2) AS BIGINT)
                  ELSE NULL END AS idx,
             string_split(url, '/')[-1] AS url_name,
             substr(md5(fname), 1, 8) AS stable_id
      FROM f
      ORDER BY p_partkey""")) { (s, d) =>
      val fname = concat(
        when(col("p_partkey") % 5 === 0, lit("stray-file"))
          .otherwise(concat(lit("book"), col("p_partkey") % 50, lit("_"), col("p_partkey"))),
        when(col("p_partkey") % 4 === 0, lit(".wav")).otherwise(lit(".mp3")))
      val url = concat(lit("https://cdn.example/"), col("p_partkey"), lit("/download"))
      val stem = regexp_replace(col("fname"), "\\.[^.]+$", "")
      Tables.part(s, d)
        .select(col("p_partkey"), fname.as("fname"), url.as("url"))
        .withColumn("valid_format", stem.rlike("_[0-9]+$"))
        .withColumn("is_mp3", col("fname").endsWith(".mp3"))
        .withColumn("book_id",
          when(col("valid_format"), regexp_extract(stem, "^(.*)_([0-9]+)$", 1)))
        .withColumn("idx",
          when(col("valid_format"), regexp_extract(stem, "^(.*)_([0-9]+)$", 2).cast("long")))
        .withColumn("url_name", element_at(split(col("url"), "/"), -1))
        .withColumn("stable_id", substring(md5(col("fname")), 1, 8))
        .drop("url")
        .orderBy("p_partkey")
    },

    // ---- q41: horizontal widen + null-column add + non-null
    // projection (U2 + P4 + P5, crawler/metadata.py:227-239,344-347):
    // pure projection — no shuffle beyond the presentation sort.
    Q("q41_widen_project", Some("""
      SELECT c_custkey, c_name, c_acctbal,
             CAST(NULL AS VARCHAR) AS sample_rate,
             CAST(NULL AS VARCHAR) AS quality,
             c_acctbal > 0 AS has_balance
      FROM customer
      WHERE c_mktsegment IS NOT NULL
      ORDER BY c_custkey""")) { (s, d) =>
      Tables.customer(s, d)
        .filter(col("c_mktsegment").isNotNull)
        .select(
          col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit(null).cast("string").as("sample_rate"),
          lit(null).cast("string").as("quality"),
          (col("c_acctbal") > 0).as("has_balance"))
        .orderBy("c_custkey")
    },

    // ---- q44: CSS select over an HTML column (S7,
    // crawler/utils.py:395-416 `a.ai-track-btn`): per-document HTML
    // is synthesized with two real track anchors plus a decoy, and
    // the [[graft.functions.CssSelect]] Generator must pick exactly
    // the `div.playlist a.ai-track-btn` elements in document order.
    // The oracle rebuilds the expected rows arithmetically — any
    // parser/selector slip (decoy leak, order flip, attr mangling)
    // flips the hash.
    Q("q44_css_select", Some("""
      SELECT doc_id,
             CAST(g.i AS INTEGER) AS pos,
             'https://cdn.example.com/' || doc_id || '/0' || (g.i + 1) || '.mp3' AS href,
             'Track ' || (g.i + 1) AS track
      FROM documents CROSS JOIN generate_series(0, 1) g(i)
      ORDER BY doc_id, pos""")) { (s, d) =>
      val html = concat(
        lit("""<html><body><div class="playlist">"""),
        lit("""<a class="ai-track-btn" href="https://cdn.example.com/"""),
        col("doc_id"), lit("""/01.mp3">Track 1</a>"""),
        lit("""<a class="ai-track-btn" href="https://cdn.example.com/"""),
        col("doc_id"), lit("""/02.mp3">Track 2</a>"""),
        lit("""<a class="track" href="https://cdn.example.com/"""),
        col("doc_id"), lit("""/bonus.mp3">Bonus</a>"""),
        lit("""</div><div class="poster"><a href="/x">decoy</a></div></body></html>"""))
      Tables.documents(s, d)
        .select(col("doc_id"), html.as("html"))
        .select(col("doc_id"),
          GraftFunctions.css_select(col("html"), "div.playlist a.ai-track-btn"))
        .select(col("doc_id"), col("pos"),
          element_at(col("attrs"), "href").as("href"), col("text").as("track"))
        .orderBy("doc_id", "pos")
    },

    // ---- q45: multimodal metadata over a binary column
    // (SURVEY north-star; graft.operators.Multimodal): a valid PNG
    // signature + IHDR chunk is synthesized per document (unhex of
    // width/height big-endian hex — binary stays binary end to end),
    // every 10th row gets garbage bytes, and the REAL header parser
    // must recover (width, height, bit_depth, color_type) or null.
    // The oracle rebuilds the fields arithmetically, so any slip in
    // the byte layout, the big-endian reads, or the non-PNG null
    // path flips the hash.
    Q("q45_png_metadata", Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE CAST(doc_id % 240 + 16 AS INTEGER) END AS width,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE CAST(doc_id % 120 + 16 AS INTEGER) END AS height,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE CAST(8 AS INTEGER) END AS bit_depth,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 6 END AS INTEGER) END AS color_type
      FROM documents
      ORDER BY doc_id""")) { (s, d) =>
      val w = (col("doc_id") % 240 + 16).cast("int")
      val h = (col("doc_id") % 120 + 16).cast("int")
      val pngHex = concat(
        lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        lpad(hex(w), 8, "0"),
        lpad(hex(h), 8, "0"),
        lit("08"),
        when(col("doc_id") % 2 === 0, lit("02")).otherwise(lit("06")),
        lit("000000" + "DEADBEEF"))
      val bytes = unhex(when(col("doc_id") % 10 === 0, lit("DEADBEEF")).otherwise(pngHex))
      Tables.documents(s, d)
        .select(col("doc_id"), graft.operators.Multimodal.imageInfo(bytes).as("info"))
        .select(col("doc_id"),
          col("info").getField("width").as("width"),
          col("info").getField("height").as("height"),
          col("info").getField("bitDepth").as("bit_depth"),
          col("info").getField("colorType").as("color_type"))
        .orderBy("doc_id")
    },

    // ---- q232: mixed-format image sniffing (r16) — the lake-scan
    // reality q45 idealizes: ONE binary column carrying four formats
    // (PNG/JPEG/GIF/BMP by doc_id % 4, garbage every 10th), parsed
    // by the magic-dispatching [[Multimodal.sniffImageInfo]]. Each
    // format's bytes are synthesized from width/height arithmetic in
    // hex (big-endian for PNG/JPEG, little-endian for GIF/BMP — the
    // endianness swap IS part of what the gate proves, as are JPEG's
    // APP0-segment skip and the SOF walk), so the oracle rebuilds
    // every field arithmetically and any slip in magic dispatch,
    // marker walk, or byte order flips the hash.
    Q("q232_image_sniff", Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE ['png', 'jpeg', 'gif', 'bmp'][CAST(doc_id % 4 AS INTEGER) + 1]
             END AS format,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE CAST(doc_id % 240 + 16 AS INTEGER) END AS width,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE CAST(doc_id % 120 + 16 AS INTEGER) END AS height,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE CAST(CASE doc_id % 4 WHEN 3 THEN 24 ELSE 8 END AS INTEGER)
             END AS bit_depth
      FROM documents
      ORDER BY doc_id""")) { (s, d) =>
      val w = (col("doc_id") % 240 + 16).cast("int")
      val h = (col("doc_id") % 120 + 16).cast("int")
      def le16hex(c: org.apache.spark.sql.Column) = {
        val be = lpad(hex(c), 4, "0")
        concat(substring(be, 3, 2), substring(be, 1, 2))
      }
      def le32hex(c: org.apache.spark.sql.Column) = {
        val be = lpad(hex(c), 8, "0")
        concat(substring(be, 7, 2), substring(be, 5, 2),
          substring(be, 3, 2), substring(be, 1, 2))
      }
      val pngHex = concat(
        lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
        lit("0802000000" + "DEADBEEF"))
      // SOI, a 16-byte APP0 the walk must skip, then SOF0
      // (len 17 = 8 + 3 components x 3 bytes).
      val jpegHex = concat(
        lit("FFD8" + "FFE000104A46494600010100000100010000" + "FFC00011" + "08"),
        lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
        lit("03" + "011100" + "021101" + "031101"))
      // GIF89a + LE16 dims + packed flags 0xF7 (color resolution 8).
      val gifHex = concat(lit("474946383961"), le16hex(w), le16hex(h), lit("F70000"))
      // BM + size/reserved/offset + BITMAPINFOHEADER(40) + LE32 dims
      // + 1 plane + 24 bpp.
      val bmpHex = concat(
        lit("424D" + "00000000" + "00000000" + "36000000" + "28000000"),
        le32hex(w), le32hex(h), lit("0100" + "1800"))
      val hexBytes = when(col("doc_id") % 10 === 0, lit("DEADBEEF"))
        .when(col("doc_id") % 4 === 0, pngHex)
        .when(col("doc_id") % 4 === 1, jpegHex)
        .when(col("doc_id") % 4 === 2, gifHex)
        .otherwise(bmpHex)
      Tables.documents(s, d)
        .select(col("doc_id"),
          Multimodal.imageInfoSniffed(unhex(hexBytes)).as("info"))
        .select(col("doc_id"),
          col("info").getField("format").as("format"),
          col("info").getField("width").as("width"),
          col("info").getField("height").as("height"),
          col("info").getField("bitDepth").as("bit_depth"))
        .orderBy("doc_id")
    },

    // ---- q95: perceptual image near-dup (dHash + hamming banding,
    // [[Multimodal.imageNearDupPairs]] over [[Dedup
    // .hammingNearDupPairs]]): REAL gray-8 PNGs are synthesized per
    // document through the library's own encoder so that each
    // 5-document cluster shares a base 9×8 gradient image (60-bit
    // md5 pattern; a 9×8 image IS its dHash grid, so dhash ==
    // pattern analytically) and members 1-4 flip one distinct
    // pattern bit each; every 10th document is garbage bytes
    // (undecodable → excluded, the quarantine path). At radius 2 the
    // qualifying pairs are exactly the within-cluster ones — base
    // pairs at hamming 1, member-member at 2; cross-cluster patterns
    // are independent md5 draws (min pairwise hamming >> 2) — so the
    // oracle predicts the full pair set arithmetically and any slip
    // in encode, decode, luma, downsample, banding, or null
    // handling flips the hash.
    Q("q95_image_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id // 5 AS c, doc_id % 5 AS m
                 FROM documents WHERE doc_id % 10 <> 0)
      SELECT a.doc_id AS img_a, b.doc_id AS img_b,
             CAST(CASE WHEN a.m = 0 OR b.m = 0 THEN 1 ELSE 2 END AS INTEGER) AS hamming
      FROM d a JOIN d b ON a.c = b.c AND a.doc_id < b.doc_id
      ORDER BY img_a, img_b""")) { (s, d) =>
      val pat = HashFunctions.h60(concat(lit("img:"), expr("doc_id div 5")))
      val member = pmod(col("doc_id"), lit(5L))
      val flipBit = expr("shiftleft(1L, cast((doc_id % 5) * 13 AS int))")
      val flipped = when(member > 0, pat.bitwiseXOR(flipBit)).otherwise(pat)
      val png = when(pmod(col("doc_id"), lit(10L)) === 0, unhex(lit("DEADBEEF")))
        .otherwise(patternPng(flipped))
      Multimodal.imageNearDupPairs(
          Tables.documents(s, d).select(col("doc_id").as("img_id"), png.as("img")),
          maxHamming = 2)
        .select(col("doc_a").as("img_a"), col("doc_b").as("img_b"), col("hamming"))
        .orderBy("img_a", "img_b")
    },

    // ---- q96: image dedup GROUPS — q95's pair graph resolved into
    // canonical clusters via the shared label-propagation components
    // (the dedup endgame for the image tier, mirroring q47/q75 for
    // text): every image keeps a row, group_id is the minimum member
    // id, unique content and undecodable rows come back as
    // singletons of themselves. The oracle rebuilds the expected
    // clustering arithmetically from the q95 fixture design
    // (5-image md5-pattern clusters, every 10th row garbage).
    Q("q96_image_dedup_groups", Some("""
      WITH d AS (SELECT doc_id, doc_id // 5 AS c, doc_id % 10 = 0 AS garbage FROM documents),
      m AS (SELECT c, MIN(doc_id) AS gid, CAST(COUNT(*) AS BIGINT) AS sz
            FROM d WHERE NOT garbage GROUP BY c)
      SELECT d.doc_id AS img_id,
             CASE WHEN d.garbage THEN d.doc_id ELSE m.gid END AS group_id,
             CASE WHEN d.garbage THEN 1 ELSE m.sz END AS group_size
      FROM d LEFT JOIN m USING (c)
      ORDER BY img_id""")) { (s, d) =>
      val pat = HashFunctions.h60(concat(lit("img:"), expr("doc_id div 5")))
      val member = pmod(col("doc_id"), lit(5L))
      val flipBit = expr("shiftleft(1L, cast((doc_id % 5) * 13 AS int))")
      val flipped = when(member > 0, pat.bitwiseXOR(flipBit)).otherwise(pat)
      val png = when(pmod(col("doc_id"), lit(10L)) === 0, unhex(lit("DEADBEEF")))
        .otherwise(patternPng(flipped))
      Multimodal.imageDedupGroups(
          Tables.documents(s, d).select(col("doc_id").as("img_id"), png.as("img")),
          maxHamming = 2)
        .orderBy("img_id")
    },

    // ---- q97: perceptual AUDIO near-dup (loudness-envelope hash +
    // hamming banding — the audio-tier deployment of the same
    // signature-generic machinery as q24/q95): real PCM16 WAVs are
    // synthesized per document through the library's own encoder,
    // each 5-clip cluster sharing a 65-frame amplitude walk built
    // from a 60-bit md5 pattern (constant-amplitude frames make the
    // envelope hash analytically equal the pattern; exact float
    // round-trip through encode/decode), members 1-4 flip one
    // distinct pattern bit, every 10th row is garbage bytes. At
    // radius 2 the qualifying pairs are exactly the within-cluster
    // ones, so the oracle predicts the full pair set arithmetically.
    Q("q97_audio_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id // 5 AS c, doc_id % 5 AS m
                 FROM documents WHERE doc_id % 10 <> 0)
      SELECT a.doc_id AS clip_a, b.doc_id AS clip_b,
             CAST(CASE WHEN a.m = 0 OR b.m = 0 THEN 1 ELSE 2 END AS INTEGER) AS hamming
      FROM d a JOIN d b ON a.c = b.c AND a.doc_id < b.doc_id
      ORDER BY clip_a, clip_b""")) { (s, d) =>
      val pat = HashFunctions.h60(concat(lit("aud:"), expr("doc_id div 5")))
      val member = pmod(col("doc_id"), lit(5L))
      val flipBit = expr("shiftleft(1L, cast((doc_id % 5) * 13 AS int))")
      val flipped = when(member > 0, pat.bitwiseXOR(flipBit)).otherwise(pat)
      val wav = when(pmod(col("doc_id"), lit(10L)) === 0, unhex(lit("DEADBEEF")))
        .otherwise(patternWav(flipped))
      graft.operators.Audio.audioNearDupPairs(
          Tables.documents(s, d).select(col("doc_id").as("clip_id"), wav.as("audio")),
          maxHamming = 2)
        .select(col("doc_a").as("clip_a"), col("doc_b").as("clip_b"), col("hamming"))
        .orderBy("clip_a", "clip_b")
    },

    // ---- q101: perceptual VIDEO near-dup — the video-tier
    // deployment of the signature-generic hamming machinery, now
    // over a REAL container decode ([[graft.operators.Video]]): each
    // document synthesizes a 3-frame RIFF/AVI (Motion-PNG codec,
    // every frame a real gray-8 PNG through the library's own
    // encoders), the engine walks the container chunks, decodes each
    // frame's PNG, dHashes it, and banded-hamming-joins frames
    // across videos. Fixture design mirrors q95: 5-video clusters
    // (doc_id div 5) where frame f of the cluster base realizes the
    // 60-bit md5 pattern of (cluster, f) and members 1-4 flip one
    // member-specific bit in EVERY frame; every 10th document is
    // garbage bytes (no frames — quarantine). At radius 2 each
    // within-cluster pair matches on exactly its 3 same-slot frame
    // pairs (cross-slot/cross-cluster patterns are independent md5
    // draws), so the oracle predicts pairs, counts, and min-hamming
    // arithmetically, and any slip in the RIFF walk, the padding
    // math, the PNG decode, the dHash, or the pair aggregation
    // flips the hash.
    Q("q101_video_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id // 5 AS c, doc_id % 5 AS m
                 FROM documents WHERE doc_id % 10 <> 0)
      SELECT a.doc_id AS vid_a, b.doc_id AS vid_b,
             CAST(3 AS BIGINT) AS n_frame_pairs,
             CAST(CASE WHEN a.m = 0 OR b.m = 0 THEN 1 ELSE 2 END AS INTEGER) AS min_hamming
      FROM d a JOIN d b ON a.c = b.c AND a.doc_id < b.doc_id
      ORDER BY vid_a, vid_b""")) { (s, d) =>
      val avi = when(pmod(col("doc_id"), lit(10L)) === 0, unhex(lit("DEADBEEF")))
        .otherwise(patternAvi(expr("doc_id div 5"), pmod(col("doc_id"), lit(5L))))
      graft.operators.Video.videoNearDupPairs(
          Tables.documents(s, d).select(col("doc_id").as("video_id"), avi.as("video")),
          maxHamming = 2)
        .select(col("vid_a"), col("vid_b"), col("n_frame_pairs"), col("min_hamming"))
        .orderBy("vid_a", "vid_b")
    },

    // ---- q184: S9 PDF text extraction as a DuckDB hash gate — the
    // q45/q95 fixture trick applied to the PDF container: per
    // document a REAL PDF is synthesized in-plan (four rotating
    // shapes: garbage bytes, an uncompressed Tj stream with octal
    // escapes, a FlateDecode stream with a kerned TJ array, and a
    // two-page document with a Td line break and a hex string), the
    // distributed extractor (`Assets.extractText` over
    // [[graft.functions.PdfOps]]) runs the full container walk —
    // page tree, Flate inflate, content-stream lex, string decode —
    // and the oracle states the extracted text LITERALLY, so any
    // slip in any of those layers flips the hash (reference
    // pre_processing/process_all.py:265-279).
    Q("q184_pdf_extract", Some("""
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN ''
               WHEN 1 THEN 'doc ' || doc_id || ' alpha (x)'
               WHEN 2 THEN 'doc ' || doc_id || ' flate beta gamma'
               ELSE 'page one of ' || doc_id || chr(10) || 'indent ABC page two'
             END AS text
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      graft.sources.Assets.extractText(
          Tables.documents(s, d).select(
            concat(lit("doc_"), col("doc_id"), lit(".pdf")).as("path"),
            synthPdf(col("doc_id")).as("content")),
          graft.sources.Assets.PdfTextExtractor)
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.pdf", 1)
          .cast("long").as("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // ---- q238: the AUDIO-tier DuckDB hash gate (r18, closing the
    // one §2 family whose correctness rested on hand-pinned specs
    // alone — the q184 fixture trick applied to WAV): per document a
    // REAL PCM16 RIFF/WAVE is synthesized in-plan through the
    // library's own encoder (rate/length/sample values analytic
    // functions of doc_id; every 29th id is deliberate garbage), and
    // the full X4→S10→X1→X7 chain runs distributed — header parse
    // (wavInfo), PCM decode, 2× linear-interp resample, and a
    // duration-derived segment cut. The oracle restates every output
    // arithmetically: PCM16 values k/32768 round-trip the encoder
    // and decoder exactly and 2× upsampling lands on exact 1/65536
    // multiples (closed form 4·Σk − k₀ + k_{n−1}), so the integer
    // checksums cover every decoded and interpolated sample, not
    // just lengths; garbage ids must surface as NULL rows (the
    // reference's skip-on-error, process_all.py:382-453). Double
    // expressions (duration, segment bounds) use the same IEEE
    // expression tree on both engines per the q71 recipe.
    Q("q238_wav_audit", Some("""
      WITH cfg AS (
        SELECT doc_id AS id,
               CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 ELSE 44100 END AS sr,
               200 + CAST(doc_id % 97 AS INTEGER) AS n
        FROM documents),
      ks AS MATERIALIZED (
        SELECT c.id, c.sr, c.n, u.j, ((c.id*31 + u.j*7) % 1024) - 512 AS k
        FROM cfg c, UNNEST(range(0, CAST(c.n AS BIGINT))) u(j)),
      agg AS (
        SELECT id, sr, n,
               CAST(SUM(k) AS BIGINT) AS ksum,
               CAST(SUM(CASE WHEN j = 0 THEN k END) AS BIGINT) AS k0,
               CAST(SUM(CASE WHEN j = n - 1 THEN k END) AS BIGINT) AS klast
        FROM ks GROUP BY 1, 2, 3),
      seg AS (
        SELECT a.id,
               CAST(FLOOR(((CAST(a.n AS DOUBLE) / a.sr) * 0.25) * a.sr) AS BIGINT) AS s0,
               CAST(FLOOR(((CAST(a.n AS DOUBLE) / a.sr) * 0.5) * a.sr) AS BIGINT) AS dn
        FROM agg a),
      segagg AS (
        SELECT k.id, CAST(SUM(k.k) AS BIGINT) AS segsum,
               CAST(COUNT(*) AS BIGINT) AS seglen
        FROM ks k JOIN seg ON seg.id = k.id
        WHERE k.j >= seg.s0 AND k.j < LEAST(CAST(k.n AS BIGINT), seg.s0 + seg.dn)
        GROUP BY 1)
      SELECT a.id AS doc_id,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE CAST(a.sr AS BIGINT) END AS sample_rate,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE CAST(a.n AS BIGINT) END AS n_samples,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE CAST(a.n AS DOUBLE) / a.sr END AS duration,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE a.ksum END AS pcm_checksum,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE CAST(2 * a.n AS BIGINT) END AS up_len,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE 4*a.ksum - a.k0 + a.klast END AS up_checksum,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE seg.s0 END AS seg_start,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE sa.seglen END AS seg_len,
        CASE WHEN a.id % 29 = 0 THEN NULL ELSE sa.segsum END AS seg_checksum
      FROM agg a
      JOIN seg ON seg.id = a.id
      JOIN segagg sa ON sa.id = a.id
      ORDER BY doc_id""")) { (s, d) =>
      import graft.operators.Audio
      // No lineage cut despite the 4-way samples fan-out: codegen
      // subexpression elimination already evaluates the synth+decode
      // chain once per row (a localCheckpoint variant measured
      // within noise, so the extra job would be pure cost).
      // Sort FIRST, on the bare key (r19, guide §1.2/§2.4): the
      // presentation orderBy's range sampling re-executes the sort's
      // child in full, and this chain is exchange-free — sorted last,
      // every WAV was synthesized, parsed, decoded, resampled and
      // checksummed TWICE (measured −56% moving the sort below the
      // key scan: 2.59 → 1.13 s min same-band). Projections preserve
      // partition order, so the emitted rows are identical.
      val st = Tables.documents(s, d).select(col("doc_id"))
        .orderBy("doc_id")
        .withColumn("wav", synthWav(col("doc_id")))
        .select(col("doc_id"),
          Audio.info(col("wav")).as("info"),
          Audio.decode(col("wav")).as("samples"))
      val sr = col("info.sampleRate")
      val n = col("info.numSamples")
      val dur = col("info.durationSec")
      // Integer checksum of exactly-representable sample multiples:
      // every decoded value is k/32768 and every 2×-upsampled value
      // a multiple of 1/65536, so round(x·scale) is the original
      // integer — the whole waveform gates, order-free.
      def csum(arr: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
        aggregate(
          transform(arr, x => round(x.cast("double") * lit(scale)).cast("long")),
          lit(0L), (a, b) => a + b)
      val up = Audio.resample(col("samples"), sr, sr * 2)
      val seg = Audio.segment(col("samples"), sr, dur * 0.25, dur * 0.5)
      st.select(
          col("doc_id"),
          sr.cast("long").as("sample_rate"),
          n.as("n_samples"),
          dur.as("duration"),
          csum(col("samples"), 32768).as("pcm_checksum"),
          size(up).cast("long").as("up_len"),
          csum(up, 65536).as("up_checksum"),
          ((dur * 0.25) * sr).cast("int").cast("long").as("seg_start"),
          size(seg).cast("long").as("seg_len"),
          csum(seg, 32768).as("seg_checksum"))
    },

    // ---- q239: ordered AUDIO assembly hash gate (r18, the X3 half
    // of the q238 family): per book, the decoded part waveforms
    // concatenate in natural part order (Audio.concatParts — one
    // hash aggregate, order restored inside the collected array),
    // and the gate checksum is POSITION-WEIGHTED (weight cycles with
    // the global sample index), so a single swapped pair of parts —
    // or two swapped samples — flips the hash: this proves the
    // order, which a plain sum cannot (process_all.py:409-438).
    Q("q239_wav_assemble", Some("""
      WITH cfg AS (
        SELECT doc_id AS id, CAST(doc_id % 509 AS BIGINT) AS book,
               200 + CAST(doc_id % 97 AS INTEGER) AS n
        FROM documents WHERE doc_id % 29 <> 0),
      parts AS (
        SELECT id, book, n,
               COALESCE(CAST(SUM(n) OVER (PARTITION BY book ORDER BY id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off0
        FROM cfg),
      ks AS (
        SELECT p.book, p.id, p.off0 + u.j AS pos,
               ((p.id*31 + u.j*7) % 1024) - 512 AS k
        FROM parts p, UNNEST(range(0, CAST(p.n AS BIGINT))) u(j))
      SELECT book AS book_id,
             CAST(COUNT(DISTINCT id) AS BIGINT) AS n_parts,
             CAST(COUNT(*) AS BIGINT) AS total_samples,
             CAST(SUM(k * ((pos % 91) + 1)) AS BIGINT) AS pos_checksum
      FROM ks GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      import graft.operators.Audio
      val parts = Tables.documents(s, d).select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(29)) =!= 0)
        .withColumn("book_id", pmod(col("doc_id"), lit(509)))
        .withColumn("samples", Audio.decode(synthWav(col("doc_id"))))
      val books = Audio.concatParts(parts, "book_id", "doc_id", "samples")
      // Position-weighted integer fold over the assembled waveform:
      // one indexed transform + one long fold, codegen, no explode.
      // (r19: the previous struct-accumulator fold allocated a
      // two-field struct per SAMPLE to carry the position; the
      // transform lambda's index argument IS the position, so the
      // accumulator shrinks to one long — same exact integer
      // arithmetic, term for term.)
      val posCsum = aggregate(
        transform(col("samples"), (x, i) =>
          round(x.cast("double") * 32768).cast("long") *
            (pmod(i.cast("long"), lit(91)) + 1)),
        lit(0L), (a, b) => a + b)
      books.select(col("book_id"), col("n_parts"),
          size(col("samples")).cast("long").as("total_samples"),
          posCsum.as("pos_checksum"))
        .orderBy("book_id")
    })

  /** Fixture synthesis for q238/q239: a real PCM16 RIFF/WAVE per
    * document id through the library's own encoder — sample rate
    * cycles {8000, 16000, 22050, 44100} by id%4, length 200+id%97,
    * sample j is ((id·31+j·7)%1024−512)/32768 (exact float32, exact
    * PCM16 round-trip). Every 29th id emits garbage bytes instead —
    * the undecodable-asset path the audit must surface as NULLs. */
  private val synthWav = udf { (id: Long) =>
    if (id % 29 == 0) "NOT A RIFF/WAVE ASSET".getBytes("US-ASCII")
    else {
      val sr = (id % 4) match {
        case 0 => 8000; case 1 => 16000; case 2 => 22050; case _ => 44100
      }
      val n = (200 + id % 97).toInt
      val samples = Array.tabulate(n) { j =>
        (((id * 31 + j.toLong * 7) % 1024) - 512) / 32768.0f
      }
      graft.functions.AudioOps.toWavBytes(samples, sr)
    }
  }

  /** Fixture synthesis for q184: a real PDF per document id in four
    * rotating container shapes (garbage / uncompressed Tj / Flate'd
    * kerned TJ / two pages with Td + hex string), each with
    * analytically-known extracted text so the DuckDB oracle can
    * state it literally. */
  private val synthPdf = udf { (id: Long) =>
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
    def deflate(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    def pdf(objs: (Int, String, Array[Byte])*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(b("%PDF-1.4\n"))
      for ((num, dict, payload) <- objs) {
        out.write(b(s"$num 0 obj\n$dict\n"))
        if (payload != null) {
          out.write(b("stream\n")); out.write(payload); out.write(b("\nendstream\n"))
        }
        out.write(b("endobj\n"))
      }
      out.write(b("trailer\n<< /Root 1 0 R >>\n%%EOF\n"))
      out.toByteArray
    }
    def content(num: Int, src: String, compress: Boolean): (Int, String, Array[Byte]) = {
      val payload = if (compress) deflate(b(src)) else b(src)
      val filter = if (compress) " /Filter /FlateDecode" else ""
      (num, s"<< /Length ${payload.length}$filter >>", payload)
    }
    val cat = (1, "<< /Type /Catalog /Pages 2 0 R >>", null: Array[Byte])
    (id % 4) match {
      case 0 => b(s"GARBAGE $id is not a pdf")
      case 1 => pdf(cat,
        (2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>", null),
        (3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", null),
        content(4, s"BT (doc $id alpha \\050x\\051) Tj ET", compress = false))
      case 2 => pdf(cat,
        (2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>", null),
        (3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", null),
        content(4, s"BT (doc $id flate) Tj [( beta) -250 (gamma)] TJ ET", compress = true))
      case _ => pdf(cat,
        (2, "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>", null),
        (3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", null),
        content(4, s"BT (page one of $id) Tj 0 -14 Td (indent) Tj ET", compress = true),
        (5, "<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>", null),
        content(6, "BT <414243> Tj ( page two) Tj ET", compress = false))
    }
  }

  /** Fixture synthesis for q95: a 60-bit pattern realized as a 9×8
    * gray PNG whose dHash equals the pattern — row walks start at
    * luma 128 and step ±7 by pattern bit (`left > right` exactly when
    * the bit is set; a one-bit pattern flip shifts the rest of the
    * row uniformly, leaving every other gradient sign intact). */
  private val patternPng = udf { (pat: Long) =>
    val px = new Array[Int](9 * 8)
    for (y <- 0 until 8) {
      px(y * 9) = 128
      for (x <- 0 until 8) {
        val bit = (pat >>> (y * 8 + x)) & 1L
        px(y * 9 + x + 1) = px(y * 9 + x) + (if (bit == 1L) -7 else 7)
      }
    }
    Multimodal.encodePngGray(px, 9, 8)
  }

  /** Fixture synthesis for q97: a 60-bit pattern realized as a
    * 65-frame constant-amplitude PCM16 WAV whose envelope hash
    * equals the pattern — the amplitude walk starts at 16000 and
    * steps ∓200 by pattern bit (strictly decreasing exactly when the
    * bit is set; a one-bit flip shifts the remaining frames
    * uniformly, leaving every other gradient sign intact). Frame
    * values a/32768f round-trip the PCM16 encode/decode exactly, so
    * frame means are exact and the gradient comparisons
    * deterministic. */
  private val patternWav = udf { (pat: Long) =>
    val frameLen = 64
    val amps = new Array[Int](65)
    amps(0) = 16000
    for (b <- 0 until 64)
      amps(b + 1) = amps(b) + (if (((pat >>> b) & 1L) == 1L) -200 else 200)
    val samples = new Array[Float](65 * frameLen)
    for (f <- 0 until 65; i <- 0 until frameLen)
      samples(f * frameLen + i) = amps(f) / 32768.0f
    graft.functions.AudioOps.toWavBytes(samples, 16000)
  }

  /** Fixture synthesis for q101: a 3-frame RIFF/AVI (MPNG codec)
    * whose frame f realizes the 60-bit md5 pattern of
    * `vid:<cluster>:<f>` as a 9×8 gray PNG (the q95 gradient-walk
    * construction, so each frame's dHash equals its pattern
    * analytically); members > 0 flip bit `member·13` in every
    * frame. Built entirely through the library's own encoders —
    * [[graft.operators.Multimodal.encodePngGray]] inside
    * [[graft.operators.Video.encodeAviMpng]] — so the gate
    * round-trips real container AND real codec bytes. */
  private val patternAvi = udf { (cluster: Long, member: Long) =>
    val frames = Array.tabulate(3) { f =>
      var pat = graft.functions.HashOps.h60(s"vid:$cluster:$f".getBytes("UTF-8"))
      if (member > 0) pat ^= 1L << (member * 13).toInt
      val px = new Array[Int](9 * 8)
      for (y <- 0 until 8) {
        px(y * 9) = 128
        for (x <- 0 until 8) {
          val bit = (pat >>> (y * 8 + x)) & 1L
          px(y * 9 + x + 1) = px(y * 9 + x) + (if (bit == 1L) -7 else 7)
        }
      }
      graft.operators.Multimodal.encodePngGray(px, 9, 8)
    }
    graft.operators.Video.encodeAviMpng(frames, 9, 8)
  }
}
