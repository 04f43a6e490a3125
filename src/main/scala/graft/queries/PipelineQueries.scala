package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.GraftFunctions
import graft.operators.{Graph, Layout, Sketches, Stats, Temporal, Wer}

/** Reference-pipeline operators over the driver's tables: the
  * Python-literal column family (F12–F14, A4), the corpus-WER QC
  * family (A8/P9/X9), and events-table analytics.
  *
  * The literal queries synthesize repr()-style strings from base
  * columns and then parse them with the real PyLiteral expression —
  * the DuckDB oracle constructs the expected output directly from
  * the same base columns, so the parser sits alone on the gated
  * path: any quoting/shape bug flips the hash. */
object PipelineQueries {

  private val narratorSchema = ArrayType(StructType(Seq(
    StructField("name", StringType), StructField("url", StringType))))

  /** Unrolled v-optimal-histogram oracle (q227): census → prefix
    * sums → interval-cost cells → `k` min-plus DP layers (argmin by
    * (total, split) via row_number) → `k` backtrack CTEs. The cell
    * cost and tie rules mirror [[graft.operators.Stats.vOptimalHist]]
    * verbatim. */
  private def voptimalOracleSql(k: Int): String = {
    val head = """
      WITH e AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
                        LEAST(CAST(FLOOR(value / 8) AS BIGINT), 63) AS bin
                 FROM events WHERE value IS NOT NULL),
      c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS HUGEINT) AS s,
                   SUM(CAST(v AS HUGEINT) * v) AS q
            FROM e GROUP BY 1),
      p AS (SELECT bin, row_number() OVER (ORDER BY bin) AS pp,
                   SUM(n) OVER w AS cn, SUM(s) OVER w AS cs, SUM(q) OVER w AS cq
            FROM c WINDOW w AS (ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      lo AS (SELECT pp AS a, cn AS cnA, cs AS csA, cq AS cqA FROM p
             UNION ALL
             SELECT 0, 0, CAST(0 AS HUGEINT), CAST(0 AS HUGEINT)),
      cells AS MATERIALIZED (
        SELECT lo.a + 1 AS f, hi.pp AS t2,
               CAST(hi.cn - lo.cnA AS BIGINT) AS nseg,
               CAST(((hi.cn - lo.cnA) * (hi.cq - lo.cqA)
                     - (hi.cs - lo.csA) * (hi.cs - lo.csA))
                    // CAST(hi.cn - lo.cnA AS HUGEINT) AS BIGINT) AS cost
        FROM p hi JOIN lo ON lo.a < hi.pp),
      l1 AS (SELECT t2 AS i, cost AS total, CAST(0 AS BIGINT) AS bestj
             FROM cells WHERE f = 1)"""
    val layers = (2 to k).map { t =>
      s""",
      l$t AS (SELECT i, total, bestj FROM (
        SELECT c2.t2 AS i, l${t - 1}.total + c2.cost AS total,
               l${t - 1}.i AS bestj,
               row_number() OVER (PARTITION BY c2.t2
                 ORDER BY l${t - 1}.total + c2.cost, l${t - 1}.i) AS rn
        FROM cells c2 JOIN l${t - 1} ON c2.f = l${t - 1}.i + 1
        WHERE l${t - 1}.i >= ${t - 1}) WHERE rn = 1)"""
    }.mkString
    val back = (k to 1 by -1).map { t =>
      if (t == k) s""",
      bmax AS (SELECT MAX(pp) AS mb FROM p),
      b$t AS (SELECT l$t.i AS e, l$t.bestj AS j FROM l$t, bmax WHERE l$t.i = bmax.mb)"""
      else s""",
      b$t AS (SELECT l$t.i AS e, l$t.bestj AS j FROM l$t, b${t + 1} WHERE l$t.i = b${t + 1}.j)"""
    }.mkString
    val segUnion = (1 to k).map(t =>
      s"SELECT CAST($t AS BIGINT) AS segment, j + 1 AS f, e AS t2 FROM b$t")
      .mkString("\n        UNION ALL ")
    head + layers + back + s""",
      segs AS ($segUnion)
      SELECT segs.segment, pf.bin AS start_bin, pt.bin AS end_bin,
             cells.nseg AS n_seg, cells.cost AS sse_q
      FROM segs JOIN cells ON cells.f = segs.f AND cells.t2 = segs.t2
           JOIN p pf ON pf.pp = segs.f
           JOIN p pt ON pt.pp = segs.t2
      ORDER BY segs.segment"""
  }

  /** The graph tier's shared synthetic edge frame: density-stable
    * modulus m = |orders| div 8, derived IN-FRAME — the one-row
    * count aggregate attaches by a constant-key broadcast equi-join
    * (BroadcastHashJoin, never a nested loop) instead of a separate
    * driver-side `orders.count()` job per execution. One fewer
    * scheduled job, and the 100 TB path never collects the modulus
    * to the driver. `dropSelfLoops` = false keeps the kCore shape
    * (its oracle counts self-loops in the degree census). */
  private[graft] def syntheticEdges(s: org.apache.spark.sql.SparkSession, d: String,
                                    dropSelfLoops: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    val orders = Tables.orders(s, d)
    val m = orders.agg(expr("count(1) div 8").as("__m"))
      .withColumn("__k", lit(1))
    val edges = orders.withColumn("__k", lit(1))
      .join(broadcast(m), "__k")
      .select(
        pmod(col("o_custkey"), col("__m")).as("src"),
        pmod(col("o_custkey") * 7 + col("o_orderkey") * 13, col("__m")).as("dst"))
    if (dropSelfLoops) edges.filter(col("src") =!= col("dst")) else edges
  }

  val qs: Seq[Q] = Seq(

    // ---- q18: python-literal url list -> typed array -> posexplode
    // (F12 + W4; crawler/download.py:223-230 parses the same shape
    // before enumerating download files {book}_{idx}).
    Q("q18_pyliteral_urls", Some("""
      WITH l AS (
        SELECT p_partkey,
               ['https://host/' || p_partkey || '_1.mp3',
                'https://host/' || p_partkey || '_2.mp3'] AS urls
        FROM part)
      SELECT p_partkey,
             CAST(generate_subscripts(urls, 1) AS BIGINT) AS idx,
             unnest(urls) AS url
      FROM l
      ORDER BY p_partkey, idx""")) { (s, d) =>
      // Mixed python quoting on purpose — both forms must parse.
      val literal = concat(
        lit("['https://host/"), col("p_partkey"), lit("_1.mp3', \"https://host/"),
        col("p_partkey"), lit("_2.mp3\"]"))
      Tables.part(s, d)
        .select(col("p_partkey"),
          from_json(GraftFunctions.pyliteral_to_json(literal), ArrayType(StringType)).as("urls"))
        .select(col("p_partkey"), posexplode(col("urls")))
        .select(col("p_partkey"), (col("pos") + 1).cast("long").as("idx"), col("col").as("url"))
        .orderBy("p_partkey", "idx")
    },

    // ---- q19: narrator literal in all three reference shapes
    // (dict | list-of-dict | bare scalar), normalized to
    // list-of-struct (F13, crawler/metadata.py:261-266), wide-expanded
    // to narrator_{i}_{name,url} columns (F14, metadata.py:281-291)
    // sized by the max cardinality (A4, metadata.py:276-279 — static
    // 2 here by construction).
    Q("q19_narrator_wide", Some("""
      WITH n AS (
        SELECT c_custkey,
               CASE CAST(c_custkey % 3 AS INTEGER)
                 WHEN 0 THEN [{'name': 'n' || c_custkey, 'url': 'https://n/' || c_custkey}]
                 WHEN 1 THEN [{'name': 'n' || c_custkey, 'url': 'https://n/' || c_custkey},
                              {'name': 'm' || c_custkey, 'url': 'https://m/' || c_custkey}]
                 ELSE [{'name': 'plain ' || c_custkey, 'url': ''}]
               END AS narr
        FROM customer)
      SELECT c_custkey,
             CAST(len(narr) AS INTEGER) AS n_narrators,
             narr[1].name AS narrator_1_name, narr[1].url AS narrator_1_url,
             narr[2].name AS narrator_2_name, narr[2].url AS narrator_2_url
      FROM n
      ORDER BY c_custkey""")) { (s, d) =>
      // Build the literal exactly as the reference CSV carries it:
      // %3==0 -> a bare dict, %3==1 -> a list of two dicts,
      // %3==2 -> a bare (non-dict, non-list) scalar string.
      val k = col("c_custkey")
      val literal =
        when(k % 3 === 0,
          concat(lit("{'name': 'n"), k, lit("', 'url': 'https://n/"), k, lit("'}")))
        .when(k % 3 === 1,
          concat(lit("[{'name': 'n"), k, lit("', 'url': 'https://n/"), k,
            lit("'}, {'name': 'm"), k, lit("', 'url': 'https://m/"), k, lit("'}]")))
        .otherwise(concat(lit("'plain "), k, lit("'")))
      val js = GraftFunctions.pyliteral_to_json(literal)
      // Reference normalization: dict -> [dict]; list -> list;
      // anything else -> [{name: str(x), url: ''}].
      val narr =
        when(js.startsWith("["), from_json(js, narratorSchema))
        .when(js.startsWith("{"), array(from_json(js, narratorSchema.elementType)))
        .otherwise(array(struct(
          get_json_object(js, "$").as("name"), lit("").as("url"))))
      Tables.customer(s, d)
        .select(k, narr.as("narr"))
        .select(
          col("c_custkey"),
          size(col("narr")).as("n_narrators"),
          try_element_at(col("narr"), lit(1)).getField("name").as("narrator_1_name"),
          try_element_at(col("narr"), lit(1)).getField("url").as("narrator_1_url"),
          try_element_at(col("narr"), lit(2)).getField("name").as("narrator_2_name"),
          try_element_at(col("narr"), lit(2)).getField("url").as("narrator_2_url"))
        .orderBy("c_custkey")
    },

    // ---- q34: corpus WER per group + book-level reject (A8 + P9,
    // alignment/post_process.py:322-347). Hypotheses are synthesized
    // so the word-level edit distance is exactly computable in SQL:
    // docs with doc_id%3=0 lose their first token (distance exactly
    // 1 — delete w1, align the rest), every other doc is unchanged
    // (distance 0). Corpus WER is the jiwer-style WEIGHTED rate:
    // sum(errors)/sum(ref words), never mean-of-per-doc-rates.
    Q("q34_wer_reject", Some("""
      SELECT CAST(doc_id % 7 AS BIGINT) AS grp,
             COUNT(*) AS n_docs,
             (CAST(COUNT(*) FILTER (WHERE doc_id % 3 = 0) AS DOUBLE)
              / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)) * 100 AS wer,
             (CAST(COUNT(*) FILTER (WHERE doc_id % 3 = 0) AS DOUBLE)
              / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)) * 100 < 0.23 AS qualified
      FROM documents
      GROUP BY 1
      ORDER BY grp""")) { (s, d) =>
      val toks = split(col("text"), " ")
      val hyp = when(col("doc_id") % 3 === 0,
        array_join(slice(toks, lit(2), greatest(size(toks) - 1, lit(0))), " "))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select((col("doc_id") % 7).as("grp"), col("text").as("ref"), hyp.as("hyp"))
        .groupBy("grp")
        .agg(
          count(lit(1)).as("n_docs"),
          Wer.corpusWer(col("ref"), col("hyp")).as("wer"))
        .withColumn("qualified", col("wer") < 0.23)
        .orderBy("grp")
    },

    // ---- q36: full Vietnamese normalization chain (F3+F5+F6+F7)
    // over synthesized text carrying a date, a Vietnamese-format
    // price, and a URL. The oracle rebuilds the expected output
    // directly from the date parts with the digit table — every
    // stage of the chain (url strip, number canonicalize, currency
    // map, date reading, digit reading, squeeze+lower) must land
    // exactly or the hash flips.
    Q("q36_vi_normalize", Some("""
      WITH d AS (
        SELECT o_orderkey,
               CAST(day(o_orderdate) AS INTEGER) AS d,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(year(o_orderdate) AS INTEGER) AS y
        FROM orders),
      w AS (SELECT ['không','một','hai','ba','bốn','năm','sáu','bảy','tám','chín'] AS dw)
      SELECT o_orderkey,
             'ngày ' ||
             CASE WHEN d < 10 THEN dw[d+1] ELSE dw[d//10+1] || ' ' || dw[d%10+1] END ||
             ' tháng ' ||
             CASE WHEN m < 10 THEN dw[m+1] ELSE dw[m//10+1] || ' ' || dw[m%10+1] END ||
             ' năm ' ||
             dw[y//1000+1] || ' ' || dw[(y//100)%10+1] || ' ' || dw[(y//10)%10+1] || ' ' || dw[y%10+1] ||
             ' giá hai ba bốn năm sáu vnd xem' AS norm
      FROM d, w
      ORDER BY o_orderkey""")) { (s, d) =>
      val input = concat(
        dayofmonth(col("o_orderdate")), lit("/"),
        month(col("o_orderdate")), lit("/"), year(col("o_orderdate")),
        lit(" giá 234,56 đ xem https://example.com/x"))
      // Collapse-identical applied to an expensive scalar kernel: the
      // normalization input is functionally dependent on o_orderdate
      // (~2.4k distinct values under 150k rows), so the regex chain
      // runs once per distinct date and a broadcast join fans the
      // result back out — the same dictionary trick the dedup family
      // uses for pairwise work. The ORDER BY sits ABOVE the join —
      // Catalyst's EliminateSorts deletes a sort under a join, so a
      // pre-join orderBy would leave the oracle's ORDER BY unenforced.
      // The sorted rows stay cheap: key + a pointer into the broadcast
      // dictionary, and the kernel already ran per distinct date.
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      val perDate = o.select(col("o_orderdate")).distinct()
        .select(col("o_orderdate"), GraftFunctions.vi_normalize_text(input).as("norm"))
      o.join(broadcast(perDate), "o_orderdate")
        .select(col("o_orderkey"), col("norm"))
        .orderBy("o_orderkey")
    },

    // ---- q37: F11 cleaner — typographic quote/bullet strip plus
    // FULL Vietnamese number naming (mười/mươi/mốt/tư/lăm rules,
    // 0..99 here so the oracle can spell the same rules in SQL).
    Q("q37_vi_number_names", Some("""
      WITH d AS (SELECT o_orderkey, CAST(o_orderkey % 100 AS INTEGER) AS n FROM orders),
      w AS (SELECT ['không','một','hai','ba','bốn','năm','sáu','bảy','tám','chín'] AS dw)
      SELECT o_orderkey,
             'Giá ' ||
             CASE
               WHEN n < 10 THEN dw[n+1]
               WHEN n < 20 THEN 'mười' ||
                 CASE WHEN n%10 = 0 THEN ''
                      WHEN n%10 = 5 THEN ' lăm'
                      ELSE ' ' || dw[n%10+1] END
               ELSE dw[n//10+1] || ' mươi' ||
                 CASE WHEN n%10 = 0 THEN ''
                      WHEN n%10 = 1 THEN ' mốt'
                      WHEN n%10 = 4 THEN ' tư'
                      WHEN n%10 = 5 THEN ' lăm'
                      ELSE ' ' || dw[n%10+1] END
             END || ' đồng' AS cleaned
      FROM d, w
      ORDER BY o_orderkey""")) { (s, d) =>
      val input = concat(
        lit("“Giá” • "), (col("o_orderkey") % 100).cast("int"), lit(" đồng"))
      // Same distinct-input collapse + join-then-sort shape as q36:
      // the cleaner input depends only on o_orderkey % 100.
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), (col("o_orderkey") % 100).cast("int").as("n"))
      val perN = o.select(col("n")).distinct()
        .select(col("n"),
          GraftFunctions.vi_process_text(concat(lit("“Giá” • "), col("n"), lit(" đồng")))
            .as("cleaned"))
      o.join(broadcast(perN), "n")
        .select(col("o_orderkey"), col("cleaned"))
        .orderBy("o_orderkey")
    },

    // ---- q35: events analytics — hourly tumbling buckets per event
    // type with JSON props extraction. ts arrives as epoch-nano
    // BIGINT (nanosAsLong); the bucket uses integer `div` — a double
    // division of an ~1.7e18 nano value would round above 2^53 and
    // put boundary events in the wrong hour.
    Q("q35_events_hourly", Some(s"""
      SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
             event_type,
             COUNT(*) AS n,
             ${Q.dsumSql("value", 2)} AS sum_value,
             CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_bucket, event_type""")) { (s, d) =>
      Tables.events(s, d)
        .groupBy(
          expr("ts div 3600000000000").as("hour_bucket"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,2)")).cast("double").as("sum_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("hour_bucket", "event_type")
    },

    // ---- q187: the STREAMING twin's bench lane — q35's hourly
    // aggregate executed through Structured Streaming end-to-end
    // (file source → watermarked tumbling-window aggregate → memory
    // sink), so the state-store machinery the EventStreamsSpec
    // parity tests exercise at fixture scale finally has a timed,
    // hash-gated lane at bench scale. Determinism: the whole sfDir
    // arrives as ONE micro-batch (maxFilesPerTrigger high, so the
    // watermark — which only advances BETWEEN batches — can drop
    // nothing and the result is the exact batch aggregate), sums run
    // on decimal (a streamed double sum would be order-dependent),
    // and the memory sink holds the bounded window census, never the
    // corpus. The oracle replays the tumbling windows from epoch
    // arithmetic.
    Q("q187_stream_hourly", Some(s"""
      SELECT (epoch_ns(ts) // 1000) // 3600000000 * 3600000000 AS window_start_us,
             event_type,
             COUNT(*) AS n,
             ${Q.dsumSql("value", 2)} AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start_us, event_type""")) { (s, d) =>
      val ev = graft.streaming.StreamLane.events(s, d)
      val counts = graft.streaming.EventStreams.hourlyCounts(
        ev.withColumn("value", col("value").cast("decimal(28,2)")))
      // Complete-mode census: the trailing no-data batch would just
      // rewrite the identical table — skip it (see StreamLane doc).
      graft.streaming.StreamLane.drain(s, counts, "complete", "q187_mem",
          noDataBatch = false)
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start_us", "event_type")
    },

    // ---- q233: the STREAM-STATIC join lane (r16) — the canonical
    // ingest-enrichment shape completing the streaming join matrix
    // (q214 times the stream-stream state store; this times the
    // broadcast dimension join + windowed aggregate that every
    // production enrichment runs): events stream joins the static
    // customer dimension on user_id and rolls into hourly windows
    // per market segment. The join holds NO state (the dimension is
    // broadcast per micro-batch); only the window census does.
    // Decimal sums, single-batch arrival, complete mode — the oracle
    // replays join + window arithmetic in batch.
    Q("q233_stream_static_enrich", Some(s"""
      SELECT (epoch_ns(e.ts) // 1000) // 3600000000 * 3600000000 AS window_start_us,
             c.c_mktsegment AS segment,
             COUNT(*) AS n,
             ${Q.dsumSql("e.value", 2)} AS sum_value
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
      WHERE e.ts IS NOT NULL AND e.user_id IS NOT NULL
      GROUP BY 1, 2
      ORDER BY window_start_us, segment""")) { (s, d) =>
      val ev = graft.streaming.StreamLane.events(s, d)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("value", col("value").cast("decimal(28,2)"))
      val dim = Tables.customer(s, d)
      val counts = graft.streaming.EventStreams.enrichedHourlyCounts(
        ev, dim, keyCol = "user_id", dimKeyCol = "c_custkey",
        attrCol = "c_mktsegment")
      // Complete-mode census — no-data batch skipped (q187's rule).
      graft.streaming.StreamLane.drain(s, counts, "complete", "q233_mem",
          noDataBatch = false)
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("c_mktsegment").as("segment"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start_us", "segment")
    },

    // ---- q234: the STREAMING DELTA-INGEST lane (r17) — the
    // streaming twin of q81's corpus-stationary triage and the
    // actual production shape of LLM-corpus ingestion: the standing
    // corpus's dedup structures (fingerprint map + inverted token
    // index) are batch-fit once, and the arriving document stream is
    // routed exact/near/contained/accepted in one STATELESS
    // projection — no stream-static join, no state store, no
    // watermark; the plan appends at ingest rate. Candidate
    // generation and exact-Jaccard verification happen in the same
    // posting probe (recall exactly 1), which is what makes a
    // streaming dedup DuckDB-replayable and hash-gatable. The split
    // mirrors q81: doc_id % 17 == 0 arrives, the rest stands.
    Q("q234_stream_delta_ingest", Some("""
      WITH delta AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 17 = 0),
      corpus AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 17 <> 0),
      dfp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp FROM delta),
      cfp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp FROM corpus),
      ex AS (SELECT dfp.doc_id, MIN(cfp.doc_id) AS match_id
             FROM dfp JOIN cfp USING (fp) GROUP BY dfp.doc_id),
      dt AS (SELECT doc_id AS dn_id, list_distinct(string_split(text, ' ')) AS toks FROM delta),
      ct AS (SELECT doc_id AS cn_id, list_distinct(string_split(text, ' ')) AS toks FROM corpus),
      du AS (SELECT dn_id, unnest(toks) AS tok, len(toks) AS dn FROM dt),
      cu AS (SELECT cn_id, unnest(toks) AS tok, len(toks) AS cn FROM ct),
      ovt AS MATERIALIZED (SELECT dn_id, cn_id, dn, cn, COUNT(*) AS ov
              FROM du JOIN cu USING (tok) GROUP BY 1, 2, 3, 4),
      bestn AS (SELECT dn_id, cn_id, ov / (dn + cn - ov) AS jr FROM ovt
                WHERE ov / (dn + cn - ov) >= 0.9
                QUALIFY row_number() OVER (PARTITION BY dn_id
                  ORDER BY ov / (dn + cn - ov) DESC, cn_id) = 1),
      bestc AS (SELECT dn_id, cn_id, ov / dn AS cont FROM ovt
                WHERE ov / dn >= 0.8
                QUALIFY row_number() OVER (PARTITION BY dn_id
                  ORDER BY ov / dn DESC, cn_id) = 1)
      SELECT d.doc_id,
             CASE WHEN ex.match_id IS NOT NULL THEN 'exact'
                  WHEN bn.cn_id IS NOT NULL THEN 'near'
                  WHEN bc.cn_id IS NOT NULL THEN 'contained'
                  ELSE 'accepted' END AS status,
             COALESCE(ex.match_id, bn.cn_id, bc.cn_id) AS match_id,
             CASE WHEN ex.match_id IS NOT NULL THEN 1.0
                  WHEN bn.cn_id IS NOT NULL THEN floor(bn.jr * 10000 + 0.5) / 10000
                  WHEN bc.cn_id IS NOT NULL THEN floor(bc.cont * 10000 + 0.5) / 10000
             END AS score
      FROM delta d
      LEFT JOIN ex ON ex.doc_id = d.doc_id
      LEFT JOIN bestn bn ON bn.dn_id = d.doc_id
      LEFT JOIN bestc bc ON bc.dn_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      val corpus = graft.Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(17)) =!= 0)
      val model = graft.operators.Dedup.fitCorpusTriage(corpus)
      val arriving = graft.streaming.StreamLane.documents(s, d)
        .filter(pmod(col("doc_id"), lit(17)) === 0)
      val routed = graft.operators.Dedup.corpusTriageScored(
        arriving, model, threshold = 0.9, containThreshold = 0.8)
      // Stateless append lane: no watermark state, so the trailing
      // no-data batch would do nothing — skip it (q187's rule).
      graft.streaming.StreamLane.drain(s, routed, "append", "q234_mem",
          noDataBatch = false)
        .orderBy("doc_id")
    },

    // ---- q188: the APPEND-mode streaming lane — q54's gap sessions
    // through Catalyst's native session_window aggregate with a real
    // state store and WATERMARK EVICTION under timing: unlike q187's
    // complete-mode window census, this lane's output is exactly the
    // sessions the watermark has closed when the stream drains —
    // sessions still open (ending within gap + watermark of the
    // corpus max) stay in state and must NOT appear. The oracle
    // replays the gap sessionization AND the eviction rule
    // (window_end <= watermark, both in Spark's millisecond
    // watermark domain; EventStreamsSpec pins the exact boundary on
    // a crafted fixture). Single data micro-batch (watermarks only
    // advance between batches) + decimal sums keep the emitted set
    // deterministic.
    Q("q188_stream_sessions", Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tsu,
                        CAST(value AS DECIMAL(28,2)) AS v FROM events),
      mx AS (SELECT MAX(tsu) AS mts FROM e),
      o AS (SELECT user_id, tsu, v,
              CASE WHEN LAG(tsu) OVER w IS NULL
                     OR tsu - LAG(tsu) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
      s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o),
      g AS (SELECT user_id, sid, MIN(tsu) AS start_u, MAX(tsu) AS end_u,
                   CAST(COUNT(*) AS INT) AS n_events,
                   CAST(SUM(v) AS DOUBLE) AS total_value
            FROM s GROUP BY 1, 2)
      SELECT user_id, start_u * 1000 AS session_start_ts,
             end_u * 1000 AS session_end_ts, n_events, total_value
      FROM g, mx
      WHERE (end_u + 1800000000) // 1000 <= mts // 1000 - 7200000
      ORDER BY user_id, session_start_ts""")) { (s, d) =>
      val ev = graft.streaming.StreamLane.events(s, d)
      val sessions = graft.streaming.EventStreams.sessionWindowAgg(
        ev.withColumn("value", col("value").cast("decimal(28,2)")),
        gapMinutes = 30, watermark = "2 hours")
      // Append-mode eviction lane: emission IS the no-data batch's
      // watermark pass — keep it (StreamLane default).
      graft.streaming.StreamLane.drain(s, sessions, "append", "q188_mem")
        .select(col("user_id"), col("session_start_ts"), col("session_end_ts"),
          col("n_events"), col("total_value").cast("double").as("total_value"))
        .orderBy("user_id", "session_start_ts")
    },

    // ---- q205: the ARBITRARY-STATE streaming lane — q54's gap
    // sessions a third time, now through flatMapGroupsWithState with
    // user-managed GroupState and EVENT-TIME TIMEOUTS, completing
    // the state-machinery triptych: q187 times window-aggregate
    // state, q188 times session_window watermark EVICTION, this
    // times the KeyValueGroupedDataset custom-state path (the
    // preference-order point the reference's accumulate-then-flush
    // loops map to when semantics outgrow an aggregate). Emission =
    // in-batch gap-closed sessions (every non-last session per user)
    // PLUS timeout-flushed ones, where the timeout fires STRICTLY
    // below the watermark (`end_ms + gap_ms < wm_ms` — unlike
    // q188's `<=` eviction; the boundary is pinned by an exact
    // fixture in EventStreamsSpec). The value fold IS under the hash
    // (r15, closing the r14 verdict's ask #5): the lane e4-quantizes
    // `value` before sessionize, so the operator's sequential Scala
    // double fold only ever adds integer-valued doubles — exact and
    // order-independent below 2^53 — and `SUM(v_e4)` is its portable
    // SQL twin (the q71 exact-fixed-point recipe applied to operator
    // STATE instead of an aggregate).
    Q("q205_stream_stateful_sessions", Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn,
                        COALESCE(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT), 0) AS ve4
                 FROM events),
      mx AS (SELECT MAX(tsn) AS mts FROM e),
      o AS (SELECT user_id, tsn, ve4,
              CASE WHEN LAG(tsn) OVER w IS NULL
                     OR tsn - LAG(tsn) OVER w > 1800000000000 THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn)),
      s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tsn
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o),
      g AS (SELECT user_id, sid, MIN(tsn) AS start_n, MAX(tsn) AS end_n,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(ve4) AS BIGINT) AS total_v_e4
            FROM s GROUP BY 1, 2),
      g2 AS (SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS last_sid FROM g)
      SELECT user_id, start_n AS session_start_ts, end_n AS session_end_ts,
             n_events, total_v_e4
      FROM g2, mx
      WHERE sid < last_sid
         OR end_n // 1000000 + 1800000 < mts // 1000000 - 7200000
      ORDER BY user_id, session_start_ts""")) { (s, d) =>
      val ev = graft.streaming.StreamLane.events(s, d)
      // e4-quantize BEFORE the stateful fold: integer-valued doubles
      // sum exactly (each partial stays < 2^53), so the state's
      // sequential accumulation is order-free and the oracle's
      // SUM(ve4) is an exact twin. Nulls fold as 0 on both sides.
      val sessions = graft.streaming.EventStreams.sessionize(
        ev.withColumn("value",
          coalesce(floor(col("value") * lit(10000d) + lit(0.5d)).cast("double"),
            lit(0d))),
        gapMinutes = 30, watermark = "2 hours")
      // Timeout lane: the no-data batch is where event-time timeouts
      // fire — keep it (StreamLane default).
      graft.streaming.StreamLane.drain(s, sessions.toDF(), "append", "q205_mem")
        .select(col("userId").as("user_id"), col("startTs").as("session_start_ts"),
          col("endTs").as("session_end_ts"), col("nEvents").cast("long").as("n_events"),
          col("totalValue").cast("long").as("total_v_e4"))
        .orderBy("user_id", "session_start_ts")
    },

    // ---- q226: the STREAMING SKETCH lane — q56's HyperLogLog as a
    // watermarked per-(hour window, type) streaming max-aggregation
    // with a REAL state store under timing (the one streaming twin
    // family — hll/cms/histogram registers — that had bit-parity
    // specs but no gated lane). Registers are a max-agg of
    // deterministic md5-derived ranks, so the streamed cells are
    // bit-identical to batch and the oracle replays the register
    // construction verbatim (the q56 recipe) with the q187 window
    // arithmetic; state is bounded at 2^p registers per open
    // (window, type) no matter the stream. Single data micro-batch,
    // complete mode — the full register census is the (bounded)
    // sink payload.
    Q("q226_stream_hll", Some {
      val p = 6
      val low = 60 - p
      s"""
      WITH h AS (SELECT (epoch_ns(ts) // 1000) // 3600000000 * 3600000000 AS wsu,
                        event_type,
                        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                 FROM events),
      r AS (SELECT wsu, event_type, h >> $low AS reg,
              CASE WHEN (h & ((1::BIGINT << $low) - 1)) = 0 THEN ${low + 1}
                   ELSE ${low + 1} - length(bin(h & ((1::BIGINT << $low) - 1)))
              END AS rho
            FROM h)
      SELECT wsu AS window_start_us, event_type,
             CAST(reg AS BIGINT) AS reg, CAST(MAX(rho) AS BIGINT) AS maxrho
      FROM r GROUP BY 1, 2, 3
      ORDER BY window_start_us, event_type, reg"""
    }) { (s, d) =>
      val ev = graft.streaming.StreamLane.events(s, d)
      val regs = graft.streaming.EventStreams.hllRegistersWindowed(ev, p = 6)
      // Complete-mode register census — no-data batch skipped, same
      // reasoning as q187.
      graft.streaming.StreamLane.drain(s, regs, "complete", "q226_mem",
          noDataBatch = false)
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("reg").cast("long").as("reg"),
          col("maxrho").cast("long").as("maxrho"))
        .orderBy("window_start_us", "event_type", "reg")
    },

    // ---- q214: the STREAM-STREAM JOIN lane — watermarked two-
    // unbounded-inputs attribution (click within 30 min of its
    // impression, per user) through Spark's native stream-stream
    // inner join with an event-time range predicate, completing the
    // streaming tier: q187 times window-aggregate state, q188
    // session_window eviction, q205 arbitrary GroupState — this
    // times the symmetric JOIN state store (both sides buffer,
    // keyed on user_id, evicted when the click watermark passes
    // imp_time + horizon; state is bounded by horizon × arrival
    // rate, never stream length — the bound that makes the shape
    // viable at 100 TB). Inner-join results are watermark-
    // INDEPENDENT under a single-micro-batch drain, so the emitted
    // pairs equal the exact batch join and the oracle replays it as
    // a plain range join in micro time (tsCol truncates nanos to
    // micros — same domain both sides). EventStreamsSpec pins batch
    // parity and left-outer watermark-flush semantics on fixtures.
    Q("q214_stream_stream_join", Some("""
      WITH e AS (SELECT event_id, user_id, event_type,
                        epoch_ns(ts) // 1000 AS tsu
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      i AS (SELECT user_id, event_id AS imp_id, tsu AS imp_ts_us
            FROM e WHERE event_type = 'view'),
      c AS (SELECT user_id, event_id AS click_id, tsu AS click_ts_us
            FROM e WHERE event_type = 'click')
      SELECT i.user_id, i.imp_id, c.click_id, i.imp_ts_us, c.click_ts_us
      FROM i JOIN c ON c.user_id = i.user_id
                   AND c.click_ts_us >= i.imp_ts_us
                   AND c.click_ts_us <= i.imp_ts_us + 1800000000
      ORDER BY i.user_id, i.imp_id, c.click_id""")) { (s, d) =>
      // Thin the stream AT SOURCE (r16, closing the r15 verdict's #1):
      // filter to the two participating event types and project to
      // the three needed columns BEFORE the fork, so the join's
      // symmetric state store buffers 3-column view/click rows
      // instead of full-width everything — at 100 TB this is the
      // difference between state sized by attribution traffic and
      // state sized by the firehose.
      val ev = graft.streaming.StreamLane.events(s, d)
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isin("view", "click"))
        .select("event_id", "user_id", "event_type", "ts")
      // Self-join of one file source: impressions and clicks are two
      // filters of the same stream — Spark plans it as a symmetric
      // stream-stream join with per-side watermarks.
      val joined = graft.streaming.EventStreams.attributionJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"),
        keyCol = "user_id", horizon = "30 minutes", watermark = "2 hours")
      // Inner pairs emit in the data batch; the no-data batch would
      // only evict state — skip it (see StreamLane doc).
      graft.streaming.StreamLane.drain(s, joined, "append", "q214_mem",
          noDataBatch = false)
        .select(col("user_id"), col("imp_id"), col("click_id"),
          unix_micros(col("imp_time")).as("imp_ts_us"),
          unix_micros(col("click_time")).as("click_ts_us"))
        .orderBy("user_id", "imp_id", "click_id")
    },

    // ---- q206: isotonic calibration — "does a higher value-score
    // really mean a higher purchase propensity, and what IS the
    // calibrated rate per score band?" PAVA runs on the driver over
    // the ≤64-bin score census in exact fractions, and each pool's
    // average is e9-truncated once, so the output is exactly
    // trunc(PAVA) and hash-gates (the oracle replays the minimax
    // identity). iso_e9 is non-decreasing in bin by construction.
    Q("q206_isotonic", Some("""
      WITH e AS (SELECT LEAST(CAST(FLOOR(value / 8) AS BIGINT), 63) AS bin,
                        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l
                 FROM events WHERE value IS NOT NULL),
      c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(l) AS BIGINT) AS pos
            FROM e GROUP BY 1),
      cum AS (SELECT bin, n, pos,
                SUM(n) OVER (ORDER BY bin) AS cc,
                SUM(pos) OVER (ORDER BY bin) AS cp
              FROM c),
      p AS (SELECT j.bin AS bj, k.bin AS bk,
              CAST(((k.cp - (j.cp - j.pos)) * 1000000000)
                   // (k.cc - (j.cc - j.n)) AS BIGINT) AS avg9
            FROM cum j JOIN cum k ON k.bin >= j.bin),
      f AS (SELECT bj, bk AS bi,
              MIN(avg9) OVER (PARTITION BY bj ORDER BY bk DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
            FROM p),
      iso AS (SELECT bi AS bin, CAST(MAX(fv) AS BIGINT) AS iso_e9 FROM f GROUP BY 1)
      SELECT c.bin, c.n, c.pos, iso.iso_e9
      FROM c JOIN iso USING (bin) ORDER BY bin""")) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(least(floor(col("value") / lit(8d)), lit(63d)).cast("long").as("bin"),
          (col("event_type") === "purchase").cast("long").as("l"))
      Stats.isotonicCalibrate(ev, col("bin"), col("l")).orderBy("bin")
    },

    // ---- q207: winsorization — clip each value into its group's
    // [p5, p95] band, the outlier treatment that PRESERVES rows
    // where q138/q109 flag them (training pipelines usually want the
    // row, not its wild tail value). Exact census percentile picks
    // (the q72 rank convention) broadcast onto one corpus-shaped
    // projection — 1M output rows at sf0.1, no corpus window.
    Q("q207_winsorize", Some("""
      WITH e AS (SELECT event_id, event_type,
                        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events WHERE value IS NOT NULL),
      c AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM e GROUP BY 1, 2),
      cum AS (SELECT event_type, v, cnt,
                SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cm,
                SUM(cnt) OVER (PARTITION BY event_type) AS n
              FROM c),
      lo AS (SELECT event_type, v AS lov FROM cum
             WHERE cm >= (n - 1) * 5 // 100 + 1
               AND cm - cnt < (n - 1) * 5 // 100 + 1),
      hi AS (SELECT event_type, v AS hiv FROM cum
             WHERE cm >= (n - 1) * 95 // 100 + 1
               AND cm - cnt < (n - 1) * 95 // 100 + 1)
      SELECT e.event_id, e.event_type, e.v AS value,
             GREATEST(lo.lov, LEAST(hi.hiv, e.v)) AS clipped,
             CAST(GREATEST(lo.lov, LEAST(hi.hiv, e.v)) <> e.v AS BIGINT) AS is_clipped
      FROM e JOIN lo USING (event_type) JOIN hi USING (event_type)
      ORDER BY event_id""")) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
      Stats.winsorize(ev, Seq("event_type"), "event_id", col("v_e2"))
        .orderBy("event_id")
    },

    // ---- q208: quantile normalization — map every value onto the
    // POOLED distribution at its within-group quantile: the
    // batch-effect correction that makes per-source score
    // distributions comparable before mixing (after it, a threshold
    // means the same thing in every source). Min-rank census per
    // group + pooled census lookup, both broadcast — a rank
    // statistic that never ranks corpus rows (the spearman shape).
    Q("q208_quantile_normalize", Some("""
      WITH e AS (SELECT event_id, event_type,
                        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events WHERE value IS NOT NULL),
      c AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM e GROUP BY 1, 2),
      r AS (SELECT event_type, v,
              SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) - cnt + 1 AS minr,
              SUM(cnt) OVER (PARTITION BY event_type) AS ng
            FROM c),
      pc AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS pcnt FROM c GROUP BY 1),
      pr AS (SELECT v AS pv,
               SUM(pcnt) OVER (ORDER BY v) - pcnt + 1 AS plo,
               SUM(pcnt) OVER (ORDER BY v) AS phi
             FROM pc),
      nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM c),
      t AS (SELECT r.event_type, r.v,
              CAST((r.minr - 1) * nn.nn // r.ng + 1 AS BIGINT) AS tr
            FROM r CROSS JOIN nn),
      m AS (SELECT t.event_type, t.v, pr.pv AS qnorm
            FROM t ASOF JOIN pr ON t.tr >= pr.plo)
      SELECT e.event_id, e.event_type, e.v AS value, m.qnorm
      FROM e JOIN m ON m.event_type = e.event_type AND m.v = e.v
      ORDER BY e.event_id""")) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
      Stats.quantileNormalize(ev, Seq("event_type"), "event_id", col("v_e2"))
        .orderBy("event_id")
    },

    // ---- q211: decision-stump split finder — "which value
    // threshold best separates the purchases, and does it drift by
    // weekday?" — the XGBoost-approx/CART split primitive computed
    // entirely on the (phase, value) census: candidate splits are
    // census cells, the maximized Gini-purity score carries as the
    // exact integer S_e9 (weighted impurity = n − S, pure split
    // reads S_e9 = n·10⁹), ties break toward the smallest split
    // value on both engines.
    Q("q211_best_split", Some("""
      WITH e AS (SELECT (epoch_ns(ts) // 86400000000000) % 7 AS phase,
                        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
                        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l
                 FROM events WHERE value IS NOT NULL),
      c AS (SELECT phase, v, CAST(COUNT(*) AS BIGINT) AS cc,
                   CAST(SUM(l) AS BIGINT) AS cp
            FROM e GROUP BY 1, 2),
      s AS (SELECT phase, v,
              SUM(cc) OVER w AS nl, SUM(cp) OVER w AS pl,
              SUM(cc) OVER wa AS ng, SUM(cp) OVER wa AS pg
            FROM c
            WINDOW w AS (PARTITION BY phase ORDER BY v),
                   wa AS (PARTITION BY phase)),
      sc AS (SELECT phase, v, nl, ng - nl AS nr, pl, ng, pg,
               CAST((((CAST(pl AS HUGEINT) * pl
                       + CAST(nl - pl AS HUGEINT) * (nl - pl)) * (ng - nl)
                     + (CAST(pg - pl AS HUGEINT) * (pg - pl)
                        + CAST((ng - nl) - (pg - pl) AS HUGEINT)
                          * ((ng - nl) - (pg - pl))) * nl)
                     * 1000000000) // (nl * (ng - nl)) AS BIGINT) AS s9
             FROM s WHERE nl < ng)
      SELECT CAST(phase AS BIGINT) AS phase, v AS split_v,
             CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
             CAST(pl AS BIGINT) AS pos_left, CAST(ng AS BIGINT) AS n,
             CAST(pg AS BIGINT) AS pos, s9 AS score_e9
      FROM sc
      QUALIFY row_number() OVER (PARTITION BY phase ORDER BY s9 DESC, v ASC) = 1
      ORDER BY phase""")) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(pmod(expr("ts div 86400000000000"), lit(7L)).as("phase"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"),
          (col("event_type") === "purchase").cast("long").as("l"))
      Stats.bestSplit(ev, Seq("phase"), col("v_e2"), col("l"))
        .orderBy("phase")
    },

    // ---- q212: Population Stability Index — the scorecard-industry
    // drift convention (0.1/0.25 action bands) closing the drift
    // family: chi2 (q126) weights squared gaps, KS/CvM (q194/q199)
    // read CDFs, JSD (q167) is symmetric-entropy; PSI is the signed
    // relative-entropy sum practitioners actually threshold.
    // Weekday/weekend per event_type over 64 value bins, add-one
    // smoothing over occupied bins, gap at 1e-6 × ratio-log in
    // 1/16-bit log2 units — all exact integers (PSI_nats =
    // psi_fp·ln2/16e6 consumer-side; the flog2q floor note applies).
    Q("q212_psi", Some(s"""
      WITH e AS (SELECT event_type,
                   CASE WHEN (epoch_ns(ts) // 86400000000000) % 7 >= 5
                        THEN 1 ELSE 0 END AS sb,
                   LEAST(CAST(FLOOR(value / 8) AS BIGINT), 63) AS bin
                 FROM events
                 WHERE value IS NOT NULL AND ts IS NOT NULL),
      c AS (SELECT event_type, bin,
              SUM(CASE WHEN sb = 0 THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN sb = 1 THEN 1 ELSE 0 END) AS cb
            FROM e GROUP BY 1, 2),
      g AS (SELECT event_type, ca, cb,
              SUM(ca) OVER w AS na, SUM(cb) OVER w AS nb,
              COUNT(*) OVER w AS bins
            FROM c WINDOW w AS (PARTITION BY event_type)),
      t AS (SELECT event_type, na, nb, bins,
              ca + 1 AS sa, cb + 1 AS sb2, na + bins AS da, nb + bins AS db
            FROM g),
      u AS (SELECT event_type, na, nb, bins,
              CAST(((CAST(sa AS HUGEINT) * db - CAST(sb2 AS HUGEINT) * da)
                    * 1000000) // (da * db) AS BIGINT) AS q,
              (${graft.operators.Curation.flog2qSql("sa * db")}
               - ${graft.operators.Curation.flog2qSql("sb2 * da")}) AS dlog
            FROM t)
      SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
             CAST(MAX(nb) AS BIGINT) AS n_b,
             CAST(MAX(bins) AS BIGINT) AS n_bins,
             CAST(SUM(q * dlog) AS BIGINT) AS psi_fp
      FROM u GROUP BY 1
      HAVING MAX(na) > 0 AND MAX(nb) > 0
      ORDER BY event_type""")) { (s, d) =>
      // ts IS NOT NULL on BOTH sides: the oracle's CASE buckets a
      // null-ts row into sample A while the Spark side's null in_b
      // is dropped by psiDrift (r14 ADVICE guard).
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          (pmod(expr("ts div 86400000000000"), lit(7L)) >= 5L).as("in_b"),
          least(floor(col("value") / lit(8d)), lit(63d)).cast("long").as("bin"))
      Stats.psiDrift(ev, Seq("event_type"), col("in_b"), col("bin"))
        .orderBy("event_type")
    },

    // ---- q223: delete-one-day jackknife CI — the RNG-free
    // uncertainty bar for the drift tier's point estimates (q194's
    // KS says "did it change?"; this says "±how much is the mean
    // even KNOWN?"): per event_type, the jackknife variance of the
    // mean e4-value over daily leave-one-out replicates, every step
    // an exact integer (a bootstrap's random resamples could never
    // hash-gate; the jackknife is a deterministic function of the
    // day census). θq = e9-quantized replicate mean via ONE integral
    // division; var_e6 = ((d−1)(d·Σθq² − (Σθq)²)) div (d²·1e12) —
    // fused: a `div d²` intermediate is ~1e23, past BIGINT.
    Q("q223_jackknife_ci", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS ni,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS si
                 FROM events
                 WHERE value IS NOT NULL AND ts IS NOT NULL
                 GROUP BY 1, 2),
      g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d,
                   CAST(SUM(ni) AS BIGINT) AS n,
                   CAST(SUM(si) AS BIGINT) AS s
            FROM b GROUP BY 1),
      r AS (SELECT b.event_type,
                   (CAST(g.s - b.si AS HUGEINT) * 100000) // (g.n - b.ni) AS thq
            FROM b JOIN g USING (event_type) WHERE g.d >= 2),
      a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d,
                   SUM(thq) AS sth,
                   SUM(CAST(thq AS HUGEINT) * thq) AS sth2
            FROM r GROUP BY 1)
      SELECT a.event_type, a.d, g.n,
             CAST(a.sth // a.d AS BIGINT) AS theta_bar_q,
             CAST(((a.d - 1) * (a.d * a.sth2 - a.sth * a.sth))
                  // (CAST(a.d AS HUGEINT) * a.d * 1000000000000) AS BIGINT) AS jk_var_e6
      FROM a JOIN g USING (event_type)
      ORDER BY a.event_type""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
      Stats.jackknifeMeanVar(ev, Seq("event_type"),
          expr("ts div 86400000000000"),
          floor(col("value") * lit(10000d) + lit(0.5d)))
        .orderBy("event_type")
    },

    // ---- q227: v-optimal histogram — the k=4 segmentation of the
    // value census that MINIMIZES total within-segment SSE (Jagadish
    // et al., VLDB '98 — the histogram an optimizer wants), solved
    // EXACTLY by the O(k·B²) census-space DP; the optimal
    // counterpart to q189's greedy splits and q139's equi-depth
    // convenience cuts. Interval costs are truncated exact rationals
    // over decimal prefix sums, the min-plus ties break to the
    // smallest split, and the backtrack is deterministic — the full
    // segment table hash-gates (oracle = the DP unrolled: cells →
    // 4 argmin layers → 4 backtrack CTEs).
    Q("q227_voptimal_hist", Some(voptimalOracleSql(4))) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      Stats.vOptimalHist(ev,
          least(floor(col("value") / lit(8d)), lit(63d)),
          floor(col("value") * lit(100d) + lit(0.5d)), k = 4)
        .orderBy("segment")
    },

    // ---- q165: seasonal-baseline anomaly report — seasonality-aware
    // where q138's MAD is global and q155's CUSUM is directional:
    // each hour bucket compares against the mean of its own
    // hour-of-day slot, kept as the exact rational num/den pair; the
    // anomaly test multiplies through by den so no division ever
    // rounds a comparison. One bucket census shuffle + one
    // slot-profile agg over buckets + a broadcast join back.
    Q("q165_seasonal_baseline", Some("""
      WITH b AS (SELECT epoch_ns(ts) // 3600000000000 AS bucket,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM events GROUP BY 1),
      s AS (SELECT *, bucket % 24 AS slot FROM b),
      p AS (SELECT slot, CAST(SUM(n) AS BIGINT) AS num,
                   CAST(COUNT(*) AS BIGINT) AS den FROM s GROUP BY 1)
      SELECT s.bucket, s.slot, s.n,
             CAST(num * 10000 // den AS BIGINT) AS profile_e4,
             CAST((n * den - num) * 10000 // den AS BIGINT) AS resid_e4,
             ABS(n * den - num) * 10 > num * 5 AS anomalous
      FROM s JOIN p USING (slot) ORDER BY bucket""")) { (s, d) =>
      graft.operators.Temporal.seasonalBaseline(
          Tables.events(s, d), "ts", bucketNs = 3600000000000L, period = 24)
        .orderBy("bucket")
    },

    // ---- q185: classical additive seasonal decomposition — the
    // trend/seasonal/residual split q165's profile scoring stops
    // short of: per event type over daily buckets, trend = centered
    // 7-bucket moving average (null at edges and across gaps — the
    // window must hold 7 CONSECUTIVE observed buckets), seasonal =
    // per-weekday integer mean of the detrended series, residual =
    // the rest. Everything is exact fixed-point (v_e4 sums, integer
    // DIV), so all four series hash-gate bit-for-bit. Engine: one
    // census aggregate, a per-key window over census rows (bounded
    // by keys × calendar AND by the Stats.census fail-fast), one
    // broadcast phase-profile re-attach.
    Q("q185_seasonal_decompose", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      w AS (SELECT *,
              COUNT(*) OVER win AS cnt,
              MAX(bucket) OVER win - MIN(bucket) OVER win AS span,
              CAST(SUM(v_e4) OVER win AS BIGINT) AS wsum
            FROM b
            WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      t AS (SELECT event_type, bucket, v_e4,
              CASE WHEN cnt = 7 AND span = 6 THEN wsum // 7 END AS trend_e4
            FROM w),
      p AS (SELECT event_type AS p_et, bucket % 7 AS phase,
              CAST(SUM(v_e4 - trend_e4) AS BIGINT) AS dsum,
              CAST(COUNT(*) AS BIGINT) AS dcnt
            FROM t WHERE trend_e4 IS NOT NULL GROUP BY 1, 2)
      SELECT t.event_type, t.bucket, t.bucket % 7 AS phase, t.v_e4, t.trend_e4,
             CAST(p.dsum // p.dcnt AS BIGINT) AS seasonal_e4,
             CAST(t.v_e4 - t.trend_e4 - p.dsum // p.dcnt AS BIGINT) AS resid_e4
      FROM t LEFT JOIN p ON p.p_et = t.event_type AND p.phase = t.bucket % 7
      ORDER BY event_type, bucket""")) { (s, d) =>
      Temporal.seasonalDecompose(Tables.events(s, d), Seq("event_type"),
          "ts", col("value"), bucketNs = 86400000000000L, period = 7)
        .orderBy("event_type", "bucket")
    },

    // ---- q186: offline changepoint — split each event type's daily
    // series after the prefix k maximizing |n·S_k − k·S_n| (max
    // deviation of the prefix sum from its linear interpolant — the
    // CUSUM location estimator; q155 is the same statistic as an
    // online alarm). The score is exact DECIMAL(38,0)/HUGEINT
    // arithmetic (a long product would wrap in ANSI-off Spark where
    // DuckDB errors), the argmax one max-of-struct with smallest-k
    // tiebreak, segment means integer DIV. The oracle replays the
    // argmax with a rank window the engine plan never contains.
    Q("q186_changepoint", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      p AS (SELECT *,
              CAST(SUM(v_e4) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_k,
              CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS k
            FROM b),
      tot AS (SELECT event_type AS t_et, CAST(SUM(v_e4) AS BIGINT) AS s_n,
                     CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
      sc AS (SELECT p.event_type, p.bucket, p.k, tot.n, p.s_k, tot.s_n,
               ABS(CAST(tot.n AS HUGEINT) * p.s_k - CAST(p.k AS HUGEINT) * tot.s_n) AS score
             FROM p JOIN tot ON tot.t_et = p.event_type
             WHERE p.k < tot.n),
      best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY score DESC, k ASC) AS rn FROM sc)
      SELECT event_type, bucket AS split_bucket, k AS n_left, n - k AS n_right,
             CAST(s_k // k AS BIGINT) AS left_mean_e4,
             CAST((s_n - s_k) // (n - k) AS BIGINT) AS right_mean_e4,
             CAST((s_n - s_k) // (n - k) - s_k // k AS BIGINT) AS delta_e4
      FROM best WHERE rn = 1 ORDER BY event_type""")) { (s, d) =>
      Temporal.changepoint(Tables.events(s, d), Seq("event_type"),
          "ts", col("value"), bucketNs = 86400000000000L)
        .orderBy("event_type")
    },

    // ---- q189: iterated binary segmentation — q186's CUSUM split
    // applied recursively (depth 2): split each event type's daily
    // series, then split each side again, yielding the realized
    // split tree (seg T, TL, TR; undersized segments produce no
    // row). The oracle replays both levels with rank windows over
    // the same HUGEINT statistic; the engine collects the bounded
    // census once (Stats.census) and runs census-space windows +
    // argmax aggregates per level over the local frame, with
    // broadcast re-attaches.
    Q("q189_binary_segmentation", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      seg0 AS (SELECT event_type, 'T' AS seg, bucket, v_e4 FROM b),
      lvl0 AS (
        WITH p AS (SELECT *, CAST(SUM(v_e4) OVER (PARTITION BY event_type, seg ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_k,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type, seg ORDER BY bucket) AS BIGINT) AS k
              FROM seg0),
        tot AS (SELECT event_type AS t_et, seg AS t_seg, CAST(SUM(v_e4) AS BIGINT) AS s_n,
                       CAST(COUNT(*) AS BIGINT) AS n FROM seg0 GROUP BY 1, 2),
        sc AS (SELECT p.event_type, p.seg, p.bucket, p.k, tot.n, p.s_k, tot.s_n,
                 ABS(CAST(tot.n AS HUGEINT) * p.s_k - CAST(p.k AS HUGEINT) * tot.s_n) AS score
               FROM p JOIN tot ON tot.t_et = p.event_type AND tot.t_seg = p.seg
               WHERE p.k < tot.n),
        best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, seg
                           ORDER BY score DESC, k ASC) AS rn FROM sc)
        SELECT event_type, seg, bucket AS split_bucket, k, n, s_k, s_n
        FROM best WHERE rn = 1),
      seg1 AS (SELECT b.event_type,
                      'T' || CASE WHEN b.bucket <= l.split_bucket THEN 'L' ELSE 'R' END AS seg,
                      b.bucket, b.v_e4
               FROM b JOIN lvl0 l ON l.event_type = b.event_type),
      lvl1 AS (
        WITH p AS (SELECT *, CAST(SUM(v_e4) OVER (PARTITION BY event_type, seg ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_k,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type, seg ORDER BY bucket) AS BIGINT) AS k
              FROM seg1),
        tot AS (SELECT event_type AS t_et, seg AS t_seg, CAST(SUM(v_e4) AS BIGINT) AS s_n,
                       CAST(COUNT(*) AS BIGINT) AS n FROM seg1 GROUP BY 1, 2),
        sc AS (SELECT p.event_type, p.seg, p.bucket, p.k, tot.n, p.s_k, tot.s_n,
                 ABS(CAST(tot.n AS HUGEINT) * p.s_k - CAST(p.k AS HUGEINT) * tot.s_n) AS score
               FROM p JOIN tot ON tot.t_et = p.event_type AND tot.t_seg = p.seg
               WHERE p.k < tot.n),
        best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, seg
                           ORDER BY score DESC, k ASC) AS rn FROM sc)
        SELECT event_type, seg, bucket AS split_bucket, k, n, s_k, s_n
        FROM best WHERE rn = 1),
      allv AS (SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1)
      SELECT event_type, seg, split_bucket, k AS n_left, n - k AS n_right,
             CAST(s_k // k AS BIGINT) AS left_mean_e4,
             CAST((s_n - s_k) // (n - k) AS BIGINT) AS right_mean_e4
      FROM allv ORDER BY event_type, seg""")) { (s, d) =>
      Temporal.binarySegmentation(Tables.events(s, d), Seq("event_type"),
          "ts", col("value"), bucketNs = 86400000000000L, depth = 2)
        .orderBy("event_type", "seg")
    },

    // ---- q190: Theil–Sen robust trend — the median-of-pairwise-
    // slopes estimator beside q71's OLS (one outlier day drags a
    // least-squares line; the pairwise median shrugs off ~29%
    // contamination) over the same daily value census as q185/q186.
    // Exactness: slopes order by their lcm(1..64)-scaled integer
    // form (HUGEINT/DECIMAL(38,0) — never a float division), both
    // medians are lower-middle element picks, and the e4 outputs are
    // integer DIV — representation-independent under slope ties.
    Q("q190_theil_sen", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      pr AS (SELECT a.event_type,
                    b.v_e4 - a.v_e4 AS num, b.bucket - a.bucket AS den,
                    CAST(b.v_e4 - a.v_e4 AS HUGEINT)
                      * (CAST('1182266884102822267511361600' AS HUGEINT)
                         // CAST(b.bucket - a.bucket AS HUGEINT)) AS scaled
             FROM b a JOIN b b ON b.event_type = a.event_type AND b.bucket > a.bucket),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                      ORDER BY scaled, num, den) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS np
            FROM pr),
      m AS (SELECT event_type AS m_et, num, den, np FROM r WHERE rn = (np + 1) // 2),
      resid AS (SELECT b.event_type, b.bucket,
                       b.v_e4 * m.den - m.num * b.bucket AS rs, m.den, m.num, m.np
                FROM b JOIN m ON m.m_et = b.event_type),
      rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY rs, bucket) AS rn,
                    COUNT(*) OVER (PARTITION BY event_type) AS n
             FROM resid)
      SELECT event_type, CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pairs,
             CAST(num * 10000 // den AS BIGINT) AS slope_e4,
             CAST(rs * 10000 // den AS BIGINT) AS intercept_e4
      FROM rr WHERE rn = (n + 1) // 2
      ORDER BY event_type""")) { (s, d) =>
      val census = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), expr("ts div 86400000000000").as("bucket"),
          floor(col("value") * lit(10000d) + lit(0.5d)).cast("long").as("v_e4"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("v_e4")).as("v_e4"))
      Stats.theilSen(census, Seq("event_type"), col("bucket"), col("v_e4"))
        .orderBy("event_type")
    },

    // ---- q191: Mann–Kendall trend test — q190's classical partner
    // (MK: is there a monotone trend; Theil–Sen: how steep), on the
    // same daily census. s_stat is the exact pair sign sum; var18 is
    // 18× the tie-corrected variance, kept as an exact integer so
    // the gate needs no sqrt (the z-score is one consumer-side
    // step).
    Q("q191_mann_kendall", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      s AS (SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.v_e4 > a.v_e4 THEN 1
                                 WHEN b.v_e4 < a.v_e4 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
            FROM b a JOIN b b ON b.event_type = a.event_type AND b.bucket > a.bucket
            GROUP BY 1),
      n AS (SELECT event_type AS n_et, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
      t AS (SELECT event_type AS t_et,
                   CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
            FROM (SELECT event_type, v_e4, CAST(COUNT(*) AS BIGINT) AS t
                  FROM b GROUP BY 1, 2) GROUP BY 1)
      SELECT s.event_type, n.n, s.s_stat,
             CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS BIGINT) AS var18
      FROM s JOIN n ON n.n_et = s.event_type JOIN t ON t.t_et = s.event_type
      ORDER BY event_type""")) { (s, d) =>
      val census = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), expr("ts div 86400000000000").as("bucket"),
          floor(col("value") * lit(10000d) + lit(0.5d)).cast("long").as("v_e4"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("v_e4")).as("v_e4"))
      Stats.mannKendall(census, Seq("event_type"), col("bucket"), col("v_e4"))
        .orderBy("event_type")
    },

    // ---- q192: Seasonal Kendall (Hirsch–Slack) — q191's Mann-
    // Kendall run WITHIN each weekday season and summed (S' = Σ S_g,
    // Var' = Σ Var_g, the standard independent-seasons form): the
    // trend test that doesn't mistake weekly seasonality for trend.
    // Pure composition: Stats.mannKendall over (event_type, phase)
    // keys, one aggregate over the per-season rows. Single-point
    // seasons have no pair and drop from both n and n_seasons
    // (mirrored by the oracle's inner joins).
    Q("q192_seasonal_kendall", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   (epoch_ns(ts) // 86400000000000) % 7 AS phase,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
      s AS (SELECT a.event_type, a.phase,
                   CAST(SUM(CASE WHEN b.v_e4 > a.v_e4 THEN 1
                                 WHEN b.v_e4 < a.v_e4 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
            FROM b a JOIN b b ON b.event_type = a.event_type AND b.phase = a.phase
                             AND b.bucket > a.bucket
            GROUP BY 1, 2),
      n AS (SELECT event_type AS n_et, phase AS n_ph, CAST(COUNT(*) AS BIGINT) AS n
            FROM b GROUP BY 1, 2),
      t AS (SELECT event_type AS t_et, phase AS t_ph,
                   CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
            FROM (SELECT event_type, phase, v_e4, CAST(COUNT(*) AS BIGINT) AS t
                  FROM b GROUP BY 1, 2, 3) GROUP BY 1, 2),
      per AS (SELECT s.event_type, s.phase, n.n, s.s_stat,
                     CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS BIGINT) AS var18
              FROM s JOIN n ON n.n_et = s.event_type AND n.n_ph = s.phase
                     JOIN t ON t.t_et = s.event_type AND t.t_ph = s.phase)
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_seasons,
             CAST(SUM(s_stat) AS BIGINT) AS s_stat,
             CAST(SUM(var18) AS BIGINT) AS var18
      FROM per GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val census = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), expr("ts div 86400000000000").as("bucket"),
          pmod(expr("ts div 86400000000000"), lit(7L)).as("phase"),
          floor(col("value") * lit(10000d) + lit(0.5d)).cast("long").as("v_e4"))
        .groupBy(col("event_type"), col("bucket"), col("phase"))
        .agg(sum(col("v_e4")).as("v_e4"))
      Stats.mannKendall(census, Seq("event_type", "phase"),
          col("bucket"), col("v_e4"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), count(lit(1)).as("n_seasons"),
          sum(col("s_stat")).as("s_stat"), sum(col("var18")).as("var18"))
        .orderBy("event_type")
    },

    // ---- q193: seasonal-residual anomaly flags — the q73/q112
    // composition pattern applied to the time-series tier: q185's
    // decomposition strips trend + weekday seasonality, then q138's
    // MAD machinery flags the days whose RESIDUAL is anomalous —
    // "weird for a Monday", where raw-value thresholds (q109/q138
    // alone) would flag every busy weekday. Edge/gap days (null
    // trend → null residual) drop via madOutliers' own null filter.
    // Everything downstream of the census is exact (fixed-point
    // residuals, element-pick medians), so the composed frame
    // hash-gates end-to-end.
    Q("q193_seasonal_anomaly", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      w AS (SELECT *,
              COUNT(*) OVER win AS cnt,
              MAX(bucket) OVER win - MIN(bucket) OVER win AS span,
              CAST(SUM(v_e4) OVER win AS BIGINT) AS wsum
            FROM b
            WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      t AS (SELECT event_type, bucket, v_e4,
              CASE WHEN cnt = 7 AND span = 6 THEN wsum // 7 END AS trend_e4
            FROM w),
      p AS (SELECT event_type AS p_et, bucket % 7 AS phase,
              CAST(SUM(v_e4 - trend_e4) AS BIGINT) AS dsum,
              CAST(COUNT(*) AS BIGINT) AS dcnt
            FROM t WHERE trend_e4 IS NOT NULL GROUP BY 1, 2),
      e AS (SELECT t.event_type, t.bucket,
                   CAST(t.v_e4 - t.trend_e4 - p.dsum // p.dcnt AS DOUBLE) AS v
            FROM t JOIN p ON p.p_et = t.event_type AND p.phase = t.bucket % 7
            WHERE t.trend_e4 IS NOT NULL),
      m AS (SELECT event_type, v AS med FROM (
              SELECT event_type, v,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM e) WHERE rn = (n + 1) // 2),
      d AS (SELECT e.event_type, e.bucket, e.v, m.med, abs(e.v - m.med) AS dev
            FROM e JOIN m USING (event_type)),
      md AS (SELECT event_type, dev AS mad FROM (
               SELECT event_type, dev,
                      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM d) WHERE rn = (n + 1) // 2)
      SELECT d.bucket, d.event_type, d.v, d.med, md.mad,
             CAST(d.dev > 5.0 * md.mad AS BIGINT) AS is_outlier
      FROM d JOIN md USING (event_type)
      ORDER BY event_type, bucket""")) { (s, d) =>
      val dec = Temporal.seasonalDecompose(Tables.events(s, d),
        Seq("event_type"), "ts", col("value"),
        bucketNs = 86400000000000L, period = 7)
      Stats.madOutliers(dec, Seq("event_type"), "bucket", col("resid_e4"))
        .orderBy("event_type", "bucket")
    },

    // ---- q194: two-sample Kolmogorov–Smirnov distance — the
    // binning-free distribution-drift test beside q126's chi2
    // (binned, pooled-reference) and q178's Wasserstein (transport):
    // weekday vs weekend per-event value distributions per
    // event_type, statistic kept in exact integer form
    // d_num = max_v |cumA(v)·n_b − cumB(v)·n_a| so the gate needs no
    // division (D = d_num/(n_a·n_b) is one consumer-side step).
    // Scale shape: one (group, value) census (e2 quantization bounds
    // cells by value range; Stats.census fail-fasts), prefix sums
    // on the driver over census rows only — corpus rows never enter
    // a window.
    Q("q194_ks_two_sample", Some("""
      WITH e AS (SELECT event_type,
                   CASE WHEN (epoch_ns(ts) // 86400000000000) % 7 >= 5
                        THEN 1 ELSE 0 END AS sb,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      c AS (SELECT event_type, v,
              SUM(CASE WHEN sb = 0 THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN sb = 1 THEN 1 ELSE 0 END) AS cb
            FROM e GROUP BY 1, 2),
      cum AS (SELECT event_type,
                SUM(ca) OVER (PARTITION BY event_type ORDER BY v) AS cuma,
                SUM(cb) OVER (PARTITION BY event_type ORDER BY v) AS cumb,
                SUM(ca) OVER (PARTITION BY event_type) AS na,
                SUM(cb) OVER (PARTITION BY event_type) AS nb
              FROM c)
      SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
             CAST(MAX(nb) AS BIGINT) AS n_b,
             CAST(MAX(ABS(cuma * nb - cumb * na)) AS BIGINT) AS d_num
      FROM cum GROUP BY 1
      HAVING MAX(na) > 0 AND MAX(nb) > 0
      ORDER BY event_type""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          (pmod(expr("ts div 86400000000000"), lit(7L)) >= 5L).as("in_b"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
      Stats.ksTwoSample(ev, Seq("event_type"), col("in_b"), col("v_e2"))
        .orderBy("event_type")
    },

    // ---- q195: Cliff's delta — q194's effect-size partner (KS:
    // "did the shape change?"; δ: "which sample stochastically
    // dominates, and by how much?"), split by user parity per
    // event_type. delta_num = #(a>b) − #(a<b) over cross pairs,
    // computed census-side without the quadratic pair join (per A
    // cell: B-below = cumB − cB, B-above = n_b − cumB). Exact
    // integers end to end; δ = delta_num/(n_a·n_b) consumer-side.
    Q("q195_cliffs_delta", Some("""
      WITH e AS (SELECT event_type, user_id % 2 AS sb,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events
                 WHERE value IS NOT NULL AND user_id IS NOT NULL
                   AND user_id >= 0),
      c AS (SELECT event_type, v,
              SUM(CASE WHEN sb = 0 THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN sb = 1 THEN 1 ELSE 0 END) AS cb
            FROM e GROUP BY 1, 2),
      cum AS (SELECT event_type, ca, cb,
                SUM(cb) OVER (PARTITION BY event_type ORDER BY v) AS cumb,
                SUM(ca) OVER (PARTITION BY event_type) AS na,
                SUM(cb) OVER (PARTITION BY event_type) AS nb
              FROM c)
      SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
             CAST(MAX(nb) AS BIGINT) AS n_b,
             CAST(SUM(ca * ((cumb - cb) - (nb - cumb))) AS BIGINT) AS delta_num
      FROM cum GROUP BY 1
      HAVING MAX(na) > 0 AND MAX(nb) > 0
      ORDER BY event_type""")) { (s, d) =>
      // user_id >= 0 on BOTH sides: DuckDB's % is sign-of-dividend
      // while pmod is non-negative, so a negative id would land in
      // different samples per engine. Guarded rather than emulated —
      // test ids are non-negative, but a dataset regen must not be
      // able to silently break hash parity (r14 ADVICE).
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("user_id").isNotNull &&
          col("user_id") >= 0)
        .select(col("event_type"),
          (pmod(col("user_id"), lit(2L)) === 1L).as("in_b"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
      Stats.cliffsDelta(ev, Seq("event_type"), col("in_b"), col("v_e2"))
        .orderBy("event_type")
    },

    // ---- q196: Hodges–Lehmann shift — the robust "HOW BIG is the
    // weekend effect" location estimate beside q195's "how
    // consistent": median of all pairwise (weekday − weekend)
    // differences of the daily v_e4 census per event_type. The pick
    // is the lower-middle element of the WEIGHTED pairwise-diff
    // multiset (cumweight crosses (N+1) div 2, N = n_a·n_b — the
    // theilSen convention), and only the diff VALUE is emitted, so
    // the frame is representation-independent under ties.
    Q("q196_hl_shift", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   ((epoch_ns(ts) // 86400000000000) % 7 >= 5) AS wk,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events
                 WHERE value IS NOT NULL AND ts IS NOT NULL
                 GROUP BY 1, 2, 3),
      a AS (SELECT event_type, v_e4 AS va, CAST(COUNT(*) AS BIGINT) AS ca
            FROM b WHERE NOT wk GROUP BY 1, 2),
      bb AS (SELECT event_type, v_e4 AS vb, CAST(COUNT(*) AS BIGINT) AS cb
             FROM b WHERE wk GROUP BY 1, 2),
      t AS (SELECT event_type,
              CAST(SUM(CASE WHEN wk THEN 0 ELSE 1 END) AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN wk THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM b GROUP BY 1),
      p AS (SELECT a.event_type, a.va - bb.vb AS diff, a.va, a.ca * bb.cb AS w
            FROM a JOIN bb ON bb.event_type = a.event_type),
      cum AS (SELECT event_type, diff, w,
                SUM(w) OVER (PARTITION BY event_type ORDER BY diff, va) AS cumw,
                SUM(w) OVER (PARTITION BY event_type) AS tw
              FROM p)
      SELECT c.event_type, t.n_a, t.n_b, CAST(c.diff AS BIGINT) AS shift
      FROM cum c JOIN t ON t.event_type = c.event_type
      WHERE c.cumw >= (c.tw + 1) // 2 AND c.cumw - c.w < (c.tw + 1) // 2
      ORDER BY c.event_type""")) { (s, d) =>
      // ts IS NOT NULL on BOTH sides: the oracle's CASE would count a
      // null-ts daily row into n_a while the Spark side's null in_b
      // is dropped by hodgesLehmannShift (r14 ADVICE guard).
      val daily = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), expr("ts div 86400000000000").as("bucket"),
          floor(col("value") * lit(10000d) + lit(0.5d)).cast("long").as("v_e4"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("v_e4")).as("v_e4"))
        .withColumn("in_b", pmod(col("bucket"), lit(7L)) >= 5L)
      Stats.hodgesLehmannShift(daily, Seq("event_type"), col("in_b"), col("v_e4"))
        .orderBy("event_type")
    },

    // ---- q197: Wald–Wolfowitz runs test — "is the daily series
    // RANDOM around its median, or does it cluster/oscillate?" — the
    // sequence-randomness diagnostic the trend tests (q191) can't
    // see (a zero-slope series can still alternate or clump). Daily
    // v_e4 census per event_type, dichotomized at the exact
    // lower-middle median pick, median-equal days dropped (the
    // standard treatment); n_above/n_below/runs are exact integers
    // and the z-score vs E[R] is one consumer-side step.
    Q("q197_runs_test", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events
                 WHERE value IS NOT NULL AND ts IS NOT NULL
                 GROUP BY 1, 2),
      m AS (SELECT event_type, v_e4 AS med FROM (
              SELECT event_type, v_e4,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v_e4) AS rn,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM b) WHERE rn = (n + 1) // 2),
      n0 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
      s AS (SELECT b.event_type, b.bucket,
                   CASE WHEN b.v_e4 > m.med THEN 1 ELSE 0 END AS sgn
            FROM b JOIN m USING (event_type) WHERE b.v_e4 <> m.med),
      r AS (SELECT event_type, sgn,
                   LAG(sgn) OVER (PARTITION BY event_type ORDER BY bucket) AS prev
            FROM s)
      SELECT r.event_type, n0.n,
             CAST(SUM(sgn) AS BIGINT) AS n_above,
             CAST(SUM(1 - sgn) AS BIGINT) AS n_below,
             CAST(SUM(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM r JOIN n0 ON n0.event_type = r.event_type
      GROUP BY 1, 2 ORDER BY 1""")) { (s, d) =>
      // ts IS NOT NULL on BOTH sides: a null bucket would order
      // NULLS FIRST in Spark's LAG but NULLS LAST in DuckDB's,
      // flipping the run count (r14 ADVICE guard).
      val daily = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), expr("ts div 86400000000000").as("bucket"),
          floor(col("value") * lit(10000d) + lit(0.5d)).cast("long").as("v_e4"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("v_e4")).as("v_e4"))
      Stats.runsTest(daily, Seq("event_type"), col("bucket"), col("v_e4"))
        .orderBy("event_type")
    },

    // ---- q198: autocorrelation function at lags 1..7 — the
    // seasonality/persistence diagnostic closing the time-series
    // tier (q191 asks "is it drifting?", the ACF asks "does it echo
    // itself, and at what period?" — a weekly cycle reads as an
    // acf_e6 peak at lag 7). n-scaled integer form: dev = n·y − Σy
    // keeps the mean's division out, acf_e6 = (Σ dev·dev_lag · 10⁶)
    // div (Σ dev²) is one integer division with identical
    // truncation-toward-zero semantics on both engines. Daily e2
    // census per event_type; pairs join on bucket + k so calendar
    // gaps pair only true k-step-apart days.
    Q("q198_autocorr", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(v) AS BIGINT) AS s FROM b GROUP BY 1),
      d AS (SELECT b.event_type, b.bucket, st.n * b.v - st.s AS dev
            FROM b JOIN st USING (event_type)),
      den AS (SELECT event_type, SUM(CAST(dev AS HUGEINT) * dev) AS den
              FROM d GROUP BY 1 HAVING SUM(CAST(dev AS HUGEINT) * dev) > 0),
      nm AS (SELECT a.event_type, l.lag_k,
                    SUM(CAST(a.dev AS HUGEINT) * c.dev) AS num,
                    CAST(COUNT(*) AS BIGINT) AS n_pairs
             FROM d a
             CROSS JOIN (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS lag_k) l
             JOIN d c ON c.event_type = a.event_type
                     AND c.bucket = a.bucket + l.lag_k
             GROUP BY 1, 2)
      SELECT nm.event_type, CAST(nm.lag_k AS BIGINT) AS lag_k, st.n,
             nm.n_pairs,
             CAST((nm.num * 1000000) // den.den AS BIGINT) AS acf_e6
      FROM nm JOIN den USING (event_type) JOIN st USING (event_type)
      ORDER BY event_type, lag_k""")) { (s, d) =>
      val daily = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), expr("ts div 86400000000000").as("bucket"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("v_e2")).as("v"))
      Stats.autocorr(daily, Seq("event_type"), col("bucket"), col("v"), maxLag = 7)
        .orderBy("event_type", "lag_k")
    },

    // ---- q199: two-sample Cramér–von Mises — q194's integral-form
    // partner (KS reads the one largest CDF gap; CvM sums SQUARED
    // gaps over every pooled observation, so diffuse drift that
    // never opens one big gap still registers), split by WEEK PARITY
    // per event_type — alternating-week temporal drift, a third
    // split axis beside q194's weekday/weekend and q195's user
    // parity. Gap quantization at 1e-6 is part of the operator's
    // definition (the flog2q precedent), so the frame hash-gates.
    Q("q199_cvm_two_sample", Some("""
      WITH e AS (SELECT event_type,
                   CASE WHEN ((epoch_ns(ts) // 86400000000000) // 7) % 2 = 1
                        THEN 1 ELSE 0 END AS sb,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events
                 WHERE value IS NOT NULL AND ts IS NOT NULL),
      c AS (SELECT event_type, v,
              SUM(CASE WHEN sb = 0 THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN sb = 1 THEN 1 ELSE 0 END) AS cb
            FROM e GROUP BY 1, 2),
      cum AS (SELECT event_type, ca, cb,
                SUM(ca) OVER (PARTITION BY event_type ORDER BY v) AS cuma,
                SUM(cb) OVER (PARTITION BY event_type ORDER BY v) AS cumb,
                SUM(ca) OVER (PARTITION BY event_type) AS na,
                SUM(cb) OVER (PARTITION BY event_type) AS nb
              FROM c),
      g AS (SELECT event_type, ca, cb, na, nb,
              (CAST(cuma * nb - cumb * na AS HUGEINT) * 1000000) // (na * nb) AS gq
            FROM cum)
      SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
             CAST(MAX(nb) AS BIGINT) AS n_b,
             CAST(SUM((ca + cb) * gq * gq) // (MAX(na) + MAX(nb)) AS BIGINT) AS cvm_e12
      FROM g GROUP BY 1
      HAVING MAX(na) > 0 AND MAX(nb) > 0
      ORDER BY event_type""")) { (s, d) =>
      // ts IS NOT NULL on BOTH sides: the oracle's CASE buckets a
      // null-ts row into sample A while the Spark side's null in_b
      // is dropped by the operator (r14 ADVICE guard).
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          (pmod(expr("(ts div 86400000000000) div 7"), lit(2L)) === 1L).as("in_b"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
      Stats.cvmTwoSample(ev, Seq("event_type"), col("in_b"), col("v_e2"))
        .orderBy("event_type")
    },

    // ---- q200: Kruskal–Wallis rank-sum sufficient statistics — the
    // k-sample "do ANY event types differ in value location?" test
    // generalizing the pairwise two-sample tier: exact doubled
    // mid-rank sums over the POOLED e2-value ranking (the classAuc
    // identity keeps every rank a long), group sizes, pooled N and
    // the pooled tie term; H's divisions and the chi2 lookup are
    // consumer-side (the mannKendall var18 convention). One pooled
    // census, its prefix sums computed on the driver — corpus rows
    // never rank.
    Q("q200_kruskal_wallis", Some("""
      WITH e AS (SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      j AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
      pv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS nv FROM j GROUP BY 1),
      r AS (SELECT v, 2 * SUM(nv) OVER (ORDER BY v) - nv + 1 AS r2 FROM pv),
      tot AS (SELECT CAST(SUM(nv) AS BIGINT) AS n,
                     CAST(SUM(nv * (nv * nv - 1)) AS BIGINT) AS tie3 FROM pv)
      SELECT j.event_type, CAST(SUM(j.c) AS BIGINT) AS n_g,
             CAST(SUM(j.c * r.r2) AS BIGINT) AS r2sum,
             MAX(tot.n) AS n, MAX(tot.tie3) AS tie3
      FROM j JOIN r USING (v) CROSS JOIN tot
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
      Stats.kruskalWallis(ev, "event_type", col("v_e2"))
        .orderBy("event_type")
    },

    // ---- q201: Kendall tau-b concordance statistics — "does daily
    // VOLUME move with daily VALUE?" per event_type: c_minus_d over
    // all unordered day pairs of (count, value-sum), plus the
    // tie-pair counts tau-b's denominator needs. q191's Mann–Kendall
    // is exactly this with x = time; tau-b is the between-METRICS
    // version where both variables tie freely. All outputs exact
    // integers; τ_b's square root is one consumer-side step.
    Q("q201_kendall_tau", Some("""
      WITH b AS (SELECT event_type,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v_e4
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      s AS (SELECT a.event_type,
                   CAST(SUM((CASE WHEN c.cnt > a.cnt THEN 1
                                  WHEN c.cnt < a.cnt THEN -1 ELSE 0 END)
                          * (CASE WHEN c.v_e4 > a.v_e4 THEN 1
                                  WHEN c.v_e4 < a.v_e4 THEN -1 ELSE 0 END)) AS BIGINT)
                     AS c_minus_d
            FROM b a JOIN b c ON c.event_type = a.event_type
                             AND c.bucket > a.bucket
            GROUP BY 1),
      n0 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
      tx AS (SELECT event_type, CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS tie_x
             FROM (SELECT event_type, cnt, CAST(COUNT(*) AS BIGINT) AS t
                   FROM b GROUP BY 1, 2) GROUP BY 1),
      ty AS (SELECT event_type, CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS tie_y
             FROM (SELECT event_type, v_e4, CAST(COUNT(*) AS BIGINT) AS t
                   FROM b GROUP BY 1, 2) GROUP BY 1)
      SELECT s.event_type, n0.n, s.c_minus_d, tx.tie_x, ty.tie_y
      FROM s JOIN n0 USING (event_type) JOIN tx USING (event_type)
             JOIN ty USING (event_type)
      ORDER BY 1""")) { (s, d) =>
      val daily = Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * lit(10000d) + lit(0.5d)).cast("long")).as("v_e4"))
      Stats.kendallTauB(daily, Seq("event_type"), col("bucket"),
          col("cnt"), col("v_e4"))
        .orderBy("event_type")
    },

    // ---- q203: distribution-shape moments — skewness and excess
    // kurtosis per event_type from exact integer power sums over
    // PRE-CENTERED values (w = v − (Σv div n), the exact integer
    // anchor — r14 ADVICE: raw power sums cancel catastrophically
    // for tight distributions far from zero), the profiling columns
    // q125's mean/std stop short of: a ±3σ quality gate behaves very
    // differently on a skewed or heavy-tailed column. Doubles via
    // the q71 recipe — identical closed-form spelling both engines,
    // sqrt correctly rounded (zscore precedent), m2·sqrt(m2) instead
    // of the non-correctly-rounded pow(·,1.5); mean = mu0 + Σw/n.
    Q("q203_moments", Some("""
      WITH e AS (SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
                 FROM events WHERE value IS NOT NULL),
      a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mu0
            FROM e GROUP BY 1),
      s AS (SELECT e.event_type, MAX(a.n) AS n, MAX(a.mu0) AS mu0,
                   SUM(CAST(e.v - a.mu0 AS HUGEINT)) AS sw,
                   SUM(CAST(e.v - a.mu0 AS HUGEINT) * (e.v - a.mu0)) AS sww,
                   SUM(CAST(e.v - a.mu0 AS HUGEINT) * (e.v - a.mu0) * (e.v - a.mu0)) AS swww,
                   SUM(CAST(e.v - a.mu0 AS HUGEINT) * (e.v - a.mu0) * (e.v - a.mu0) * (e.v - a.mu0)) AS swwww
            FROM e JOIN a ON a.event_type IS NOT DISTINCT FROM e.event_type
            GROUP BY 1),
      d AS (SELECT event_type, n, mu0,
                   CAST(sw AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                   CAST(sww AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
                   CAST(swww AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
                   CAST(swwww AS DOUBLE) / CAST(n AS DOUBLE) AS e4
            FROM s),
      mm AS (SELECT event_type, n, mu0, m,
                    e2 - m * m AS m2,
                    e3 - 3.0 * m * e2 + 2.0 * m * m * m AS m3,
                    e4 - 4.0 * m * e3 + 6.0 * m * m * e2 - 3.0 * m * m * m * m AS m4
             FROM d)
      SELECT event_type, n, CAST(mu0 AS DOUBLE) + m AS mean, m2 AS variance,
             CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
             CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis_ex
      FROM mm ORDER BY event_type""")) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") * lit(100d) + lit(0.5d)).cast("long").as("v_e2"))
      Stats.momentStats(ev, Seq("event_type"), col("v_e2"))
        .orderBy("event_type")
    },

    // ---- q204: cross-correlation lead–lag matrix — "does series A
    // LEAD series B, and by how many days?" — one row per UNORDERED
    // pair (lexicographic a < b) of event types' daily e2 series at
    // lags −7..+7; the lag sign covers both directions since
    // ccf(A,B,k) = ccf(B,A,−k) (a ccf peak at positive k means A at
    // t co-moves with B at t+k). Completes the
    // serial-dependence pair: q198's ACF is a series against itself,
    // this is every series against every other. Same n-scaled exact
    // deviations; the emitted ccf = num/√(den_a·den_b) runs in
    // identically-spelled correctly-rounded doubles (scale-invariant,
    // so the per-series n-scalings cancel).
    Q("q204_crosscorr", Some("""
      WITH b AS (SELECT event_type AS s,
                   epoch_ns(ts) // 86400000000000 AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      st AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(v) AS BIGINT) AS sv FROM b GROUP BY 1),
      d AS (SELECT b.s, b.bucket, st.n * b.v - st.sv AS dev
            FROM b JOIN st USING (s)),
      den AS (SELECT s, SUM(CAST(dev AS HUGEINT) * dev) AS den
              FROM d GROUP BY 1
              HAVING SUM(CAST(dev AS HUGEINT) * dev) > 0),
      nm AS (SELECT a.s AS series_a, c.s AS series_b, l.lag_k,
                    SUM(CAST(a.dev AS HUGEINT) * c.dev) AS num,
                    CAST(COUNT(*) AS BIGINT) AS n_pairs
             FROM d a
             CROSS JOIN (SELECT UNNEST([-7, -6, -5, -4, -3, -2, -1, 0,
                                        1, 2, 3, 4, 5, 6, 7]) AS lag_k) l
             JOIN d c ON a.s < c.s AND c.bucket = a.bucket + l.lag_k
             GROUP BY 1, 2, 3)
      SELECT nm.series_a, nm.series_b, CAST(nm.lag_k AS BIGINT) AS lag_k,
             nm.n_pairs,
             CAST(nm.num AS DOUBLE) /
               sqrt(CAST(da.den AS DOUBLE) * CAST(db.den AS DOUBLE)) AS ccf
      FROM nm JOIN den da ON da.s = nm.series_a
              JOIN den db ON db.s = nm.series_b
      ORDER BY series_a, series_b, lag_k""")) { (s, d) =>
      val daily = Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("bucket"))
        .agg(sum(floor(col("value") * lit(100d) + lit(0.5d)).cast("long")).as("v"))
      Stats.crossCorr(daily, "event_type", col("bucket"), col("v"), maxLag = 7)
        .orderBy("series_a", "series_b", "lag_k")
    },

    // ---- q51: backward as-of join — every non-purchase event picks
    // up the latest purchase by the same user at or before its
    // timestamp (feature-store / SCD lookup shape). The Spark side
    // is the union + carry-forward window (one shuffle, partitioned
    // window, each purchase row touched once); the oracle is
    // DuckDB's NATIVE ASOF LEFT JOIN — an independent
    // implementation, so the gate checks semantics, not a mirrored
    // formulation. Purchases are pre-deduped to one row per
    // (user, ts) with max-event-id in both engines because as-of
    // tie-breaking among same-instant snapshots is undefined. Times
    // compare at MICROsecond resolution on both sides: DuckDB reads
    // the parquet TIMESTAMP(NANOS) at micro precision, so the query
    // declares micro semantics rather than letting the engines
    // disagree below it.
    Q("q51_asof_join", Some("""
      WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts
                 FROM events WHERE event_type <> 'purchase'),
      r0 AS (SELECT user_id, epoch_us(ts) AS ts, event_id, value
             FROM events WHERE event_type = 'purchase'),
      r AS (SELECT user_id, ts, MAX(event_id) AS purchase_id,
                   max_by(value, event_id) AS purchase_value
            FROM r0 GROUP BY 1, 2)
      SELECT l.event_id, l.user_id, l.ts, r.purchase_id, r.purchase_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY l.event_id""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("ts", expr("ts div 1000")) // nanos -> micros
      val left = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(struct(col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("ts"),
          col("m.event_id").as("purchase_id"), col("m.value").as("purchase_value"))
      Temporal.asofJoinBackward(left, right, "user_id", "ts",
          payloadCols = Seq("purchase_id", "purchase_value"), prefix = "")
        .orderBy("event_id")
    },

    // ---- q53: point-in-interval (range) join — every click inside
    // any purchase's two-hour attribution window. A raw range join
    // only plans as nested-loop/cartesian; the operator bucketizes
    // (2h buckets = each window explodes into at most 2 copies) so
    // the plan is a hash EQUI-join on the bucket id + exact
    // refinement — PlanSpec pins the absence of nested-loop shapes.
    // The oracle runs the raw non-equi join, fine at gate scale.
    Q("q53_interval_join", Some("""
      WITH p AS (SELECT event_id, epoch_us(ts) AS t
                 FROM events WHERE event_type = 'click'),
      iv AS (SELECT event_id AS purchase_id, epoch_us(ts) AS s,
                    epoch_us(ts) + 7200000000 AS e
             FROM events WHERE event_type = 'purchase')
      SELECT p.event_id, iv.purchase_id
      FROM p JOIN iv ON iv.s <= p.t AND p.t < iv.e
      ORDER BY event_id, purchase_id""")) { (s, d) =>
      val ev = Tables.events(s, d).withColumn("t", expr("ts div 1000"))
      val points = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("t"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("t").as("s"),
          (col("t") + lit(7200000000L)).as("e"))
      Temporal.intervalJoin(points, windows, "t", "s", "e",
          bucketWidth = 7200000000L)
        .select(col("event_id"), col("purchase_id"))
        .orderBy("event_id", "purchase_id")
    },

    // ---- q54: gap-based batch sessionization — per-user sessions
    // cut at >8h of inactivity (the events stream has a ~7.3h median
    // inter-event gap, so the cut is doing real work), aggregated to
    // one row per session. The batch twin of the streaming
    // sessionize; one shuffle on user_id, partitioned windows only.
    // Same-instant ties are handled with a RANGE cumulative frame on
    // both engines (see Temporal.sessionize); sums follow the house
    // decimal-exact pattern.
    Q("q54_sessionize", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
      m AS (SELECT user_id, t, value,
              CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                        <= 28800000000 THEN 0 ELSE 1 END AS is_new
            FROM e),
      s AS (SELECT user_id, t, value,
              SUM(is_new) OVER (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM m)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             MIN(t) AS session_start, MAX(t) AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
      FROM s GROUP BY 1, 2
      ORDER BY user_id, session_idx""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("t"), col("value"))
      Temporal.sessionize(ev, "user_id", "t", gap = 28800000000L)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          min(col("t")).as("session_start"),
          max(col("t")).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,2)")).cast("double").as("sum_value"))
        .orderBy("user_id", "session_idx")
    },

    // ---- q178: exact 1-D Wasserstein distance — each event type's
    // value distribution vs the 'click' baseline, in integer cents:
    // the transport metric JSD can't see (disjoint spikes 1 cent vs
    // 10 dollars apart are identical to JSD; W1 measures how far the
    // mass moves). Closed form sum |cdf diff| * gap over the cents
    // support, exact in DECIMAL(38)/HUGEINT (the q175 convention).
    // One census shuffle; windows run over the support grid only.
    Q("q178_wasserstein", Some("""
      WITH c AS (SELECT event_type AS g,
                        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
                        CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM events WHERE value IS NOT NULL AND NOT isnan(value)
                 GROUP BY 1, 2),
      spine AS (SELECT DISTINCT x FROM c),
      grid AS (SELECT g.g, s.x, COALESCE(c.cnt, 0) AS cnt
               FROM (SELECT DISTINCT g FROM c) g CROSS JOIN spine s
               LEFT JOIN c ON c.g = g.g AND c.x = s.x),
      cum AS (SELECT g, x, SUM(cnt) OVER (PARTITION BY g ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                COALESCE(LEAD(x) OVER (PARTITION BY g ORDER BY x) - x, 0) AS gap
              FROM grid),
      m AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
      b AS (SELECT x, cum AS cumb FROM cum WHERE g = 'click'),
      nb AS (SELECT n AS nbv FROM m WHERE g = 'click')
      SELECT cum.g AS event_type, m.n AS n_rows, nb.nbv AS n_baseline,
             CAST(SUM(ABS(CAST(cum.cum AS HUGEINT) * nb.nbv
                          - CAST(b.cumb AS HUGEINT) * m.n) * cum.gap) * 10000
                  // (CAST(m.n AS HUGEINT) * nb.nbv) AS BIGINT) AS w1_cents_e4
      FROM cum JOIN b ON b.x = cum.x
               JOIN m ON m.g = cum.g
               CROSS JOIN nb
      WHERE cum.g <> 'click'
      GROUP BY cum.g, m.n, nb.nbv
      ORDER BY event_type""")) { (s, d) =>
      graft.operators.Stats.wasserstein1(
          Tables.events(s, d), "event_type", col("value"), baseline = "click")
        .orderBy("event_type")
    },

    // ---- q176: per-user contribution (sensitivity) census — the
    // clipping-bound question a differential-privacy release asks
    // first: per event type, user count, the MAX per-user
    // contribution (worst-case count sensitivity) and the exact p95
    // contribution (the standard clip bound). Scale-clean p95: the
    // per-user census collapses to a contribution HISTOGRAM before
    // any window, so the cumulative runs over distinct values per
    // key, never a per-user global window (for integer cum,
    // cum >= ceil(19n/20) ⟺ 20cum >= 19n).
    Q("q176_contribution_census", Some("""
      WITH uc AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
                  FROM events GROUP BY 1, 2),
      h AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS nu
            FROM uc GROUP BY 1, 2),
      cm AS (SELECT event_type, c, nu,
                    SUM(nu) OVER (PARTITION BY event_type ORDER BY c
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM h),
      t AS (SELECT event_type, CAST(SUM(nu) AS BIGINT) AS n_users,
                   MAX(c) AS max_contrib
            FROM h GROUP BY 1),
      p AS (SELECT cm.event_type, MIN(cm.c) AS p95_contrib
            FROM cm JOIN t ON t.event_type = cm.event_type
            WHERE cm.cum * 20 >= t.n_users * 19
            GROUP BY 1)
      SELECT t.event_type, t.n_users, t.max_contrib, p.p95_contrib
      FROM t JOIN p ON p.event_type = t.event_type
      ORDER BY t.event_type""")) { (s, d) =>
      graft.operators.Curation.contributionCensus(
          Tables.events(s, d), "event_type", "user_id")
        .orderBy("event_type")
    },

    // ---- q175: exact A/B conversion test — per-user heavy-buyer
    // conversion (>= 13 purchases) between user_id-parity cohorts,
    // graded with the
    // 2×2 chi-squared in exact DECIMAL(38)/HUGEINT arithmetic: the
    // significance DECISION hash-gates (a float chi2 near the
    // 3.8415 cutoff could flip engines). One per-user census + one
    // four-way conditional total.
    Q("q175_ab_test", Some("""
      WITH u AS (SELECT user_id, user_id % 2 = 0 AS g,
                        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) >= 13 AS c
                 FROM events GROUP BY user_id),
      t AS (SELECT
              CAST(SUM(CASE WHEN g AND c THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
              CAST(SUM(CASE WHEN g AND NOT c THEN 1 ELSE 0 END) AS BIGINT) AS fail_a,
              CAST(SUM(CASE WHEN NOT g AND c THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
              CAST(SUM(CASE WHEN NOT g AND NOT c THEN 1 ELSE 0 END) AS BIGINT) AS fail_b
            FROM u)
      SELECT conv_a, fail_a, conv_b, fail_b,
             CAST(CASE WHEN (conv_a + fail_a) = 0 OR (conv_b + fail_b) = 0
                         OR (conv_a + conv_b) = 0 OR (fail_a + fail_b) = 0 THEN 0
                  ELSE CAST(conv_a + fail_a + conv_b + fail_b AS HUGEINT)
                       * CAST(conv_a * fail_b - fail_a * conv_b AS HUGEINT)
                       * CAST(conv_a * fail_b - fail_a * conv_b AS HUGEINT)
                       * 10000
                       // (CAST(conv_a + fail_a AS HUGEINT)
                          * (conv_b + fail_b) * (conv_a + conv_b) * (fail_a + fail_b))
                  END AS BIGINT) AS chi2_e4,
             CASE WHEN (conv_a + fail_a) = 0 OR (conv_b + fail_b) = 0
                    OR (conv_a + conv_b) = 0 OR (fail_a + fail_b) = 0 THEN FALSE
                  ELSE CAST(conv_a + fail_a + conv_b + fail_b AS HUGEINT)
                       * CAST(conv_a * fail_b - fail_a * conv_b AS HUGEINT)
                       * CAST(conv_a * fail_b - fail_a * conv_b AS HUGEINT)
                       * 10000
                       // (CAST(conv_a + fail_a AS HUGEINT)
                          * (conv_b + fail_b) * (conv_a + conv_b) * (fail_a + fail_b))
                       >= 38415 END AS significant_05
      FROM t""")) { (s, d) =>
      val users = Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("__conv"))
      graft.operators.Stats.abTestChi2(users,
        pmod(col("user_id"), lit(2L)) === 0L, col("__conv") >= 13L)
    },

    // ---- q169: frequent session-path mining — discover the common
    // first-5 event journeys (q86/q110 CHECK funnels you declare;
    // this finds them). Sessions are q54's 8h-gap windows; the
    // first-N cut is the bounded TopK aggregator (≤5 events per
    // session cross the shuffle — never a hot session's unbounded
    // collect_list); same-instant events order by event_id on both
    // sides. Census + TakeOrdered(20).
    Q("q169_session_paths", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
      m AS (SELECT user_id, t, event_id, event_type,
              CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                        <= 28800000000 THEN 0 ELSE 1 END AS is_new
            FROM e),
      s AS (SELECT user_id, t, event_id, event_type,
              SUM(is_new) OVER (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM m),
      r AS (SELECT user_id, session_idx, event_type,
              row_number() OVER (PARTITION BY user_id, session_idx
                                 ORDER BY t, event_id) AS rn
            FROM s),
      p AS (SELECT user_id, session_idx,
              string_agg(event_type, '>' ORDER BY rn) AS path
            FROM r WHERE rn <= 5 GROUP BY 1, 2)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM p GROUP BY 1
      ORDER BY n_sessions DESC, path
      LIMIT 20""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("t"),
          col("event_id"), col("event_type"))
      Temporal.frequentSessionPaths(ev, "user_id", "t", "event_id",
        "event_type", gap = 28800000000L, pathLen = 5, k = 20)
    },

    // ---- q86: ordered event funnel view → click → purchase per
    // user, over the sparse high-value event subset. Spark runs the
    // greedy sorted-scan fold (one shuffle, step events only); the
    // oracle replays the equivalent chained-minima formulation
    // (t_{i+1} = min t of step i+1 strictly after t_i) — two
    // genuinely different algorithms that must agree exactly,
    // same-instant steps excluded by both.
    Q("q86_event_funnel", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
                 WHERE event_type IN ('view', 'click', 'purchase')
                   AND value >= 100.0),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND t > t1 GROUP BY 1),
      s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND t > t2 GROUP BY 1),
      u AS (SELECT DISTINCT user_id FROM e)
      SELECT u.user_id,
             CAST(CASE WHEN t3 IS NOT NULL THEN 3
                       WHEN t2 IS NOT NULL THEN 2
                       WHEN t1 IS NOT NULL THEN 1
                       ELSE 0 END AS INTEGER) AS steps_completed,
             COALESCE(t3, t2, t1) AS t_complete
      FROM u
      LEFT JOIN s1 USING (user_id)
      LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)
      ORDER BY user_id""")) { (s, d) =>
      // value >= 100 keeps ~10% of step events: per-user step counts
      // drop to ~1 and every stage branch (0/1/2/3) is populated at
      // every SF — unfiltered, the dense streams complete the funnel
      // for every user and the classification never branches.
      val ev = Tables.events(s, d)
        .filter(col("value") >= 100.0d)
        .select(col("user_id"), expr("ts div 1000").as("t"), col("event_type"))
      Temporal.funnel(ev, "user_id", "t", "event_type",
          steps = Seq("view", "click", "purchase"))
        .orderBy("user_id")
    },

    // ---- q110: WINDOWED funnel — q86's journey with a conversion
    // deadline: every later stage must land within 7 days of the
    // chain's first step (the ClickHouse-windowFunnel family,
    // anchored variant — no restart, the chained-minima-replayable
    // policy; see Temporal.windowFunnel). Same value>=100 thinning
    // as q86 so every stage branch is populated; at this window the
    // stage histogram differs sharply from the unwindowed q86
    // (sf0.01: 27/88/32/3 vs 27/51/38/34), so the gate can tell the
    // two operators apart.
    Q("q110_window_funnel", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
                 WHERE event_type IN ('view', 'click', 'purchase')
                   AND value >= 100.0),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, MIN(s1.t1) AS ta, MIN(t) AS t2
             FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND t > s1.t1
               AND t - s1.t1 <= 604800000000 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND t > s2.t2
               AND t - s2.ta <= 604800000000 GROUP BY 1),
      u AS (SELECT DISTINCT user_id FROM e)
      SELECT u.user_id,
             CAST(CASE WHEN t3 IS NOT NULL THEN 3
                       WHEN t2 IS NOT NULL THEN 2
                       WHEN t1 IS NOT NULL THEN 1
                       ELSE 0 END AS INTEGER) AS steps_completed,
             t1 AS t_start,
             COALESCE(t3, t2, t1) AS t_complete
      FROM u
      LEFT JOIN s1 USING (user_id)
      LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)
      ORDER BY user_id""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("value") >= 100.0d)
        .select(col("user_id"), expr("ts div 1000").as("t"), col("event_type"))
      Temporal.windowFunnel(ev, "user_id", "t", "event_type",
          steps = Seq("view", "click", "purchase"), window = 604800000000L)
        .orderBy("user_id")
    },

    // ---- q87: weekly cohort retention triangle — users bucketed by
    // first-seen week, distinct-active counts per (cohort, week
    // offset). Pure integer time math (epoch-micros floor-div), so
    // the gate is exact; one min-agg + one equi-join + one distinct
    // count, output bounded by cohorts × offsets.
    Q("q87_cohort_retention", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p FROM events),
      f AS (SELECT user_id, MIN(p) AS cohort FROM e GROUP BY 1),
      a AS (SELECT DISTINCT e.user_id, f.cohort, e.p - f.cohort AS week_offset
            FROM e JOIN f USING (user_id))
      SELECT cohort, week_offset, COUNT(*) AS n_active
      FROM a GROUP BY 1, 2
      ORDER BY cohort, week_offset""")) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("t"))
      Temporal.cohortRetention(ev, "user_id", "t", periodWidth = 604800000000L)
        .orderBy("cohort", "week_offset")
    },

    // ---- q56: HyperLogLog distinct users per event type, next to
    // the exact count it approximates. The register build is pure
    // integer arithmetic (md5 slice, bin()-length rank, power-of-two
    // scaled harmonic sum), so the oracle replays it exactly; the
    // one float — the raw alpha*m^2/sum estimate — is derived from
    // the exact integer sum through IEEE correctly-rounded ops only,
    // written in the same shape on both engines (constants are
    // round-trip double literals). See Sketches.hyperloglog for why
    // count(DISTINCT) is the wrong state shape at corpus scale.
    Q("q56_hll_distinct", Some {
      val p = 6
      val m = 1 << p
      val low = 60 - p
      val scaleExp = 60 - p + 1
      val cNum = Sketches.hllAlpha(p) * m * m // round-trip literal
      val cDen = (1L << scaleExp).toDouble
      s"""
      WITH h AS (SELECT event_type,
                        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                 FROM events),
      r AS (SELECT event_type, h >> $low AS reg,
              CASE WHEN (h & ((1::BIGINT << $low) - 1)) = 0 THEN ${low + 1}
                   ELSE ${low + 1} - length(bin(h & ((1::BIGINT << $low) - 1)))
              END AS rho
            FROM h),
      mx AS (SELECT event_type, reg, MAX(rho) AS maxrho FROM r GROUP BY 1, 2),
      s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_regs,
              CAST(SUM(1::BIGINT << ($scaleExp - maxrho)) AS BIGINT)
                + ($m - COUNT(*)) * (1::BIGINT << $scaleExp) AS s_scaled
            FROM mx GROUP BY 1),
      ex AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_exact
             FROM events GROUP BY 1)
      SELECT s.event_type, s.n_regs, s.s_scaled,
             $cNum / (CAST(s.s_scaled AS DOUBLE) / $cDen) AS nd_estimate,
             ex.nd_exact
      FROM s JOIN ex ON s.event_type = ex.event_type
      ORDER BY s.event_type"""
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val hll = Sketches.hyperloglog(ev, "user_id", Seq("event_type"), p = 6)
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("nd_exact"))
      hll.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_regs"), col("s_scaled"),
          col("nd_estimate"), col("nd_exact"))
        .orderBy("event_type")
    },

    // ---- q60: fixed-point PageRank — five exact integer iterations
    // over a 512-node interaction graph synthesized from orders
    // (q46's synthesize-the-workload pattern). Every contribution is
    // the floor division (85*r) div (100*outdeg) on scaled-long
    // ranks, so the sums are order-independent and the oracle can
    // unroll the identical recurrence in SQL — a float PageRank
    // would hash differently on every engine (and every shuffle).
    // See Graph.pageRank for the per-iteration join/agg shape and
    // the localCheckpoint lineage cut.
    Q("q60_pagerank", Some {
      val iters = 5
      val scale = 1000000000000L
      val iterCtes = (1 to iters).map { i =>
        s"""pr$i AS (
        SELECT n.node, b.base + COALESCE(c.s, 0) AS r
        FROM nodes n CROSS JOIN b
        LEFT JOIN (SELECT e.dst, CAST(SUM((85 * p.r) // (100 * d.outdeg)) AS BIGINT) AS s
                   FROM e JOIN pr${i - 1} p ON p.node = e.src JOIN deg d ON d.src = e.src
                   GROUP BY e.dst) c ON c.dst = n.node)"""
      }.mkString(",\n      ")
      s"""
      WITH e AS (
        SELECT DISTINCT o_custkey % 512 AS src,
                        (o_custkey * 7 + o_orderkey * 13) % 512 AS dst
        FROM orders
        WHERE o_custkey % 512 <> (o_custkey * 7 + o_orderkey * 13) % 512),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      b AS (SELECT (15 * $scale) // (100 * n) AS base FROM nn),
      pr0 AS (SELECT node, (SELECT $scale // n FROM nn) AS r FROM nodes),
      $iterCtes
      SELECT node, r AS rank_scaled FROM pr$iters ORDER BY node"""
    }) { (s, d) =>
      val edges = Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(512)).as("src"),
          pmod(col("o_custkey") * 7 + col("o_orderkey") * 13, lit(512)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      Graph.pageRank(edges, "src", "dst", iters = 5)
        .orderBy("node")
    },

    // ---- q61: rolling per-user aggregates — 3-event moving sum and
    // count over each user's event stream, the feature-engineering
    // window every behavioral model starts from. ROWS frames demand
    // a TOTAL order to be deterministic, so the sort key is
    // (t, event_id) with the unique id as tiebreak on BOTH engines;
    // the sum rides the house decimal-exact pattern and the average
    // is derived from the exact pieces with one double division.
    // One shuffle on user_id, partitioned window only.
    Q("q61_rolling_window", Some("""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
                        CAST(value AS DECIMAL(28,2)) AS v
                 FROM events),
      w AS (SELECT event_id, user_id, t,
              CAST(SUM(v) OVER win AS DOUBLE) AS roll_sum,
              CAST(COUNT(*) OVER win AS BIGINT) AS roll_n
            FROM e
            WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, t, roll_sum, roll_n,
             roll_sum / roll_n AS roll_avg
      FROM w
      ORDER BY event_id""")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("t"),
          col("value").cast("decimal(28,2)").as("v"))
        .select(col("event_id"), col("user_id"), col("t"),
          sum(col("v")).over(win).cast("double").as("roll_sum"),
          count(lit(1)).over(win).as("roll_n"))
        .withColumn("roll_avg", col("roll_sum") / col("roll_n"))
        .orderBy("event_id")
    },

    // ---- q62: exact per-group percentiles (discrete): the median
    // and p90 event value per event type, picked by integer ordered
    // position with the unique event_id as tiebreak — no
    // interpolation arithmetic, so the selected doubles are row
    // values both engines read identically from parquet. Exact
    // selection inherently sorts within each group (the honest
    // plan); at real corpus scale the sketch path — q72's binned
    // histogram (Sketches.binnedPercentiles) — replaces it, the
    // same way q21 replaces q31.
    Q("q62_percentiles", Some("""
      WITH e AS (SELECT event_type, value, event_id FROM events),
      r AS (SELECT event_type, value,
              CAST(row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS BIGINT) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM e)
      SELECT event_type,
             MAX(CASE WHEN rn - 1 = ((n - 1) * 50) // 100 THEN value END) AS p50,
             MAX(CASE WHEN rn - 1 = ((n - 1) * 90) // 100 THEN value END) AS p90,
             MAX(n) AS n
      FROM r GROUP BY event_type
      ORDER BY event_type""")) { (s, d) =>
      // Census-space pick (the q138/q144 r13 move): a percentile is
      // a rank statistic, so the element at a group rank is decided
      // by the (group, value) → count census alone — the oracle's
      // ROW_NUMBER tiebreak on event_id never changes the VALUE at
      // a rank. No corpus rows ever enter a window sort: the r12
      // shape buffered a whole event_type group (low cardinality —
      // a hot group is the q144 skew cliff) in one task. The census
      // is bounded by CONSTRUCTION (Stats.census fail-fast, r13
      // verdict item 5): on a near-continuous value column the census
      // would approach corpus cardinality; the prefix sums run on the
      // driver over the collected census.
      val census = Stats.census(
        Tables.events(s, d)
          .groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("__c")),
        1L << 20, "q62 (event_type, value) census",
        Stats.CensusSum.running("__cum", "__c", Seq("event_type"), "value"),
        Stats.CensusSum.total("n", "__c", Seq("event_type")))
      def pickAt(target: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        // 0-based rank `target` lives in this census row iff
        // cum − c ≤ target < cum
        max(when(col("__cum") - col("__c") <= target && target < col("__cum"),
          col("value")))
      census
        .groupBy(col("event_type"))
        .agg(
          pickAt(expr("((n - 1) * 50) div 100")).as("p50"),
          pickAt(expr("((n - 1) * 90) div 100")).as("p90"),
          max(col("n")).as("n"))
        .orderBy("event_type")
    },

    // ---- q64: SCD2 history build — each user's purchase log
    // becomes a versioned dimension: half-open [valid_from,
    // valid_to) intervals with null valid_to on the current row, the
    // warehouse table an as-of probe (q51) or interval join (q53)
    // then queries. Total order (t, event_id) makes versions
    // deterministic under same-instant purchases on both engines.
    Q("q64_scd2_history", Some("""
      WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
                 FROM events WHERE event_type = 'purchase')
      SELECT user_id, event_id,
             CAST(row_number() OVER w AS BIGINT) AS version,
             t AS valid_from,
             lead(t) OVER w AS valid_to,
             value
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
      ORDER BY user_id, version""")) { (s, d) =>
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("t"),
          col("value"))
      Temporal.scd2(purchases, "user_id", "t", tieCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("version"),
          col("valid_from"), col("valid_to"), col("value"))
        .orderBy("user_id", "version")
    },

    // ---- q65: interval × interval overlap join — every same-user
    // pair of a 2h purchase-attribution window and a 1h error
    // window that overlap in time. The bucketization keeps the plan
    // an equi-join (bucket + user_id); a pair sharing several
    // buckets survives only in the bucket holding
    // greatest(start_l, start_r) — exactly-once with NO dedup pass
    // (see Temporal.intervalOverlapJoin). The oracle runs the raw
    // non-equi join, fine at gate scale.
    Q("q65_interval_overlap", Some("""
      WITH p AS (SELECT event_id AS purchase_id, user_id,
                        epoch_us(ts) AS ps, epoch_us(ts) + 7200000000 AS pe
                 FROM events WHERE event_type = 'purchase'),
      er AS (SELECT event_id AS error_id, user_id,
                    epoch_us(ts) AS es, epoch_us(ts) + 3600000000 AS ee
             FROM events WHERE event_type = 'error')
      SELECT p.purchase_id, er.error_id, p.user_id
      FROM p JOIN er ON p.user_id = er.user_id AND p.ps < er.ee AND er.es < p.pe
      ORDER BY purchase_id, error_id""")) { (s, d) =>
      val ev = Tables.events(s, d).withColumn("t", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("t").as("ps"), (col("t") + 7200000000L).as("pe"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("t").as("es"), (col("t") + 3600000000L).as("ee"))
      Temporal.intervalOverlapJoin(purchases, errors,
          "ps", "pe", "es", "ee",
          bucketWidth = 7200000000L, extraKeys = Seq("user_id"))
        .select(col("purchase_id"), col("error_id"), col("user_id"))
        .orderBy("purchase_id", "error_id")
    },

    // ---- q66: crawl-frontier URL canonicalization — four raw
    // variants per logical URL (upper-cased host with default port,
    // trailing slash with shuffled query params, fragment, and the
    // already-canonical form) must collapse to ONE canonical key.
    // The oracle does NOT mirror the string surgery: it constructs
    // the canonical form directly from the base columns, so the
    // CanonicalUrl kernel is alone on the gated path — any rule it
    // gets wrong breaks the group-by collapse and flips the hash
    // (the q18 pattern: synthesize, transform with the real kernel,
    // oracle from first principles).
    Q("q66_canonical_url", Some("""
      WITH v AS (SELECT
          'https://shop.example.com/item/' || CAST(o_custkey AS VARCHAR)
            || '?a=1&b=' || CAST(o_custkey % 7 AS VARCHAR) AS url,
          o_orderkey % 4 AS variant
        FROM orders)
      SELECT url, CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(COUNT(DISTINCT variant) AS BIGINT) AS n_variants
      FROM v GROUP BY url
      ORDER BY url""")) { (s, d) =>
      val k = col("o_custkey").cast("string")
      val m = pmod(col("o_custkey"), lit(7)).cast("string")
      val variant = pmod(col("o_orderkey"), lit(4))
      val raw =
        when(variant === 0,
          concat(lit("https://shop.example.com/item/"), k, lit("?a=1&b="), m))
        .when(variant === 1,
          concat(lit("HTTPS://Shop.Example.COM:443/item/"), k, lit("?a=1&b="), m))
        .when(variant === 2,
          concat(lit("https://shop.example.com/item/"), k, lit("/?b="), m, lit("&a=1")))
        .otherwise(
          concat(lit("https://shop.example.com/item/"), k, lit("?a=1&b="), m, lit("#sec")))
      Tables.orders(s, d)
        .select(GraftFunctions.canonical_url(raw).as("url"), raw.as("raw"))
        .groupBy(col("url"))
        .agg(count(lit(1)).as("n_hits"), count_distinct(col("raw")).as("n_variants"))
        .orderBy("url")
    },

    // ---- q112: composed crawl-ingest planner — the reference's
    // crawler front half in ONE lineage (the q73 composition
    // pattern applied to ingest): raw URL variants → CanonicalUrl
    // kernel → frontier dedup by canonical key (hits + variant
    // census) → host extraction (parse_url, on the gated path) →
    // politeness schedule (≤8 per host per round, global batches of
    // 32). One kernel projection, one dedup shuffle, two bounded
    // windows — the oracle builds the canonical form and host from
    // first principles (q66's rule: the kernels sit ALONE on the
    // gated path) and replays the schedule arithmetic.
    Q("q112_ingest_planner", Some("""
      WITH f AS (SELECT
          'https://shop' || CAST(o_custkey % 5 AS VARCHAR) || '.example.com/item/'
            || CAST(o_custkey AS VARCHAR) || '?a=1&b=' || CAST(o_custkey % 7 AS VARCHAR) AS url,
          'shop' || CAST(o_custkey % 5 AS VARCHAR) || '.example.com' AS host,
          o_orderkey, o_orderkey % 4 AS variant
        FROM orders),
      d AS (SELECT url, MIN(host) AS host, MIN(o_orderkey) AS first_seen,
              CAST(COUNT(*) AS BIGINT) AS n_hits,
              CAST(COUNT(DISTINCT variant) AS BIGINT) AS n_variants
            FROM f GROUP BY url),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY host
                                              ORDER BY first_seen) AS BIGINT) AS host_seq
            FROM d),
      r2 AS (SELECT *, (host_seq - 1) // 8 AS round FROM r)
      SELECT url, host, n_hits, n_variants, host_seq, round,
             (CAST(row_number() OVER (PARTITION BY round
                                      ORDER BY host, host_seq) AS BIGINT) - 1) // 32 AS batch
      FROM r2
      ORDER BY url""")) { (s, d) =>
      val k = col("o_custkey").cast("string")
      val m = pmod(col("o_custkey"), lit(7)).cast("string")
      val h = pmod(col("o_custkey"), lit(5)).cast("string")
      val variant = pmod(col("o_orderkey"), lit(4))
      val raw =
        when(variant === 0,
          concat(lit("https://shop"), h, lit(".example.com/item/"), k, lit("?a=1&b="), m))
        .when(variant === 1,
          concat(lit("HTTPS://Shop"), h, lit(".Example.COM:443/item/"), k, lit("?a=1&b="), m))
        .when(variant === 2,
          concat(lit("https://shop"), h, lit(".example.com/item/"), k, lit("/?b="), m, lit("&a=1")))
        .otherwise(
          concat(lit("https://shop"), h, lit(".example.com/item/"), k, lit("?a=1&b="), m, lit("#sec")))
      val frontier = Tables.orders(s, d)
        .select(GraftFunctions.canonical_url(raw).as("url"), raw.as("raw"),
          col("o_orderkey"))
        .groupBy(col("url"))
        .agg(min(col("o_orderkey")).as("first_seen"),
          count(lit(1)).as("n_hits"),
          count_distinct(col("raw")).as("n_variants"))
        .withColumn("host", expr("parse_url(url, 'HOST')"))
      graft.operators.Curation.crawlSchedule(frontier,
          hostCol = "host", orderCol = "first_seen",
          maxPerHost = 8, waveCapacity = 32)
        .select(col("url"), col("host"), col("n_hits"), col("n_variants"),
          col("host_seq"), col("round"), col("batch"))
        .orderBy("url")
    },

    // ---- q71: distributed OLS — per event type, the linear trend
    // of value over time (slope/intercept/r²) from ONE aggregation
    // of exact decimal sufficient statistics; the closed form then
    // runs in correctly-rounded double ops written in the same shape
    // on both engines, so even the floats hash-gate (the q56
    // exactness recipe applied to regression). x is epoch seconds
    // rebased to 2024-01-01 so x² stays small; see Stats.linearFit.
    Q("q71_linreg_trend", Some("""
      WITH e AS (SELECT event_type,
                        CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(12,0)) AS x,
                        CAST(value AS DECIMAL(18,2)) AS y
                 FROM events
                 WHERE ts IS NOT NULL AND value IS NOT NULL),
      s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
              CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(x * y) AS DOUBLE) AS sxy,
              CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM e GROUP BY 1)
      SELECT event_type, n,
             CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
             CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                  THEN (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE) END AS intercept,
             CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 AND CAST(n AS DOUBLE) * syy - sy * sy <> 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
      FROM s
      ORDER BY event_type""")) { (s, d) =>
      val ev = Tables.events(s, d)
      Stats.linearFit(ev, Seq("event_type"),
          expr("ts div 1000000000") - lit(1704067200L), col("value"))
        .select(col("event_type"), col("n"), col("slope"), col("intercept"), col("r2"))
        .orderBy("event_type")
    },

    // ---- q72: approximate percentile SKETCH — the corpus-scale
    // twin q62's doc block promises: exact selection sorts every
    // group's rows, while this fixed-bin scaled histogram reduces
    // the group to O(distinct bins) integer state first (bin =
    // floor(value*4), an exact IEEE scaling both engines compute
    // bit-identically), then picks the percentile's bin by windowed
    // cumulative count over BINS. The oracle replays the sketch —
    // bin ids, histogram merge, rank targets — exactly, so the
    // approximate path hash-gates like an exact one; the one-bin
    // error bound vs exact q62 is pinned in SketchesSpec.
    Q("q72_percentile_sketch", Some("""
      WITH b AS (SELECT event_type, CAST(floor(value * 4) AS BIGINT) AS bin
                 FROM events WHERE value IS NOT NULL),
      h AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM b GROUP BY 1, 2),
      c AS (SELECT event_type, bin, cnt,
              CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
              CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM h)
      SELECT event_type,
             CAST(MIN(CASE WHEN cum >= ((n - 1) * 50) // 100 + 1 THEN bin END) AS DOUBLE) / 4 AS p50_est,
             CAST(MIN(CASE WHEN cum >= ((n - 1) * 90) // 100 + 1 THEN bin END) AS DOUBLE) / 4 AS p90_est,
             MAX(n) AS n
      FROM c GROUP BY event_type
      ORDER BY event_type""")) { (s, d) =>
      Sketches.binnedPercentiles(Tables.events(s, d), Seq("event_type"),
          col("value"), percentiles = Seq(50, 90), binsPerUnit = 4)
        .orderBy("event_type")
    },

    // ---- q98: key-skew diagnostics report — the heaviest keys of a
    // column with counts and parts-per-million share, the census an
    // engine (or operator author) consults before choosing salting /
    // AQE-skew-join strategy ([[graft.operators.Skew]]'s two
    // mitigations are the consumers). Share is integer floor
    // division of scaled longs; the (n desc, key asc) total order
    // makes the top-k cut deterministic under the uniform corpus's
    // many count ties. One map-side-combined aggregate + bounded
    // TakeOrdered — the key census never globally sorts, the total
    // attaches by one-row broadcast.
    Q("q98_key_skew_report", Some("""
      WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
      SELECT user_id, n, n * 1000000 // (SELECT total FROM t) AS ppm
      FROM c
      ORDER BY n DESC, user_id
      LIMIT 20""")) { (s, d) =>
      graft.operators.Skew.keySkewReport(Tables.events(s, d), "user_id", topK = 20)
    },

    // ---- q109: per-group z-score outlier scan — the telemetry
    // anomaly sweep, built on q71's exactness recipe: decimal-exact
    // sufficient sums (order-independent), then mean/variance/z
    // derived through correctly-rounded IEEE ops ONLY (+ − * /
    // sqrt) in the same shape on both engines — which is exactly
    // why a z-score gate crosses engines bit-for-bit and a
    // log-normal score (ln) would not. One bounded aggregate +
    // broadcast re-join onto the scan; the corpus never shuffles.
    Q("q109_zscore_outliers", Some("""
      WITH e AS (SELECT event_id, event_type,
                        TRY_CAST(value AS DECIMAL(18,2)) AS v
                 FROM events),
      s AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS nd,
              CAST(SUM(v) AS DOUBLE) AS sv,
              CAST(SUM(v * v) AS DOUBLE) AS svv
            FROM e WHERE v IS NOT NULL GROUP BY 1),
      p AS (SELECT event_type, sv / nd AS mean,
              CASE WHEN nd >= 2 AND (nd * svv - sv * sv) / (nd * (nd - 1.0)) > 0
                   THEN sqrt((nd * svv - sv * sv) / (nd * (nd - 1.0)))
              END AS sd
            FROM s),
      z AS (SELECT e.event_id, e.event_type, CAST(e.v AS DOUBLE) AS v,
              (CAST(e.v AS DOUBLE) - p.mean) / p.sd AS z
            FROM e JOIN p USING (event_type)
            WHERE e.v IS NOT NULL AND p.sd IS NOT NULL)
      SELECT event_id, event_type, v, z
      FROM z WHERE abs(z) > 3.0
      ORDER BY event_id""")) { (s, d) =>
      Stats.zscoreOutliers(Tables.events(s, d), Seq("event_type"), "event_id",
          col("value"), threshold = 3.0)
        .orderBy("event_id")
    },

    // ---- q105: exact triangle census + local clustering
    // coefficients — the graph tier's cohesion measure next to q60's
    // ranks and q47's components, on a sparser (2048-node) synthesis
    // of the same orders interaction graph. Degree-ordered
    // orientation means every triangle is found once at its
    // minimum-(deg, node) corner and no out-neighborhood exceeds
    // O(sqrt(2m)) — the skew bound that keeps the wedge join linear
    // on a power-law web graph (see Graph.triangleCount). All-integer
    // counting; `clust` is one correctly-rounded double division, so
    // the whole frame hash-gates.
    Q("q105_triangle_count", Some("""
      WITH e0 AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % 2048 AS a,
                 (o_custkey * 7 + o_orderkey * 13) % 2048 AS b
          FROM orders)
        WHERE a <> b),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
      o AS (
        SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
               CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
               CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddeg
        FROM (SELECT e0.u, e0.v, da.deg AS du, db.deg AS dv
              FROM e0 JOIN deg da ON da.node = e0.u
                      JOIN deg db ON db.node = e0.v)),
      tri AS (
        SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        FROM o e1 JOIN o e2 ON e1.src = e2.src
          AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      cnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
          SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY 1)
      SELECT deg.node, deg.deg, COALESCE(cnt.n_tri, 0) AS n_tri,
             CASE WHEN deg.deg >= 2
                  THEN CAST(COALESCE(cnt.n_tri, 0) * 2 AS DOUBLE)
                       / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
             END AS clust
      FROM deg LEFT JOIN cnt ON cnt.node = deg.node
      ORDER BY deg.node""")) { (s, d) =>
      val edges = Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(2048)).as("src"),
          pmod(col("o_custkey") * 7 + col("o_orderkey") * 13, lit(2048)).as("dst"))
        .filter(col("src") =!= col("dst"))
      Graph.triangleCount(edges, "src", "dst").orderBy("node")
    },

    // ---- q114: k-core peel — the graph tier's density filter, on a
    // DENSITY-STABLE synthesis: the node modulus scales with the
    // orders row count (computed identically by both engines), so
    // average degree — and therefore the peel dynamics — stay
    // comparable at every SF instead of the fixed-modulus graph's
    // phase collapse. Three unrolled peel rounds (the q60
    // bounded-recurrence oracle pattern); convergence within the
    // budget plus equality-to-fixpoint is GraphSpec's differential
    // claim, the hash gate pins the bounded semantics exactly.
    Q("q114_kcore", Some("""
      WITH e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % ((SELECT COUNT(*) FROM orders) // 8) AS a,
                 (o_custkey * 7 + o_orderkey * 13)
                   % ((SELECT COUNT(*) FROM orders) // 8) AS b
          FROM orders)
        WHERE a <> b),
      d1 AS (SELECT node, COUNT(*) AS d FROM (
          SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      c1 AS (SELECT e.u, e.v FROM e
             JOIN d1 a ON a.node = e.u AND a.d >= 8
             JOIN d1 b ON b.node = e.v AND b.d >= 8),
      d2 AS (SELECT node, COUNT(*) AS d FROM (
          SELECT u AS node FROM c1 UNION ALL SELECT v FROM c1) GROUP BY 1),
      c2 AS (SELECT c1.u, c1.v FROM c1
             JOIN d2 a ON a.node = c1.u AND a.d >= 8
             JOIN d2 b ON b.node = c1.v AND b.d >= 8),
      d3 AS (SELECT node, COUNT(*) AS d FROM (
          SELECT u AS node FROM c2 UNION ALL SELECT v FROM c2) GROUP BY 1),
      c3 AS (SELECT c2.u, c2.v FROM c2
             JOIN d3 a ON a.node = c2.u AND a.d >= 8
             JOIN d3 b ON b.node = c2.v AND b.d >= 8),
      d4 AS (SELECT node, COUNT(*) AS d FROM (
          SELECT u AS node FROM c3 UNION ALL SELECT v FROM c3) GROUP BY 1)
      SELECT node, CAST(d AS BIGINT) AS deg FROM d4 WHERE d >= 8
      ORDER BY node""")) { (s, d) =>
      val edges = syntheticEdges(s, d, dropSelfLoops = false)
      Graph.kCore(edges, "src", "dst", k = 8, rounds = 3)
        .orderBy("node")
    },

    // ---- q115: degree assortativity — does the interaction graph
    // wire hubs to hubs? Pearson correlation of endpoint degrees
    // over the symmetric edge list (Newman's r), composed entirely
    // from existing machinery: q105's canonical graph + q71's
    // decimal-exact OLS sufficient statistics, with r derived as
    // sign(slope)·sqrt(r²) — sqrt and the sign test are the only
    // added ops, both correctly-rounded/portable, so the one-row
    // statistic hash-gates bit-for-bit (measured: −0.72 at sf0.001
    // → −0.004 at sf0.1, the correct drift toward neutrality as the
    // synthesis grows denser and more uniform).
    Q("q115_degree_assortativity", Some("""
      WITH e0 AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % 2048 AS a,
                 (o_custkey * 7 + o_orderkey * 13) % 2048 AS b
          FROM orders)
        WHERE a <> b),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
          SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
      pairs AS (
        SELECT du.d AS x0, dv.d AS y0
        FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v
        UNION ALL
        SELECT dv.d, du.d
        FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v),
      p AS (SELECT CAST(x0 AS DECIMAL(12,0)) AS x, CAST(y0 AS DECIMAL(18,2)) AS y
            FROM pairs),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
              CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(x * y) AS DOUBLE) AS sxy,
              CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM p WHERE x IS NOT NULL AND y IS NOT NULL),
      f AS (SELECT n,
              CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                   THEN (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
              CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                   THEN (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE) END AS intercept,
              CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 AND CAST(n AS DOUBLE) * syy - sy * sy <> 0
                   THEN (CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)
                        / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
            FROM s)
      SELECT n, slope, intercept, r2,
             CASE WHEN slope < 0 THEN -sqrt(r2) ELSE sqrt(r2) END AS assortativity
      FROM f""")) { (s, d) =>
      val ue = Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(2048)).as("a"),
          pmod(col("o_custkey") * 7 + col("o_orderkey") * 13, lit(2048)).as("b"))
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val deg = ue.select(col("u").as("node")).union(ue.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val withDeg = ue
        .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      val pairs = withDeg.select(col("du").as("x"), col("dv").as("y"))
        .unionAll(withDeg.select(col("dv").as("x"), col("du").as("y")))
      Stats.linearFit(pairs, Seq(), col("x"), col("y"))
        .withColumn("assortativity",
          when(col("slope") < 0, -sqrt(col("r2"))).otherwise(sqrt(col("r2"))))
    },

    // ---- q106: HLL set algebra — union and intersection estimates
    // for every event-type pair from ONE register build, next to the
    // exact overlap it approximates. The reason HLL (not exact sets)
    // is the 100-TB state: corpus overlap for all pairs costs
    // register algebra (groups × 64 integers), not a re-scan per
    // pair. Union registers are element-wise maxima (exact integer
    // state, same as q56); the intersection estimate is
    // inclusion–exclusion over three already-portable doubles (two
    // correctly-rounded ops), so everything hash-gates.
    Q("q106_hll_algebra", Some {
      val p = 6
      val m = 1 << p
      val low = 60 - p
      val scaleExp = 60 - p + 1
      val cNum = Sketches.hllAlpha(p) * m * m
      val cDen = (1L << scaleExp).toDouble
      s"""
      WITH h AS (SELECT event_type AS g,
                        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                 FROM events),
      r AS (SELECT g, h >> $low AS reg,
              CASE WHEN (h & ((1::BIGINT << $low) - 1)) = 0 THEN ${low + 1}
                   ELSE ${low + 1} - length(bin(h & ((1::BIGINT << $low) - 1)))
              END AS rho
            FROM h),
      mx AS (SELECT g, reg, MAX(rho) AS maxrho FROM r GROUP BY 1, 2),
      fin AS (SELECT g,
                CAST(SUM(1::BIGINT << ($scaleExp - maxrho)) AS BIGINT)
                  + ($m - COUNT(*)) * (1::BIGINT << $scaleExp) AS s_scaled
              FROM mx GROUP BY 1),
      est AS (SELECT g, $cNum / (CAST(s_scaled AS DOUBLE) / $cDen) AS nd FROM fin),
      pairs AS (SELECT a.g AS g_a, b.g AS g_b
                FROM (SELECT DISTINCT g FROM mx) a
                JOIN (SELECT DISTINCT g FROM mx) b ON a.g < b.g),
      ur AS (SELECT p.g_a, p.g_b, m.reg, m.maxrho
             FROM pairs p JOIN mx m ON m.g = p.g_a
             UNION ALL
             SELECT p.g_a, p.g_b, m.reg, m.maxrho
             FROM pairs p JOIN mx m ON m.g = p.g_b),
      um AS (SELECT g_a, g_b, reg, MAX(maxrho) AS maxrho FROM ur GROUP BY 1, 2, 3),
      uf AS (SELECT g_a, g_b,
               CAST(SUM(1::BIGINT << ($scaleExp - maxrho)) AS BIGINT)
                 + ($m - COUNT(*)) * (1::BIGINT << $scaleExp) AS s_scaled
             FROM um GROUP BY 1, 2),
      ue AS (SELECT g_a, g_b, $cNum / (CAST(s_scaled AS DOUBLE) / $cDen) AS nd_union
             FROM uf),
      du AS (SELECT DISTINCT event_type AS g, user_id FROM events),
      ex AS (SELECT a.g AS g_a, b.g AS g_b,
               CAST(COUNT(*) AS BIGINT) AS n_intersect_exact
             FROM du a JOIN du b ON a.user_id = b.user_id AND a.g < b.g
             GROUP BY 1, 2)
      SELECT ue.g_a, ue.g_b, ea.nd AS nd_a, eb.nd AS nd_b, ue.nd_union,
             ea.nd + eb.nd - ue.nd_union AS nd_intersect_est,
             COALESCE(ex.n_intersect_exact, 0) AS n_intersect_exact
      FROM ue JOIN est ea ON ea.g = ue.g_a JOIN est eb ON eb.g = ue.g_b
      LEFT JOIN ex ON ex.g_a = ue.g_a AND ex.g_b = ue.g_b
      ORDER BY ue.g_a, ue.g_b"""
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val pairs = Sketches.hllPairAlgebra(ev, "user_id", "event_type", p = 6)
      val du = ev.select(col("event_type").as("g"), col("user_id")).distinct()
      val ex = du.as("a").join(du.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.g") < col("b.g"))
        .groupBy(col("a.g").as("g_a"), col("b.g").as("g_b"))
        .agg(count(lit(1)).as("n_intersect_exact"))
      pairs.join(ex, Seq("g_a", "g_b"), "left")
        .select(col("g_a"), col("g_b"), col("nd_a"), col("nd_b"), col("nd_union"),
          col("nd_intersect_est"),
          coalesce(col("n_intersect_exact"), lit(0L)).as("n_intersect_exact"))
        .orderBy("g_a", "g_b")
    },

    // ---- q117: Z-order zone-map census — the data-LAYOUT operator:
    // quantize (l_partkey, l_suppkey) to 8 bits each against their
    // global min/max, interleave into a 16-bit Morton value, bucket
    // by the top 6 bits (an 8×8 grid over both dimensions at once)
    // and emit each bucket's count + per-column min/max — exactly the
    // zone maps a 100-TB scan prunes with, so the gated frame IS the
    // layout's prunability measurement (LayoutSpec quantifies the
    // win over a single-column sort). The oracle replays the
    // quantizer (one correctly-rounded double division + floor, the
    // established float rule) and the full 32-term bit interleave
    // from first principles, so the whole curve construction sits on
    // the gated path. One scan + one bounded min/max agg + one
    // map-side-combined bucket agg; no corpus-wide shuffle beyond
    // the ≤64-row census exchange.
    Q("q117_zorder_layout", Some {
      val morton = (0 until 8).flatMap(i => Seq(
        s"(((xq >> $i) & 1) << ${2 * i})",
        s"(((yq >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""
      WITH s AS (SELECT CAST(MIN(l_partkey) AS BIGINT) AS mnx,
                        CAST(MAX(l_partkey) AS BIGINT) AS mxx,
                        CAST(MIN(l_suppkey) AS BIGINT) AS mny,
                        CAST(MAX(l_suppkey) AS BIGINT) AS mxy
                 FROM lineitem),
      q AS (SELECT l_partkey, l_suppkey,
              CASE WHEN s.mxx > s.mnx
                   THEN CAST(FLOOR(CAST((l_partkey - s.mnx) * 255 AS DOUBLE)
                                   / CAST(s.mxx - s.mnx AS DOUBLE)) AS BIGINT)
                   ELSE 0 END AS xq,
              CASE WHEN s.mxy > s.mny
                   THEN CAST(FLOOR(CAST((l_suppkey - s.mny) * 255 AS DOUBLE)
                                   / CAST(s.mxy - s.mny AS DOUBLE)) AS BIGINT)
                   ELSE 0 END AS yq
            FROM lineitem, s),
      z AS (SELECT l_partkey, l_suppkey, ($morton) AS zv FROM q)
      SELECT zv >> 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(l_partkey) AS BIGINT) AS l_partkey_min,
             CAST(MAX(l_partkey) AS BIGINT) AS l_partkey_max,
             CAST(MIN(l_suppkey) AS BIGINT) AS l_suppkey_min,
             CAST(MAX(l_suppkey) AS BIGINT) AS l_suppkey_max
      FROM z GROUP BY 1 ORDER BY 1"""
    }) { (s, d) =>
      Layout.zorderZoneMap(
          Tables.lineitem(s, d).select("l_partkey", "l_suppkey"),
          Seq("l_partkey", "l_suppkey"), bits = 8, bucketBits = 6)
        .orderBy("bucket")
    },

    // ---- q118: label-propagation communities — the graph tier's
    // grouping lens (q47 joins everything reachable; LPA stops where
    // link density does), on a PLANTED-community synthesis: 1024
    // nodes in 8 dense blocks of 128, with a 1-in-17 slice of edges
    // rewired across blocks, all computed identically by both
    // engines from orders columns. Two synchronous rounds, each
    // unrolled in the oracle as one neighbor-label join + one
    // (node, label) census + one deterministic arg-max (count desc,
    // label asc) — the q60/q114 bounded-recurrence pattern; the
    // Spark side resolves the same arg-max as min(struct(-c, label)),
    // an aggregate rather than a window, so a hub node never sorts
    // its neighborhood. GraphSpec differentially pins the operator
    // against a sequential replay and a two-clique fixture.
    Q("q118_label_communities", Some("""
      WITH raw AS (SELECT o_custkey % 1024 AS a, o_custkey, o_orderkey FROM orders),
      e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT a, CASE WHEN o_orderkey % 17 = 0
                         THEN (o_custkey * 11 + o_orderkey * 3) % 1024
                         ELSE (a - (a % 128)) + ((o_custkey * 7 + o_orderkey * 13) % 128)
                    END AS b
          FROM raw)
        WHERE a <> b),
      adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
      l0 AS (SELECT DISTINCT node, node AS label FROM adj),
      c1 AS (SELECT a.node, l.label, COUNT(*) AS c
             FROM adj a JOIN l0 l ON l.node = a.nbr GROUP BY 1, 2),
      l1 AS (SELECT node, label FROM (
               SELECT node, label,
                      ROW_NUMBER() OVER (PARTITION BY node
                                         ORDER BY c DESC, label) AS rn
               FROM c1) WHERE rn = 1),
      c2 AS (SELECT a.node, l.label, COUNT(*) AS c
             FROM adj a JOIN l1 l ON l.node = a.nbr GROUP BY 1, 2),
      l2 AS (SELECT node, label FROM (
               SELECT node, label,
                      ROW_NUMBER() OVER (PARTITION BY node
                                         ORDER BY c DESC, label) AS rn
               FROM c2) WHERE rn = 1)
      SELECT node, label FROM l2 ORDER BY node""")) { (s, d) =>
      val raw = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(1024L)).as("a"),
        col("o_custkey"), col("o_orderkey"))
      val b = when(pmod(col("o_orderkey"), lit(17L)) === 0L,
          pmod(col("o_custkey") * 11L + col("o_orderkey") * 3L, lit(1024L)))
        .otherwise((col("a") - pmod(col("a"), lit(128L))) +
          pmod(col("o_custkey") * 7L + col("o_orderkey") * 13L, lit(128L)))
      val edges = raw.select(col("a").as("src"), b.as("dst"))
        .filter(col("src") =!= col("dst"))
      Graph.labelPropagation(edges, "src", "dst", rounds = 2)
        .orderBy("node")
    },

    // ---- q123: last-touch attribution — the batch twin of the
    // streaming attribution join, run as a real gate over the events
    // table: every click attributed to its most recent same-user
    // view within 2 hours (ties to the smallest impression id). The
    // candidate match rides intervalJoin's bucketized band join WITH
    // user_id in the equi-key (per-user candidates, never a
    // time-slice cross product), and the per-click arg-max is an
    // aggregate, not a window. The oracle replays the inclusive-
    // horizon predicate and the (imp_ts desc, imp_id) choice from
    // first principles. At sf0.01+ some clicks see multiple
    // impressions, so the arg-max binds.
    Q("q123_attribution", Some("""
      WITH i AS (SELECT event_id AS imp_id, user_id, epoch_ns(ts) AS imp_ts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS click_ts
            FROM events WHERE event_type = 'click'),
      p AS (SELECT c.click_id, c.user_id, c.click_ts, i.imp_id, i.imp_ts
            FROM c JOIN i ON i.user_id = c.user_id
             AND c.click_ts >= i.imp_ts
             AND c.click_ts <= i.imp_ts + 7200000000000)
      SELECT click_id, user_id, click_ts, imp_id, imp_ts FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY click_id
                                     ORDER BY imp_ts DESC, imp_id) AS rn
        FROM p)
      WHERE rn = 1
      ORDER BY click_id""")) { (s, d) =>
      val ev = Tables.events(s, d)
      Temporal.lastTouchAttribution(
          ev.filter(col("event_type") === "view")
            .select("user_id", "event_id", "ts"),
          ev.filter(col("event_type") === "click")
            .select("user_id", "event_id", "ts"),
          keyCol = "user_id", idCol = "event_id", tsCol = "ts",
          horizon = 7200000000000L, bucketWidth = 3600000000000L)
        .orderBy("click_id")
    },

    // ---- q129: 2-hop reachability census — the BFS primitive
    // (crawl-depth coverage / influence radius) on q114's
    // DENSITY-STABLE synthesis, so the 2-ball neither saturates nor
    // vanishes as the SF changes. Hop 2 unrolls in the oracle as one
    // adjacency self-join + UNION-distinct (the bounded-recurrence
    // pattern); the engine runs the same frontier join with per-hop
    // localCheckpoint. Exact per-node reach — the HLL register
    // variant is the approximate scale path, documented in the
    // operator.
    Q("q129_khop_reach", Some("""
      WITH e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % ((SELECT COUNT(*) FROM orders) // 8) AS a,
                 (o_custkey * 7 + o_orderkey * 13)
                   % ((SELECT COUNT(*) FROM orders) // 8) AS b
          FROM orders)
        WHERE a <> b),
      adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
      n2 AS (SELECT a.node, b.nbr FROM adj a JOIN adj b ON b.node = a.nbr
             WHERE b.nbr <> a.node),
      r AS (SELECT node, nbr FROM adj UNION SELECT node, nbr FROM n2)
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_reach
      FROM r GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val edges = syntheticEdges(s, d)
      Graph.kHopReach(edges, "src", "dst", k = 2).orderBy("node")
    },

    // ---- q130: HyperBall — q129's approximate scale path as its own
    // gate: per-node 2-hop ball estimates via HLL register merging
    // (Boldi–Rosa–Vigna), on the same density-stable graph. State is
    // O(nodes × 64) regardless of ball size — the property that
    // makes neighborhood-function measurement feasible on a web
    // graph where exact pair sets are not. The register evolution is
    // deterministic integer arithmetic (md5 registers, max-merge),
    // so the oracle unrolls both merge rounds register-for-register
    // and the finalize is q56's correctly-rounded division — the
    // ESTIMATE hash-gates.
    Q("q130_hyperball", Some {
      val p = 6
      val m = 1 << p
      val low = 60 - p
      val scaleExp = low + 1
      val cNum = Sketches.hllAlpha(p) * m * m
      val cDen = (1L << scaleExp).toDouble
      s"""
      WITH e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % ((SELECT COUNT(*) FROM orders) // 8) AS a,
                 (o_custkey * 7 + o_orderkey * 13)
                   % ((SELECT COUNT(*) FROM orders) // 8) AS b
          FROM orders)
        WHERE a <> b),
      adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
      nodes AS (SELECT DISTINCT node FROM adj),
      h AS (SELECT node,
              ('0x' || substr(md5(node::VARCHAR), 1, 15))::BIGINT AS h
            FROM nodes),
      r0 AS (SELECT node, h >> $low AS reg,
               CASE WHEN (h & ((1::BIGINT << $low) - 1)) = 0 THEN ${low + 1}
                    ELSE ${low + 1} - length(bin(h & ((1::BIGINT << $low) - 1)))
               END AS maxrho
             FROM h),
      r1 AS (SELECT node, reg, MAX(maxrho) AS maxrho FROM (
               SELECT node, reg, maxrho FROM r0
               UNION ALL
               SELECT a.node, r0.reg, r0.maxrho
               FROM adj a JOIN r0 ON r0.node = a.nbr)
             GROUP BY 1, 2),
      r2 AS (SELECT node, reg, MAX(maxrho) AS maxrho FROM (
               SELECT node, reg, maxrho FROM r1
               UNION ALL
               SELECT a.node, r1.reg, r1.maxrho
               FROM adj a JOIN r1 ON r1.node = a.nbr)
             GROUP BY 1, 2),
      s AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_regs,
              CAST(SUM(1::BIGINT << ($scaleExp - maxrho)) AS BIGINT)
                + ($m - COUNT(*)) * (1::BIGINT << $scaleExp) AS s_scaled
            FROM r2 GROUP BY 1)
      SELECT node, n_regs, s_scaled,
             $cNum / (CAST(s_scaled AS DOUBLE) / $cDen) AS ball_estimate
      FROM s ORDER BY node"""
    }) { (s, d) =>
      val edges = syntheticEdges(s, d)
      Graph.hyperBall(edges, "src", "dst", k = 2, p = 6).orderBy("node")
    },

    // ---- q183: the ROUTED k-hop path as its own gate — q129's
    // size-guarded wrapper forced over the bound (maxExactEdges =
    // 1024 < every SF's edge count), so the query hash-gates the
    // HyperBall branch's (node, n_reach) presentation: the register-
    // exact ball estimate minus self, rounded half-up (FLOOR(est −
    // 0.5), rounding-rule-free on the cross-engine-identical
    // double). GraphLinearitySpec + GraphSpec pin the exact branch
    // and the branch equivalence; this pins the routed surface a
    // 100 TB caller actually gets.
    Q("q183_khop_auto_routed", Some {
      val p = 6
      val m = 1 << p
      val low = 60 - p
      val scaleExp = low + 1
      val cNum = Sketches.hllAlpha(p) * m * m
      val cDen = (1L << scaleExp).toDouble
      s"""
      WITH e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % ((SELECT COUNT(*) FROM orders) // 8) AS a,
                 (o_custkey * 7 + o_orderkey * 13)
                   % ((SELECT COUNT(*) FROM orders) // 8) AS b
          FROM orders)
        WHERE a <> b),
      adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
      nodes AS (SELECT DISTINCT node FROM adj),
      h AS (SELECT node,
              ('0x' || substr(md5(node::VARCHAR), 1, 15))::BIGINT AS h
            FROM nodes),
      r0 AS (SELECT node, h >> $low AS reg,
               CASE WHEN (h & ((1::BIGINT << $low) - 1)) = 0 THEN ${low + 1}
                    ELSE ${low + 1} - length(bin(h & ((1::BIGINT << $low) - 1)))
               END AS maxrho
             FROM h),
      r1 AS (SELECT node, reg, MAX(maxrho) AS maxrho FROM (
               SELECT node, reg, maxrho FROM r0
               UNION ALL
               SELECT a.node, r0.reg, r0.maxrho
               FROM adj a JOIN r0 ON r0.node = a.nbr)
             GROUP BY 1, 2),
      r2 AS (SELECT node, reg, MAX(maxrho) AS maxrho FROM (
               SELECT node, reg, maxrho FROM r1
               UNION ALL
               SELECT a.node, r1.reg, r1.maxrho
               FROM adj a JOIN r1 ON r1.node = a.nbr)
             GROUP BY 1, 2),
      s AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_regs,
              CAST(SUM(1::BIGINT << ($scaleExp - maxrho)) AS BIGINT)
                + ($m - COUNT(*)) * (1::BIGINT << $scaleExp) AS s_scaled
            FROM r2 GROUP BY 1)
      SELECT node,
             CAST(FLOOR($cNum / (CAST(s_scaled AS DOUBLE) / $cDen) - 0.5) AS BIGINT) AS n_reach
      FROM s ORDER BY node"""
    }) { (s, d) =>
      val edges = syntheticEdges(s, d)
      Graph.kHopReachAuto(edges, "src", "dst", k = 2, p = 6,
          maxExactEdges = 1024L)
        .orderBy("node")
    },

    // ---- q131: time-bucket resample + LOCF gap-fill — the
    // densify-to-a-regular-grid step (6h buckets over the 30-day
    // event window, ~46% of spine buckets observed at sf0.1, so the
    // carry-forward does real work). Bucket sums are decimal-exact
    // (the dsum convention) and the fill COPIES doubles, so the
    // frame hash-gates; the oracle replays the spine with
    // generate_series and an IGNORE NULLS running window. The spine
    // cap is an in-plan raise_error, not a driver job.
    Q("q131_resample_locf", Some("""
      WITH b AS (SELECT user_id, epoch_ns(ts) // 21600000000000 AS bucket,
                        CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS v,
                        CAST(COUNT(*) AS BIGINT) AS n_obs
                 FROM events GROUP BY 1, 2),
      s AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
            FROM b GROUP BY 1),
      spine AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket
                FROM s)
      SELECT sp.user_id, sp.bucket,
             last_value(b.v IGNORE NULLS)
               OVER (PARTITION BY sp.user_id ORDER BY sp.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS value_filled,
             COALESCE(b.n_obs, 0) AS n_obs
      FROM spine sp LEFT JOIN b
        ON b.user_id = sp.user_id AND b.bucket = sp.bucket
      ORDER BY 1, 2""")) { (s, d) =>
      Temporal.resampleLocf(
          Tables.events(s, d).select("user_id", "ts", "value"),
          keyCol = "user_id", timeCol = "ts", valCol = "value",
          bucketNs = 21600000000000L)
        .orderBy("user_id", "bucket")
    },

    // ---- q134: HITS hubs/authorities — the directed prestige pair
    // beside q60's PageRank, on the q129 density-stable synthesis
    // WITHOUT symmetrization (direction is the whole point). Two
    // unnormalized rounds from h0=1: every score is an exact integer
    // (normalization is a positive scalar — rank-invariant — and
    // dropping it removes the only float step), so the frame
    // hash-gates; the oracle unrolls a1→h1→a2→h2 with node-complete
    // zeros, the q129/q130 bounded-recurrence pattern.
    Q("q134_hits", Some("""
      WITH e AS (
        SELECT DISTINCT a AS src, b AS dst FROM (
          SELECT o_custkey % ((SELECT COUNT(*) FROM orders) // 8) AS a,
                 (o_custkey * 7 + o_orderkey * 13)
                   % ((SELECT COUNT(*) FROM orders) // 8) AS b
          FROM orders)
        WHERE a <> b),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      a1 AS (SELECT n.node, COALESCE(x.a, 0) AS a FROM nodes n LEFT JOIN
               (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS a
                FROM e GROUP BY 1) x USING (node)),
      h1 AS (SELECT n.node, COALESCE(x.h, 0) AS h FROM nodes n LEFT JOIN
               (SELECT e.src AS node, CAST(SUM(a1.a) AS BIGINT) AS h
                FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1) x USING (node)),
      a2 AS (SELECT n.node, COALESCE(x.a, 0) AS a FROM nodes n LEFT JOIN
               (SELECT e.dst AS node, CAST(SUM(h1.h) AS BIGINT) AS a
                FROM e JOIN h1 ON h1.node = e.src GROUP BY 1) x USING (node)),
      h2 AS (SELECT n.node, COALESCE(x.h, 0) AS h FROM nodes n LEFT JOIN
               (SELECT e.src AS node, CAST(SUM(a2.a) AS BIGINT) AS h
                FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1) x USING (node))
      SELECT h2.node, h2.h AS hub, a2.a AS auth
      FROM h2 JOIN a2 USING (node)
      ORDER BY node""")) { (s, d) =>
      val edges = syntheticEdges(s, d)
      Graph.hits(edges, "src", "dst", rounds = 2).orderBy("node")
    },

    // ---- q136: link prediction — common-neighbor + Jaccard scores
    // for every non-adjacent 2-hop pair on the q129 density-stable
    // graph: the "predict the missing edge" census that turns the
    // graph tier's descriptive statistics into a recommendation
    // surface. Counts are exact integers from the wedge census;
    // Jaccard is one correctly-rounded division, so the frame
    // hash-gates. The oracle replays wedges → counts → anti-join →
    // degree attach from first principles.
    Q("q136_link_predict", Some("""
      WITH e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % ((SELECT COUNT(*) FROM orders) // 8) AS a,
                 (o_custkey * 7 + o_orderkey * 13)
                   % ((SELECT COUNT(*) FROM orders) // 8) AS b
          FROM orders)
        WHERE a <> b),
      adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
      cn AS (SELECT x.nbr AS a, y.nbr AS b, CAST(COUNT(*) AS BIGINT) AS cn
             FROM adj x JOIN adj y ON y.node = x.node AND x.nbr < y.nbr
             GROUP BY 1, 2),
      na AS (SELECT cn.* FROM cn LEFT JOIN e ON e.u = cn.a AND e.v = cn.b
             WHERE e.u IS NULL)
      SELECT na.a AS u, na.b AS v, na.cn,
             CAST(na.cn AS DOUBLE)
               / (CAST(da.deg AS DOUBLE) + CAST(db.deg AS DOUBLE)
                  - CAST(na.cn AS DOUBLE)) AS jaccard
      FROM na
      JOIN deg da ON da.node = na.a
      JOIN deg db ON db.node = na.b
      ORDER BY u, v""")) { (s, d) =>
      val edges = syntheticEdges(s, d)
      Graph.linkPrediction(edges, "src", "dst").orderBy("u", "v")
    },

    // ---- q181: Adamic-Adar link prediction — q136's common
    // neighbors weighted 1/log(deg): a shared hub says little, a
    // shared rare neighbor says a lot. The reciprocal log is exact
    // fixed-point (2^24 DIV flog2q(deg), divisor >= 16 since a
    // common neighbor has degree >= 2), so the score hash-gates
    // where a float 1/ln could not. Same wedge/census/anti-join
    // shape and the same synthetic orders graph as q136.
    Q("q181_adamic_adar", Some(s"""
      WITH e AS (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
          SELECT o_custkey % ((SELECT COUNT(*) FROM orders) // 8) AS a,
                 (o_custkey * 7 + o_orderkey * 13)
                   % ((SELECT COUNT(*) FROM orders) // 8) AS b
          FROM orders)
        WHERE a <> b),
      adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
      w AS (SELECT adj.node, adj.nbr,
                   CAST(CASE WHEN deg.deg >= 2
                        THEN 16777216 // ${graft.operators.Curation.flog2qSql("deg.deg")}
                        ELSE 0 END AS BIGINT) AS wt
            FROM adj JOIN deg ON deg.node = adj.node),
      cn AS (SELECT x.nbr AS a, y.nbr AS b,
                    CAST(COUNT(*) AS BIGINT) AS cn,
                    CAST(SUM(x.wt) AS BIGINT) AS aa_fp
             FROM w x JOIN w y ON y.node = x.node AND x.nbr < y.nbr
             GROUP BY 1, 2),
      na AS (SELECT cn.* FROM cn LEFT JOIN e ON e.u = cn.a AND e.v = cn.b
             WHERE e.u IS NULL)
      SELECT a AS u, b AS v, cn, aa_fp
      FROM na ORDER BY u, v""")) { (s, d) =>
      val edges = syntheticEdges(s, d)
      Graph.adamicAdar(edges, "src", "dst").orderBy("u", "v")
    },

    // ---- q138: MAD outliers — the ROBUST anomaly flag beside
    // q109's z-scores (one extreme value drags a mean/std fit and
    // masks its own outliers; median/MAD has a 50% breakdown point).
    // Medians are exact lower-middle element PICKS, so every output
    // is a copied double or one correctly-rounded op — hash-gates
    // bit-for-bit with no float hedge. Engine: two bounded census
    // collects whose per-key prefix sums run on the driver +
    // broadcast census re-attach; the oracle replays the same picks
    // with SQL windows.
    Q("q138_mad_outliers", Some("""
      WITH e AS (SELECT event_id, event_type,
                        CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
                 FROM events WHERE TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
      m AS (SELECT event_type, v AS med FROM (
              SELECT event_type, v,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM e) WHERE rn = (n + 1) // 2),
      d AS (SELECT e.event_id, e.event_type, e.v, m.med,
                   abs(e.v - m.med) AS dev
            FROM e JOIN m USING (event_type)),
      md AS (SELECT event_type, dev AS mad FROM (
               SELECT event_type, dev,
                      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM d) WHERE rn = (n + 1) // 2)
      SELECT d.event_id, d.event_type, d.v, d.med, md.mad,
             CAST(d.dev > 5.0 * md.mad AS BIGINT) AS is_outlier
      FROM d JOIN md USING (event_type)
      ORDER BY event_id""")) { (s, d) =>
      Stats.madOutliers(Tables.events(s, d), Seq("event_type"), "event_id",
          col("value"))
        .orderBy("event_id")
    },

    // ---- q139: exact equi-depth buckets — NTILE semantics at scale:
    // q122's GlobalRank in VALUE order (value buckets → bounded
    // offset census → per-bucket sort windows), so no
    // corpus-wide global ROW_NUMBER anywhere in the
    // engine plan (pinned); the oracle IS that naive global window,
    // proving the blocked rank equals the sequential definition
    // row-for-row. Decimal-normalized values make heavy ties, which
    // is exactly what stresses the (value, id) order contract.
    Q("q139_equidepth_buckets", Some("""
      WITH e AS (SELECT event_id,
                        CAST(TRY_CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
                 FROM events WHERE TRY_CAST(value AS DECIMAL(18,2)) IS NOT NULL),
      r AS (SELECT event_id, v,
                   CAST(ROW_NUMBER() OVER (ORDER BY v, event_id) AS BIGINT) AS rank
            FROM e)
      SELECT event_id, v, rank,
             ((rank - 1) * 8) // (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS bucket
      FROM r ORDER BY event_id""")) { (s, d) =>
      Stats.equiDepthBuckets(Tables.events(s, d), "event_id", col("value"), k = 8)
        .orderBy("event_id")
    },

    // ---- q140: TrustRank — q60's integer PageRank recurrence with
    // teleport restricted to a seed whitelist (every 16th node):
    // the crawl-quality signal that separates "reachable from vetted
    // hosts" from "merely well-linked". Same exact div/sum
    // arithmetic on scaled longs, so three unrolled rounds hash-gate;
    // non-seed nodes start and teleport at zero, which is the whole
    // semantic difference the gate exercises.
    Q("q140_trustrank", Some {
      val iters = 3
      val scale = 1000000000000L
      val iterCtes = (1 to iters).map { i =>
        s"""tr$i AS (
        SELECT n.node,
               CASE WHEN n.sf = 1
                    THEN (SELECT (15 * $scale) // (100 * k) FROM ns)
                    ELSE 0 END + COALESCE(c.s, 0) AS r
        FROM nodesf n
        LEFT JOIN (SELECT e.dst, CAST(SUM((85 * p.r) // (100 * d.outdeg)) AS BIGINT) AS s
                   FROM e JOIN tr${i - 1} p ON p.node = e.src
                   JOIN deg d ON d.src = e.src
                   GROUP BY e.dst) c ON c.dst = n.node)"""
      }.mkString(",\n      ")
      s"""
      WITH e AS (
        SELECT DISTINCT o_custkey % 512 AS src,
                        (o_custkey * 7 + o_orderkey * 13) % 512 AS dst
        FROM orders
        WHERE o_custkey % 512 <> (o_custkey * 7 + o_orderkey * 13) % 512),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nodesf AS (SELECT node, CASE WHEN node % 16 = 0 THEN 1 ELSE 0 END AS sf
                 FROM nodes),
      ns AS (SELECT COUNT(*) AS k FROM nodesf WHERE sf = 1),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
      tr0 AS (SELECT node,
                CASE WHEN sf = 1 THEN (SELECT $scale // k FROM ns) ELSE 0 END AS r
              FROM nodesf),
      $iterCtes
      SELECT node, r AS trust_scaled FROM tr$iters ORDER BY node"""
    }) { (s, d) =>
      val edges = Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(512)).as("src"),
          pmod(col("o_custkey") * 7 + col("o_orderkey") * 13, lit(512)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val seeds = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
        .filter(pmod(col("node"), lit(16)) === 0)
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "node", iters = 3)
        .orderBy("node")
    },

    // ---- q147: forward as-of join — the lookahead twin of q51's
    // backward snapshot join, run as its own gate: for every click,
    // the same user's NEXT buy at-or-after it (time-to-conversion
    // features). The engine is asofJoinBackward on negated times —
    // order reversal is exact on longs, so the union+carry shape and
    // null/tie semantics are inherited, not re-implemented; ties
    // resolve to the largest event id and unmatched clicks keep null
    // payloads. The oracle replays "smallest buy time >= click time,
    // max id on ties" from first principles with a left join.
    Q("q147_asof_forward", Some("""
      WITH c AS (SELECT event_id, user_id, epoch_ns(ts) AS ts
                 FROM events WHERE event_type = 'click'),
      b AS (SELECT event_id AS next_event_id, user_id, epoch_ns(ts) AS bt
            FROM events WHERE event_type = 'buy'),
      j AS (SELECT c.event_id, c.user_id, c.ts, b.next_event_id, b.bt,
              ROW_NUMBER() OVER (PARTITION BY c.event_id
                                 ORDER BY b.bt ASC, b.next_event_id DESC) AS rn
            FROM c LEFT JOIN b ON b.user_id = c.user_id AND b.bt >= c.ts)
      SELECT event_id, user_id, ts, next_event_id, bt AS next_ts
      FROM j WHERE rn = 1 ORDER BY event_id""")) { (s, d) =>
      val ev = Tables.events(s, d)
      Temporal.asofJoinForward(
          ev.filter(col("event_type") === "click")
            .select("user_id", "event_id", "ts"),
          ev.filter(col("event_type") === "buy")
            .select("user_id", "event_id", "ts"),
          keyCol = "user_id", timeCol = "ts",
          payloadCols = Seq("event_id", "ts"), prefix = "next_",
          tieCols = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("next_event_id"), col("next_ts"))
        .orderBy("event_id")
    },

    // ---- q143: linear multi-touch attribution — q123's
    // winner-takes-all credit spread evenly over every in-horizon
    // impression (credit = 1/n): the assist graph budget
    // reallocation actually consumes, one row per (click,
    // impression). Same bucketized per-user intervalJoin candidates;
    // the census re-attach is candidates-keyed; one
    // correctly-rounded division so the frame hash-gates. At sf0.01+
    // multi-impression clicks make the split fractional.
    Q("q143_linear_attribution", Some("""
      WITH i AS (SELECT event_id AS imp_id, user_id, epoch_ns(ts) AS imp_ts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS click_ts
            FROM events WHERE event_type = 'click'),
      p AS (SELECT c.click_id, c.user_id, c.click_ts, i.imp_id, i.imp_ts
            FROM c JOIN i ON i.user_id = c.user_id
             AND c.click_ts >= i.imp_ts
             AND c.click_ts <= i.imp_ts + 7200000000000)
      SELECT click_id, user_id, click_ts, imp_id, imp_ts,
             1.0 / CAST(COUNT(*) OVER (PARTITION BY click_id) AS DOUBLE) AS credit
      FROM p ORDER BY click_id, imp_id""")) { (s, d) =>
      val ev = Tables.events(s, d)
      Temporal.linearAttribution(
          ev.filter(col("event_type") === "view")
            .select("user_id", "event_id", "ts"),
          ev.filter(col("event_type") === "click")
            .select("user_id", "event_id", "ts"),
          keyCol = "user_id", idCol = "event_id", tsCol = "ts",
          horizon = 7200000000000L, bucketWidth = 3600000000000L)
        .orderBy("click_id", "imp_id")
    },

    // ---- q155: per-user CUSUM change-point monitor — the textbook
    // sequential recurrence max(0, S+x−drift) distributed exactly via
    // the prefix-sum identity S_k = P_k − min(0, min_j≤k P_j): two
    // stacked windows sharing one key-partitioned exchange, values
    // quantized to longs so the statistic hash-gates. Alarms flag
    // users whose value series shifts above the drift line.
    Q("q155_cusum", Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id,
                   CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) - 70000000 AS d
                 FROM events WHERE value IS NOT NULL),
      p AS (SELECT user_id, ts, event_id,
              CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
            FROM e),
      c AS (SELECT user_id, ts, event_id,
              p - LEAST(MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cusum
            FROM p)
      SELECT user_id, ts, event_id, CAST(cusum AS BIGINT) AS cusum,
             cusum > 200000000 AS alarm
      FROM c ORDER BY user_id, ts, event_id""")) { (s, d) =>
      Temporal.cusum(
          Tables.events(s, d).filter(col("value").isNotNull),
          keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
          valueCol = floor(col("value") * 1000000d + 0.5d),
          drift = 70000000L, threshold = 200000000L)
        .orderBy("user_id", "ts", "event_id")
    },

    // ---- q154: half-life-decayed popularity — recency-weighted
    // event counts with the decay done in exact powers of two at
    // bucket granularity (one 6h bucket of age halves the weight;
    // tails past 32 buckets cut). Integer shifts of exact counts, so
    // the trending scores hash-gate where exp() never could. One
    // census + broadcast top-bucket + keys-sized re-agg.
    Q("q154_decayed_counts", Some("""
      WITH e AS (SELECT event_type, epoch_ns(ts) // 21600000000000 AS b
                 FROM events),
      c AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
      t AS (SELECT MAX(b) AS top FROM c)
      SELECT event_type,
             CAST(SUM(c * (1::BIGINT << CAST(32 - (t.top - b) AS INT))) AS BIGINT) AS decayed_q,
             COUNT(*) AS n_buckets
      FROM c, t WHERE t.top - b <= 32
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      Temporal.decayedCounts(Tables.events(s, d), Seq("event_type"), "ts",
          bucketNs = 21600000000000L, maxAge = 32)
        .orderBy("event_type")
    },

    // ---- q149: Kaplan-Meier life table — time-to-conversion with
    // right censoring: per user, duration from first view to first
    // at-or-after buy, users who never buy CENSORED at the corpus's
    // last event (dropping them is the classic conversion-time
    // bias). Durations bucket to 6h intervals; each interval reports
    // exact (n_events, n_censored, at_risk) longs — the survival
    // product is one consumer-side fold (the no-transcendentals
    // rule). The at-risk suffix sum runs on the driver over the
    // bounded bucket census only, never the corpus.
    Q("q149_km_lifetable", Some("""
      WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
      st AS (SELECT user_id, MIN(ts) AS start FROM e
             WHERE event_type = 'view' GROUP BY 1),
      b AS (SELECT user_id, ts AS bt FROM e WHERE event_type = 'buy'),
      fb AS (SELECT st.user_id, MIN(st.start) AS start,
               MIN(CASE WHEN b.bt >= st.start THEN b.bt END) AS fbt
             FROM st LEFT JOIN b ON b.user_id = st.user_id
             GROUP BY st.user_id),
      mx AS (SELECT MAX(ts) AS endts FROM e),
      subj AS (SELECT CASE WHEN fbt IS NOT NULL THEN fbt - start
                           ELSE endts - start END AS dur,
                      CASE WHEN fbt IS NOT NULL THEN 1 ELSE 0 END AS ev
               FROM fb, mx),
      c AS (SELECT dur // 21600000000000 AS t,
              CAST(SUM(ev) AS BIGINT) AS n_events,
              CAST(SUM(1 - ev) AS BIGINT) AS n_censored
            FROM subj GROUP BY 1)
      SELECT t, n_events, n_censored,
             CAST(SUM(n_events + n_censored) OVER (
               ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS at_risk
      FROM c ORDER BY t""")) { (s, d) =>
      val ev = Tables.events(s, d)
      val st = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("start"))
      val b = ev.filter(col("event_type") === "buy")
        .select(col("user_id"), col("ts").as("bt"))
      val fb = st.join(b, Seq("user_id"), "left")
        .groupBy("user_id")
        .agg(min(col("start")).as("start"),
          min(when(col("bt") >= col("start"), col("bt"))).as("fbt"))
      val endTs = ev.agg(max(col("ts")).as("endts"))
      val subjects = fb.crossJoin(broadcast(endTs))
        .select(
          when(col("fbt").isNotNull, col("fbt") - col("start"))
            .otherwise(col("endts") - col("start")).as("dur"),
          col("fbt").isNotNull.cast("long").as("ev"))
      Stats.kmLifeTable(subjects, col("dur"), col("ev"),
          bucketWidth = 21600000000000L)
        .orderBy("t")
    },

    // ---- q126: distribution drift — per-group chi-square of the
    // value histogram against the pooled distribution, the "did this
    // source change shape?" production gate. Bins ride q72's shared
    // histogramBin kernel (exact IEEE scaling); observed/pooled/total
    // censuses are bounded aggregates; zero-observed cells complete
    // via a (groups × bins) cross of the two censuses; the statistic
    // is fixed-shape +−×÷ only (a p-value's incomplete gamma would
    // break the no-transcendentals rule) and the per-group sum runs
    // decimal-quantized (the dsum convention) so float order never
    // gates.
    Q("q126_drift_chi2", Some("""
      WITH h AS (SELECT event_type AS g, CAST(floor(value * 4) AS BIGINT) AS bin,
                        CAST(COUNT(*) AS BIGINT) AS o
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      p AS (SELECT bin, CAST(SUM(o) AS BIGINT) AS pb FROM h GROUP BY 1),
      gt AS (SELECT g, CAST(SUM(o) AS BIGINT) AS ng FROM h GROUP BY 1),
      nn AS (SELECT CAST(SUM(o) AS BIGINT) AS nn,
                    CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins FROM h),
      cells AS (SELECT gt.g, gt.ng, p.bin, p.pb, COALESCE(h.o, 0) AS o
                FROM gt CROSS JOIN p
                LEFT JOIN h ON h.g = gt.g AND h.bin = p.bin),
      t AS (SELECT g, ng,
              (CAST(o AS DOUBLE)
                 - CAST(pb AS DOUBLE) * CAST(ng AS DOUBLE)
                   / (SELECT CAST(nn AS DOUBLE) FROM nn))
              * (CAST(o AS DOUBLE)
                 - CAST(pb AS DOUBLE) * CAST(ng AS DOUBLE)
                   / (SELECT CAST(nn AS DOUBLE) FROM nn))
              / (CAST(pb AS DOUBLE) * CAST(ng AS DOUBLE)
                 / (SELECT CAST(nn AS DOUBLE) FROM nn)) AS term
            FROM cells)
      SELECT g AS event_type, ng AS n, (SELECT n_bins FROM nn) AS n_bins,
             CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS chi2
      FROM t GROUP BY 1, 2
      ORDER BY 1""")) { (s, d) =>
      Stats.chiSquareDrift(Tables.events(s, d), "event_type", col("value"),
          binsPerUnit = 4)
        .orderBy("event_type")
    },

    // ---- q124: event-transition matrix — the Markov path census
    // ("what do users do next") beside q86's fixed-path funnel: for
    // every consecutive same-user event pair (time order, event_id
    // tie-break), the (from, to) count and the row-conditional
    // probability. One key-partitioned lead window (the q54
    // exchange), a census bounded by |type|², totals re-attached by
    // broadcast; p is one correctly-rounded division so the frame
    // hash-gates.
    Q("q124_transition_matrix", Some("""
      WITH s AS (SELECT user_id, event_type,
                        LEAD(event_type) OVER (PARTITION BY user_id
                                               ORDER BY epoch_ns(ts), event_id) AS nxt
                 FROM events),
      t AS (SELECT event_type AS from_type, nxt AS to_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tn FROM t GROUP BY 1)
      SELECT t.from_type, t.to_type, t.n,
             CAST(t.n AS DOUBLE) / CAST(tot.tn AS DOUBLE) AS p
      FROM t JOIN tot USING (from_type)
      ORDER BY from_type, to_type""")) { (s, d) =>
      Temporal.transitionMatrix(Tables.events(s, d),
          keyCol = "user_id", typeCol = "event_type",
          tsCol = "ts", tieCol = "event_id")
        .orderBy("from_type", "to_type")
    },

    // ---- q120: one-pass column profiler — the ANALYZE / source-
    // intake census, on a derived events frame with injected nulls
    // (the raw fixture has none, and a null-count gate over an
    // all-non-null frame would pass vacuously). Numeric min/max
    // travel as exact doubles and string min/max as strings — two
    // typed channels so no float→text formatting (a known
    // cross-engine divergence) ever sits on the gated path. One
    // scan, one 1-row aggregate (the count-distincts share a single
    // Expand pass), unpivoted by projection — no collect, no second
    // scan.
    Q("q120_profile", Some("""
      WITH f AS (SELECT user_id,
                        event_type,
                        CASE WHEN value > 300 THEN NULL ELSE value END AS value_gapped,
                        CASE WHEN event_id % 11 = 0 THEN NULL ELSE props END AS props_gapped
                 FROM events)
      SELECT * FROM (
        SELECT 'user_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
               NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str,
               CAST(MIN(user_id) AS DOUBLE) AS min_num, CAST(MAX(user_id) AS DOUBLE) AS max_num
        FROM f
        UNION ALL
        SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(event_type) AS BIGINT),
               CAST(COUNT(DISTINCT event_type) AS BIGINT),
               MIN(event_type), MAX(event_type), NULL::DOUBLE, NULL::DOUBLE
        FROM f
        UNION ALL
        SELECT 'value_gapped', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(value_gapped) AS BIGINT),
               CAST(COUNT(DISTINCT value_gapped) AS BIGINT),
               NULL::VARCHAR, NULL::VARCHAR,
               CAST(MIN(value_gapped) AS DOUBLE), CAST(MAX(value_gapped) AS DOUBLE)
        FROM f
        UNION ALL
        SELECT 'props_gapped', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(props_gapped) AS BIGINT),
               CAST(COUNT(DISTINCT props_gapped) AS BIGINT),
               MIN(props_gapped), MAX(props_gapped), NULL::DOUBLE, NULL::DOUBLE
        FROM f)
      ORDER BY col_name""")) { (s, d) =>
      val f = Tables.events(s, d).select(
        col("user_id"),
        col("event_type"),
        when(col("value") > 300d, lit(null)).otherwise(col("value")).as("value_gapped"),
        when(pmod(col("event_id"), lit(11L)) === 0L, lit(null)).otherwise(col("props"))
          .as("props_gapped"))
      Stats.profileColumns(f,
          Seq("user_id", "event_type", "value_gapped", "props_gapped"))
        .orderBy("col_name")
    })
}
