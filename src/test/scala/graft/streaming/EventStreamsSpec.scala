package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, explode, lit, split, unix_micros}
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSuite
import graft.operators.{Bpe, CharLm, Clustering, Curation, Dedup, Quantization, TextRank}

/** Streaming shapes driven with AvailableNow over a JSON landing
  * directory — the batch-backfill path that shares code with the
  * live stream. */
class EventStreamsSpec extends SparkSuite with StreamParity {
  import spark.implicits._

  private val H = 3600L * 1000000000L // one hour in nanos

  /** The events schema of the landing directories below: `ts` is
    * epoch-nanos, as in the engine's events table. */
  private val eventSchema =
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** File-arrival source over a JSON landing directory
    * (`maxFilesPerTrigger` bounds the files one micro-batch reads). */
  private def readEventsJson(dir: String, maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  private def writeLanding(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory(Paths.get("target"), "landing")
    Files.writeString(dir.resolve("batch1.json"), lines.mkString("\n"))
    dir.toString
  }

  /** One file per line → one input partition per doc, so a single
    * micro-batch arrives partition-parallel (the shape where
    * arrival-order winners would be nondeterministic). */
  private def writeLandingFilePerLine(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory(Paths.get("target"), "landing")
    lines.zipWithIndex.foreach { case (l, i) =>
      Files.writeString(dir.resolve(f"part$i%03d.json"), l)
    }
    dir.toString
  }

  private def ev(id: Long, ts: Long, user: Long, typ: String, value: Double): String =
    s"""{"event_id":$id,"ts":$ts,"user_id":$user,"event_type":"$typ","value":$value,"props":"{}"}"""

  /** One row of the stateless table: the frame that lands, the
    * operator run on its stream, the batch reference the streamed
    * rows must equal, and the row's own asserts on the streamed rows. */
  private case class Stateless(in: DataFrame, op: DataFrame => DataFrame,
                               batch: DataFrame, check: Set[Seq[Any]] => Unit = _ => ())

  private def embeddings: DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")

  /** Batch-fit model, stateless score: each operator runs unchanged
    * on a file-source stream, with exact parity and no state store. */
  private val statelessRows: Seq[(String, () => Stateless)] = Seq(
    "stateless cluster assignment on a vector stream ≡ batch assignment; no state store" -> { () =>
      val emb = embeddings
      val model = Clustering.fit(emb, k = 4, iters = 2)
      val in = emb.orderBy("vec_id").limit(64)
      Stateless(in, Clustering.assignWithModel(_, model),
        Clustering.assignWithModel(in, model), s => assert(s.size === 64))
    },
    "stateless PQ encoding on a vector stream ≡ batch encodePq; no state store" -> { () =>
      val emb = embeddings
      val model = Quantization.fitPq(emb, m = 8, ksub = 8, iters = 1)
      val in = emb.orderBy("vec_id").limit(64)
      Stateless(in, Quantization.encodePq(_, model),
        Quantization.encodePq(in, model), s => assert(s.size === 64))
    },
    "stateless contamination scoring on a doc stream ≡ batch flagContaminated; no state" -> { () =>
      // The eval shingle set is fit in batch; ids % 3 == 0 quote a
      // benchmark passage (unique per-doc words otherwise, so clean
      // docs share NO 3-gram). The reference is the join-based batch
      // operator — two algorithms for the same contract.
      val docs = (0L until 90L).map { i =>
        val own = (1 to 6).map(j => s"u${i}w$j").mkString(" ")
        (i, if (i % 3 == 0) s"$own the quoted benchmark passage ends" else own)
      }.toDF("doc_id", "text")
      val evalSet = Seq((1000L, "intro the quoted benchmark passage ends outro"))
        .toDF("doc_id", "text")
      val model = Curation.collectEvalShingles(evalSet, n = 3)
      Stateless(docs, Curation.contaminationScoredWithModel(_, model),
        Curation.flagContaminated(docs, evalSet, n = 3), { s =>
          assert(s.size === 90)
          assert(s.exists(_(2) == true) && s.exists(_(2) == false),
            "fixture must exercise both contaminated and clean outcomes")
        })
    },
    "stateless model scoring on a document stream ≡ batch scoring; no state store in the plan" -> { () =>
      val docs = Seq((1L, "the cat sat"), (2L, "the cat spat"), (3L, "dog dog dog"),
        (4L, "zq"), (5L, "the the the cat")).toDF("doc_id", "text")
      val model = CharLm.collectModel(docs, rareFactor = 10)
      Stateless(docs, CharLm.scoreWithModel(_, model), CharLm.scoreWithModel(docs, model),
        s => assert(s.size === 5))
    },
    "streaming blocklist matching ≡ batch blocklistHits; no state store in the plan" -> { () =>
      val docs = Seq((1L, "she sells seashells"), (2L, "clean text"),
        (3L, "sea she sea"), (4L, "nothing here")).toDF("doc_id", "text")
      val patterns = Seq("she", "sea", "zzz")
      Stateless(docs, Curation.blocklistHits(_, patterns), Curation.blocklistHits(docs, patterns),
        s => assert(s.exists(_.head == 3L) && !s.exists(_.head == 4L),
          "fixture must exercise both hit and miss documents"))
    },
    "streaming DSIR scoring ≡ the batch census-join plan on the fit corpus; no state" -> { () =>
      // Censuses fit in batch (target = the alpha-speaking half); the
      // reference is the census-JOIN batch plan, which pins the
      // kernel's bucket scheme and fixed-point log to the SQL spelling.
      val docs = Seq((1L, "alpha beta gamma alpha"), (2L, "alpha beta beta"),
        (3L, "delta epsilon zeta"), (4L, "delta delta epsilon"), (5L, "solo"))
        .toDF("doc_id", "text")
      val target = docs.filter(col("doc_id") <= 2L)
      val model = Curation.collectDsirModel(docs, target, n = 2, buckets = 512)
      Stateless(docs, Curation.dsirScoredWithModel(_, model),
        Curation.dsirImportance(docs, target, n = 2, buckets = 512),
        s => assert(s.size === 5))
    },
    "streaming BM25 scoring ≡ batch ranker arithmetic on fit corpus; stateless" -> { () =>
      val docs = Seq(
        (1L, "spark window dup x"), (2L, "spark spark y z"),
        (3L, "window a b c d e f g"), (4L, "x y z"), (5L, "dup")).toDF("doc_id", "text")
      val terms = Seq("spark", "window", "dup")
      val model = TextRank.collectBm25Model(docs, terms)
      Stateless(docs, TextRank.bm25ScoreWithModel(_, model, terms),
        TextRank.bm25Search(docs, "doc_id", "text", terms, k = 10),
        s => assert(s.size === 4, "doc 4 matches no term and must not emit"))
    },
    "streaming BPE segmentation ≡ batch dict-join on fit corpus; stateless; unseen words segment" -> { () =>
      val docs = Seq((1L, "abab abab"), (2L, "abab ab"), (3L, "ba ba abab"))
        .toDF("doc_id", "text")
      val words = docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (mergeDf, dict) = Bpe.learnMerges(words, "word", "freq", 4)
      val merges = mergeDf.orderBy("merge_rank").select("lhs", "rhs")
        .as[(String, String)].collect().toSeq
      // Applying merges in rank order reproduces the trained
      // dictionary segmentation for every fit-corpus word.
      Stateless(docs, Bpe.segmentStatsWithMerges(_, merges),
        Bpe.segmentStats(docs, "doc_id", "text", dict), { s =>
          assert(s === rowSet(Bpe.segmentStatsWithMerges(docs, merges)))
          // Unseen word: merge replay SEGMENTS it (the dict join only
          // falls back to char count). Fit learned (a,b) then more:
          // "ab" never appeared as a word, yet segments to one token.
          val unseen = Bpe.segmentStatsWithMerges(
              Seq((9L, "ab")).toDF("doc_id", "text"), merges)
            .as[(Long, Long, Long, Long, Long)].collect().head
          assert(unseen === ((9L, 1L, 1L, 2L, 20000L)))
        })
    },
    "streaming delta-ingest triage ≡ batch corpusTriageScored; all four tiers; no state" -> { () =>
      // Constructed so EVERY route fires, with a containment tie:
      //  - delta 1 = corpus 10's token set reordered  -> exact
      //  - delta 2 adds one token to corpus 10 (jr 10/11 ≈ 0.909) -> near
      //  - delta 3 is fully inside corpus 20 (cont 1.0, jr 5/21)  -> contained
      //  - delta 4 shares nothing            -> accepted
      //  - delta 5 covers 9/10 of corpus 40 AND 50 equally (cont 0.9,
      //    jr 9/11 < 0.9) -> contained, tie broken to the SMALLER id 40.
      val corpus = Seq(
        (10L, "a b c d e f g h i j"),
        (20L, "p q r s t u v w x y z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11"),
        (40L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 n40"),
        (50L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 n50"))
      val delta = Seq(
        (1L, "j i h g f e d c b a"),
        (2L, "a b c d e f g h i j kk"),
        (3L, "p q r s t"),
        (4L, "zz yy ww"),
        (5L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 o5")).toDF("doc_id", "text")
      // Null-text rows: skipped on the corpus side at fit, routed to
      // 'accepted' on the scoring side — never a throw (the oracle's
      // md5(NULL)/unnest(NULL) semantics).
      val model = Dedup.fitCorpusTriage(
        (corpus :+ (60L, null.asInstanceOf[String])).toDF("doc_id", "text"))
      val batch = Dedup.corpusTriageScored(delta, model,
        threshold = 0.9, containThreshold = 0.8)
      Stateless(delta, Dedup.corpusTriageScored(_, model, 0.9, 0.8), batch, { _ =>
        val nulled = Dedup.corpusTriageScored(
            Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "text"), model)
          .as[(Long, String, Option[Long], Option[Double])].collect()
        assert(nulled.toSeq === Seq((7L, "accepted", None, None)))
        val b = batch.as[(Long, String, Option[Long], Option[Double])].collect().sortBy(_._1)
        assert(b(0) === ((1L, "exact", Some(10L), Some(1.0d))))
        assert(b(1)._2 === "near" && b(1)._3 === Some(10L) &&
          b(1)._4 === Some(math.floor(10.0 / 11.0 * 10000 + 0.5) / 10000))
        assert(b(2) === ((3L, "contained", Some(20L), Some(1.0d))))
        assert(b(3) === ((4L, "accepted", None, None)))
        assert(b(4) === ((5L, "contained", Some(40L), Some(0.9d))),
          "containment tie must break to the smallest corpus id")
        // The fit guard is a fail-fast limit probe, not an OOM.
        val e = intercept[IllegalArgumentException](
          Dedup.fitCorpusTriage(corpus.toDF("doc_id", "text"), maxPostingMass = 5L))
        assert(e.getMessage.contains("distinct-token mass"))
      })
    })

  for ((name, row) <- statelessRows) test(name) {
    val r = row()
    r.check(assertStreamMatchesBatch(r.in, r.op, r.batch))
  }

  test("streaming dedup drops same-fingerprint arrivals within the watermark") {
    // events 1 and 2 carry the same token SET ("hello world" vs
    // "world hello") — the canonical fingerprint matches, so Spark's
    // watermark-bounded dedup drops the second arrival; distinct
    // content passes through.
    val dir = writeLanding(Seq(
      ev(1, 1 * H, 1, "hello world", 1.0),
      ev(2, 1 * H + 10, 2, "world hello", 2.0),
      ev(3, 1 * H + 20, 3, "fresh text", 3.0),
      ev(4, 10 * H, 4, "sentinel", 0.0)))
    val src = readEventsJson(dir)
      .withColumn("event_time", EventStreams.tsCol)
      .withColumn("fp", graft.functions.TextFunctions.canonicalFingerprint(col("event_type")))
    val out = Files.createTempDirectory(Paths.get("target"), "dedupout")
    val q = src
      .withWatermark("event_time", "2 hours")
      .dropDuplicatesWithinWatermark("fp")
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/data")
      .select("event_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L))
  }

  test("stream-static enrichment join ≡ batch join+window; join holds no state") {
    // Events as a stream, the dimension static — windowed counts per
    // dimension attribute must equal the batch join, and the ONLY
    // state operator is the window aggregate (the join is broadcast,
    // stateless).
    val evRows = Seq(
      (1L, 0L, 10L, 1.0), (2L, 3600L * 1000000000L, 10L, 2.0),
      (3L, 10L * 1000000000L, 11L, 4.0), (4L, 20L * 1000000000L, 99L, 8.0))
    val dim = Seq((10L, "segA"), (11L, "segB")).toDF("k", "seg")
    val dir = Files.createTempDirectory(Paths.get("target"), "enrich-landing")
    evRows.zipWithIndex.foreach { case ((id, ts, u, v), i) =>
      Files.writeString(dir.resolve(f"e$i%02d.json"),
        s"""{"event_id":$id,"ts":$ts,"user_id":$u,"value":$v}""")
    }
    val stream = spark.readStream
      .schema("event_id LONG, ts LONG, user_id LONG, value DOUBLE").json(dir.toString)
    val counts = EventStreams.enrichedHourlyCounts(stream, dim, "user_id", "k", "seg")
    val sink = s"enrich_${System.nanoTime()}"
    val q = counts.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(sink)
      .select(unix_micros(col("window_start")), col("seg"), col("n"), col("sum_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    // user 99 has no dimension row -> dropped by the inner join;
    // window 0 holds events 1 (segA) and 3 (segB); window 1h holds 2.
    assert(got === Set(
      (0L, "segA", 1L, 1.0), (0L, "segB", 1L, 4.0),
      (3600L * 1000000L, "segA", 1L, 2.0)))
    val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    assert(st.length === 1, s"only the window aggregate may hold state: $st")
  }

  test("watermarked hourly window aggregate over file arrivals") {
    // The sentinel advances the watermark past the earlier windows;
    // its own window stays open and must NOT be emitted — that
    // non-emission is the watermark working.
    val dir = writeLanding(Seq(
      ev(1, 1 * H + 10, 1, "click", 1.0),
      ev(2, 1 * H + 20, 2, "click", 2.0),
      ev(3, 2 * H + 5, 1, "buy", 5.0),
      ev(4, 10 * H, 3, "sentinel", 0.0)))
    val out = Files.createTempDirectory(Paths.get("target"), "winout")
    val q = EventStreams.writeParquetSink(
      EventStreams.hourlyCounts(readEventsJson(dir)),
      s"$out/data", s"$out/ckpt")
    q.awaitTermination(60000)
    val got = spark.read.parquet(s"$out/data")
      .select("event_type", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("click", 2L, 3.0), ("buy", 1L, 5.0)))
  }

  test("streaming HLL registers match batch HLL bit-for-bit on closed windows") {
    // Users 1..6 in hour-1 clicks (user 2 twice — duplicates must
    // not move a distinct sketch), users 7..8 in hour-1 buys; the
    // sentinel closes hour 1 and its own window stays open.
    val rows = Seq(
      ev(1, 1 * H + 10, 1, "click", 1.0), ev(2, 1 * H + 20, 2, "click", 1.0),
      ev(3, 1 * H + 30, 2, "click", 1.0), ev(4, 1 * H + 40, 3, "click", 1.0),
      ev(5, 1 * H + 50, 4, "click", 1.0), ev(6, 1 * H + 60, 5, "click", 1.0),
      ev(7, 1 * H + 70, 6, "click", 1.0),
      ev(8, 1 * H + 80, 7, "buy", 1.0), ev(9, 1 * H + 90, 8, "buy", 1.0),
      ev(10, 10 * H, 99, "sentinel", 0.0))
    val dir = writeLanding(rows)
    val out = Files.createTempDirectory(Paths.get("target"), "hllout")
    val q = EventStreams.writeParquetSink(
      EventStreams.hllRegistersWindowed(readEventsJson(dir), p = 6),
      s"$out/data", s"$out/ckpt")
    q.awaitTermination(60000)
    val registers = spark.read.parquet(s"$out/data")
    // Only hour 1 closed; the streaming registers finalize through
    // the SAME fold the batch op uses...
    val streamed = graft.operators.Sketches
      .hllFinalize(registers, Seq("window_start", "event_type"), p = 6)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_regs"), r.getAs[Long]("s_scaled"),
          r.getAs[Double]("nd_estimate")))).toMap
    // ...so it must equal batch hyperloglog over the same rows,
    // register-for-register and bit-for-bit in the estimate.
    val batchInput = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        (1L, "click"), (2L, "click"), (2L, "click"), (3L, "click"), (4L, "click"),
        (5L, "click"), (6L, "click"), (7L, "buy"), (8L, "buy"))
      .map(t => org.apache.spark.sql.Row(t._1, t._2))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType))))
    val batch = graft.operators.Sketches
      .hyperloglog(batchInput, "user_id", Seq("event_type"), p = 6)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_regs"), r.getAs[Long]("s_scaled"),
          r.getAs[Double]("nd_estimate")))).toMap
    assert(streamed.keySet === Set("click", "buy"), "open sentinel window leaked")
    assert(streamed === batch, "streaming and batch HLL diverged")
    // The streamed register rows also COMPOSE: feeding the closed
    // window's (g, reg, maxrho) state into the pair-algebra core
    // yields the same union/intersection estimates as the batch
    // operator over the same rows — sketch state is the mergeable
    // interface, not just a per-group summary.
    val streamedAlg = graft.operators.Sketches
      .hllPairAlgebraFromRegisters(
        registers.select(col("event_type").as("g"), col("reg"), col("maxrho")), p = 6)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val batchAlg = graft.operators.Sketches
      .hllPairAlgebra(batchInput, "user_id", "event_type", p = 6)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(streamedAlg === batchAlg && streamedAlg.keySet === Set(("buy", "click")),
      "streamed-register pair algebra diverged from batch")
  }

  test("streaming sessions ≡ batch sessionize aggregation on closed sessions") {
    // Same event set through both sessionizers: the streaming
    // flatMapGroupsWithState path (30-min gap, watermark-closed) and
    // the batch window path aggregated to one row per session. The
    // sentinel closes everything, so the outputs must agree
    // session-for-session.
    val M = 60L * 1000000000L // one minute in nanos
    val rows = Seq(
      ev(1, 10 * M, 1, "click", 1.0), ev(2, 15 * M, 1, "click", 2.0),
      ev(3, 80 * M, 1, "click", 4.0),                      // >30min gap: new session
      ev(4, 12 * M, 2, "view", 8.0),
      ev(5, 600 * M, 9, "sentinel", 0.0))
    val dir = writeLandingFilePerLine(rows)
    val out = Files.createTempDirectory(Paths.get("target"), "sessparity")
    val q = EventStreams.writeParquetSink(
      EventStreams.sessionize(
        readEventsJson(dir), gapMinutes = 30).toDF(),
      s"$out/data", s"$out/ckpt")
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$out/data")
      .select("userId", "startTs", "endTs", "nEvents", "totalValue")
      .as[(Long, Long, Long, Int, Double)].collect().toSet
    val batchInput = Seq((1L, 10 * M, 1.0), (1L, 15 * M, 2.0), (1L, 80 * M, 4.0),
        (2L, 12 * M, 8.0), (9L, 600 * M, 0.0))
      .toDF("user_id", "ts", "value")
    val batch = graft.operators.Temporal.sessionize(
        batchInput, "user_id", "ts", gap = 30L * 60L * 1000000000L)
      .groupBy($"user_id", $"session_idx")
      .agg(org.apache.spark.sql.functions.min($"ts").as("startTs"),
        org.apache.spark.sql.functions.max($"ts").as("endTs"),
        org.apache.spark.sql.functions.count($"ts").cast("int").as("nEvents"),
        org.apache.spark.sql.functions.sum($"value").as("totalValue"))
      .select($"user_id", $"startTs", $"endTs", $"nEvents", $"totalValue")
      .as[(Long, Long, Long, Int, Double)].collect().toSet
    // the sentinel's own session is still open on the streaming side
    val batchClosed = batch.filter(_._1 != 9L)
    assert(streamed === batchClosed,
      s"streaming and batch sessionization diverged: $streamed vs $batchClosed")
  }

  test("session_window aggregate ≡ stateful sessionize on closed sessions") {
    // The declarative Catalyst session_window path must agree with
    // the custom flatMapGroupsWithState path session-for-session —
    // same gap, same watermark, same closed set. (Fixture times are
    // micro-aligned so the tsCol nano→micro truncation is exact and
    // the reconstructed session_end matches Session.endTs
    // bit-for-bit.)
    val M = 60L * 1000000000L
    val rows = Seq(
      ev(1, 10 * M, 1, "click", 1.0), ev(2, 15 * M, 1, "click", 2.0),
      ev(3, 80 * M, 1, "click", 4.0),
      ev(4, 12 * M, 2, "view", 8.0),
      ev(5, 600 * M, 9, "sentinel", 0.0))
    val dir = writeLandingFilePerLine(rows)
    val outW = Files.createTempDirectory(Paths.get("target"), "sesswin")
    val qw = EventStreams.writeParquetSink(
      EventStreams.sessionWindowAgg(
        readEventsJson(dir), gapMinutes = 30),
      s"$outW/data", s"$outW/ckpt")
    qw.awaitTermination(60000)
    val windowed = spark.read.parquet(s"$outW/data")
      .select("user_id", "session_start_ts", "session_end_ts", "n_events", "total_value")
      .as[(Long, Long, Long, Int, Double)].collect().toSet
    val outS = Files.createTempDirectory(Paths.get("target"), "sessstate")
    val qs = EventStreams.writeParquetSink(
      EventStreams.sessionize(
        readEventsJson(dir), gapMinutes = 30).toDF(),
      s"$outS/data", s"$outS/ckpt")
    qs.awaitTermination(60000)
    val stateful = spark.read.parquet(s"$outS/data")
      .select("userId", "startTs", "endTs", "nEvents", "totalValue")
      .as[(Long, Long, Long, Int, Double)].collect().toSet
    assert(windowed.nonEmpty && windowed === stateful,
      s"session_window and flatMapGroupsWithState diverged: $windowed vs $stateful")
  }

  test("session_window append emission boundary: window_end <= watermark, in milliseconds") {
    // q188's oracle replays Spark's eviction rule, so the exact
    // boundary comparison must be pinned: a session whose window end
    // (last event + gap) lands EXACTLY on the watermark (max event
    // time - delay, millisecond domain). Three sessions: one clearly
    // closed (must emit), one exactly at the boundary (pins <= vs <),
    // and the sentinel's own (open, must not emit).
    val t1 = 1000000000000000L // ns, ms-aligned
    val msNs = 1000000L
    // sentinel at t1 + gap + delay → watermark_ms == window_end_ms(user 1)
    val rows = Seq(
      ev(1, t1, 1, "a", 1.0),
      ev(2, t1 - 3600000L * msNs, 2, "a", 2.0), // 1h earlier: clearly closed
      ev(3, t1 + 9000000L * msNs, 9, "w", 0.0))
    val dir = writeLandingFilePerLine(rows)
    val sink = s"sessbound_${System.nanoTime()}"
    val q = EventStreams.sessionWindowAgg(
        readEventsJson(dir), gapMinutes = 30)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table(sink).select("user_id")
      .as[Long].collect().toSet
    assert(emitted.contains(2L), "clearly-closed session must emit")
    assert(!emitted.contains(9L), "the sentinel's open session must not emit")
    assert(emitted.contains(1L),
      "boundary session (window_end == watermark) must emit — the q188 oracle encodes <=")
  }

  test("session_window append ≡ sequential gap+eviction replay on random event streams") {
    // The q188 contract on random data: gap-sessionize sequentially,
    // then emit exactly the sessions whose window end has passed the
    // watermark (<= rule, millisecond domain) — open sessions stay in
    // state. Small key/time ranges force in-gap collisions, same-ts
    // ties (counts only — double sums are order-dependent on ties),
    // and sessions on both sides of the watermark.
    val gapUs = 1800000000L; val delayMs = 7200000L
    val gen = for {
      n <- org.scalacheck.Gen.chooseNum(3, 30)
      rows <- org.scalacheck.Gen.listOfN(n, for {
        u <- org.scalacheck.Gen.chooseNum(1L, 3L)
        // minutes over a ~5h span, some beyond watermark reach
        t <- org.scalacheck.Gen.chooseNum(0L, 300L)
      } yield (u, 1000000000000000L + t * 60000000L))
    } yield rows
    for (rows <- graft.PropSampling.sample(gen, n = 4)) {
      val lines = rows.zipWithIndex.map { case ((u, tu), i) =>
        ev(i.toLong, tu * 1000L, u, "a", 1.0) }
      val dir = writeLandingFilePerLine(lines)
      val sink = s"sessrand_${System.nanoTime()}"
      val q = EventStreams.sessionWindowAgg(
          readEventsJson(dir), gapMinutes = 30)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(sink)
        .select("user_id", "session_start_ts", "session_end_ts", "n_events")
        .as[(Long, Long, Long, Int)].collect().toSet
      // sequential replay (micros), then the <= ms eviction rule
      val wmMs = rows.map(_._2).max / 1000L - delayMs
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val ts = es.map(_._2).sorted
        val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head <= gapUs) (t :: acc.head) :: acc.tail
          else List(t) :: acc
        }.map(_.reverse).reverse
        sessions.collect {
          case s if (s.last + gapUs) / 1000L <= wmMs =>
            (u, s.head * 1000L, s.last * 1000L, s.size)
        }
      }.toSet
      assert(got === expected, s"append eviction replay diverged on $rows")
    }
  }

  test("sessionization closes sessions at the gap, keeps state bounded") {
    // user 1: two events 10 min apart (one session), then one 2h
    // later (second session, still open at end of stream).
    // user 2: one event.
    val dir = writeLanding(Seq(
      ev(1, 1 * H, 1, "a", 1.0),
      ev(2, 1 * H + 600L * 1000000000L, 1, "a", 2.0),
      ev(3, 3 * H, 1, "a", 4.0),
      ev(4, 1 * H, 2, "b", 8.0),
      // sentinel far in the future advances the watermark so all
      // earlier sessions time out and flush
      ev(5, 10 * H, 3, "w", 0.0)))
    val out = Files.createTempDirectory(Paths.get("target"), "sessout")
    val sessions = EventStreams.sessionize(
      readEventsJson(dir), gapMinutes = 30)
    val q = sessions.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/data")
      .as[EventStreams.Session].collect()
      .map(s => (s.userId, s.nEvents, s.totalValue)).toSet
    // user 1 session A: 2 events, 3.0; session B: 1 event, 4.0;
    // user 2: 1 event, 8.0. (user 3's sentinel stays open.)
    assert(got == Set((1L, 2, 3.0), (1L, 1, 4.0), (2L, 1, 8.0)))
  }

  test("q205 contract: stateful-session timeout fires STRICTLY below the watermark") {
    // The q205 oracle replays this rule: a session flushes on
    // event-time timeout iff `end_ms + gap_ms < wm_ms` (STRICT —
    // unlike q188's session_window eviction, which is `<=`; the
    // GroupState timeout comparison is `timeoutTimestamp < watermark`
    // in FlatMapGroupsWithStateExec). Exact-boundary fixture:
    // sentinel at 20 H ⇒ wm_ms = 72e6 − 7.2e6; single-event sessions
    // with timeout = wm − 1 / wm / wm + 1.
    def evAt(id: Long, user: Long, ms: Long) = ev(id, ms * 1000000L, user, "a", 1.0)
    val dir = writeLanding(Seq(
      evAt(1, 10, 63000000L), // timeout == wm → must NOT flush
      evAt(2, 11, 62999999L), // timeout = wm − 1 → flushes
      evAt(3, 12, 63000001L), // timeout = wm + 1 → must NOT flush
      ev(4, 20L * H, 99, "w", 0.0))) // sentinel advances the watermark
    val out = Files.createTempDirectory(Paths.get("target"), "q205pin")
    val q = EventStreams.sessionize(
        readEventsJson(dir), gapMinutes = 30)
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val users = spark.read.parquet(s"$out/data")
      .select("userId").as[Long].collect().toSet
    assert(users === Set(11L), s"timeout boundary drifted: flushed users = $users")
  }

  test("stream-stream attribution join ≡ the same join on batch frames; join state present") {
    // impressions and clicks for users 1/2/3; horizon 1 hour.
    val impLines = Seq(
      ev(100, 1 * H, 1, "view", 0.0),
      ev(101, 2 * H, 2, "view", 0.0),
      ev(102, 2 * H + H / 2, 1, "view", 0.0),
      ev(103, 2 * H + H / 4, 1, "view", 0.0))
    val clkLines = Seq(
      ev(200, 1 * H + H / 4, 1, "click", 1.0), // inside imp 100's window only
      ev(201, 2 * H + 3 * H / 5, 1, "click", 1.0), // inside BOTH 102 and 103
      ev(202, H / 2, 1, "click", 1.0), // before any impression: no match
      ev(203, 3 * H + 9 * H / 10, 2, "click", 1.0), // past imp 101's horizon
      ev(204, 2 * H + H / 4, 2, "click", 1.0), // inside imp 101's window
      ev(205, 2 * H + 3 * H / 4, 3, "click", 1.0)) // user with no impressions
    val impDir = writeLanding(impLines)
    val clkDir = writeLanding(clkLines)
    val out = Files.createTempDirectory(Paths.get("target"), "attrout")
    val joined = EventStreams.attributionJoin(
      readEventsJson(impDir),
      readEventsJson(clkDir),
      horizon = "1 hour")
    val q = EventStreams.writeParquetSink(joined, s"$out/data", s"$out/ckpt")
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$out/data")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Twin claim: the SAME operator on batch frames (watermarks are
    // no-ops in batch) computes the expected pair set.
    def batchFrame(lines: Seq[String]) =
      spark.read.schema(eventSchema).json(
        spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    val expected = EventStreams.attributionJoin(
        batchFrame(impLines), batchFrame(clkLines), horizon = "1 hour")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === expected, "stream-stream join diverged from batch twin")
    assert(expected === Set(
      (1L, 100L, 200L), (1L, 102L, 201L), (1L, 103L, 201L), (2L, 101L, 204L)))
    // The join must actually hold (bounded) state — it is not a
    // stateless projection like the model-deployment twins.
    val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    assert(st.nonEmpty, "stream-stream join should report a state operator")
  }

  test("left-outer attribution: unattributed impressions flush with null clicks after the horizon closes") {
    val impLines = Seq(
      ev(100, 1 * H, 1, "view", 0.0),
      ev(101, 2 * H, 2, "view", 0.0),
      ev(102, 2 * H + H / 2, 1, "view", 0.0),
      ev(103, 2 * H + H / 4, 1, "view", 0.0),
      ev(104, 5 * H, 9, "view", 0.0), // user 9 never clicks
      // impression-side sentinel: the JOIN watermark is the MIN over
      // both inputs, so the impression watermark must also advance
      // past imp 104's horizon. The sentinel's own horizon never
      // closes, so it stays buffered and unemitted — excluded below.
      ev(105, 150 * H, 888, "view", 0.0))
    // Delivery shape matters for OUTER results: all real events land
    // in the FIRST micro-batch (inner matches emit immediately, as the
    // inner test proves), then two far-future click sentinels arrive
    // as separate later batches — the first advances the join
    // watermark (the MIN over both inputs, hence the impression-side
    // sentinel above) past every real impression's horizon, and the
    // second gives the state store a batch in which to evict-emit the
    // unmatched rows. Outer emission NEEDS that later batch; that is
    // the documented watermark-dependence of outer results.
    val clkDir = Files.createTempDirectory(Paths.get("target"), "landing")
    Files.writeString(clkDir.resolve("part0.json"), Seq(
      ev(200, 1 * H + H / 4, 1, "click", 1.0),
      ev(201, 2 * H + 3 * H / 5, 1, "click", 1.0),
      ev(204, 2 * H + H / 4, 2, "click", 1.0)).mkString("\n"))
    Files.writeString(clkDir.resolve("part1.json"), ev(998, 100 * H, 777, "click", 1.0))
    Files.writeString(clkDir.resolve("part2.json"), ev(999, 200 * H, 777, "click", 1.0))
    val out = Files.createTempDirectory(Paths.get("target"), "attrlout")
    val joined = EventStreams.attributionJoin(
      readEventsJson(writeLanding(impLines)),
      readEventsJson(clkDir.toString, maxFilesPerTrigger = 1),
      horizon = "1 hour", joinType = "left_outer")
    val q = EventStreams.writeParquetSink(joined, s"$out/data", s"$out/ckpt")
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$out/data")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(streamed === Set(
      (1L, 100L, Some(200L)), (1L, 102L, Some(201L)), (1L, 103L, Some(201L)),
      (2L, 101L, Some(204L)), (9L, 104L, None)),
      s"left-outer attribution diverged: $streamed")
  }
}
