package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.{SparkSuite, Tables}

/** [[Bounded]] is the one driver-side size probe: these tests pin its
  * edges directly, pin that no public entry point built on it fails or
  * truncates at the largest bound, and scan `src/main` so no
  * hand-rolled `limit(n + 1)` probe comes back. */
class BoundedSpec extends SparkSuite {

  private def ids(n: Int): DataFrame = spark.range(n).toDF("id")

  test("a bound ≤ 0 admits nothing, empty input included") {
    for (bound <- Seq(0L, -1L, -2L, Int.MinValue.toLong, Long.MinValue); n <- Seq(0, 3)) {
      assert(Bounded.collect(ids(n), bound).isEmpty, s"collect at $bound on $n rows")
      assert(!Bounded.fits(ids(n), bound), s"fits at $bound on $n rows")
    }
  }

  test("exactly bound rows fit; bound + 1 rows do not") {
    for (bound <- Seq(1, 2, 5)) {
      val at = Bounded.collect(ids(bound), bound)
      assert(at.map(_.map(_.getLong(0)).toSeq) === Some(0L until bound.toLong))
      assert(Bounded.fits(ids(bound), bound))
      assert(Bounded.collect(ids(bound + 1), bound).isEmpty)
      assert(!Bounded.fits(ids(bound + 1), bound))
    }
    assert(Bounded.collect(ids(0), 1).map(_.length) === Some(0))
    assert(Bounded.fits(ids(0), 1))
    val e = intercept[IllegalArgumentException](
      Bounded.collectOrFail(ids(3), 2)("too many ids"))
    assert(e.getMessage === "requirement failed: too many ids")
    assert(Bounded.collectOrFail(ids(2), 2)("unused").length === 2)
  }

  test("collect keeps the element type of a typed Dataset") {
    import spark.implicits._
    val ds = Seq(("a", 1L), ("b", 2L)).toDS()
    val got: Option[Array[(String, Long)]] = Bounded.collect(ds, 2)
    assert(got.map(_.toSeq.sorted) === Some(Seq(("a", 1L), ("b", 2L))))
    assert(Bounded.collect(ds, 1).isEmpty)
  }

  /** The plans of the actions `run` starts on frames that carry
    * `marker` as a column, keyed by action name; waits until every
    * action named in `expect` has reported. */
  private def actionPlans(marker: String, expect: Set[String])(run: => Unit)
      : Seq[(String, QueryExecution)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.treeString.contains(marker)) seen.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      run
      // listener events are async: wait until the expected actions land
      eventually(timeout(10.seconds)) {
        assert(expect.subsetOf(seen.asScala.map(_._1).toSet))
      }
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  private def hasLimit(qe: QueryExecution): Boolean =
    qe.analyzed.collectFirst { case l: GlobalLimit => l; case l: LocalLimit => l }.isDefined

  test("at Int.MaxValue and above no Limit lands in a probe's or census's plan") {
    val marker = "bounded_probe_marker"
    val df = ids(3).withColumnRenamed("id", marker)
    def probes(bound: Long): Seq[(String, String, () => Unit)] = Seq(
      ("Bounded.collect", "collect",
        () => assert(Bounded.collect(df, bound).map(_.length) === Some(3))),
      ("Bounded.fits", "count", () => assert(Bounded.fits(df, bound))),
      ("Stats.census", "collect",
        () => assert(Stats.collectCensus(df, bound, "census").rows.length === 3)))
    for (bound <- Seq(Int.MaxValue.toLong, Long.MaxValue); (name, action, run) <- probes(bound)) {
      val plans = actionPlans(marker, Set(action))(run())
      for ((a, qe) <- plans)
        assert(!hasLimit(qe), s"$name's $a at bound $bound planned a Limit:\n${qe.analyzed}")
    }
    // Below Int.MaxValue, bound + 1 is a valid limit and the same
    // listener sees it in every probe.
    for ((name, action, run) <- probes(Int.MaxValue - 1)) {
      val plans = actionPlans(marker, Set(action))(run())
      assert(plans.exists { case (a, qe) => a == action && hasLimit(qe) },
        s"$name below Int.MaxValue planned no Limit")
    }
  }

  /** Spark jobs `run` starts, counted by a listener on its job group;
    * a sentinel job started after it marks the end of its events. */
  private def jobsOf(run: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, sentinel) = (java.util.UUID.randomUUID.toString, java.util.UUID.randomUUID.toString)
    val started = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "jobs of one call")
      try run finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(10.seconds))(assert(started.contains(sentinel)))
    } finally sc.removeSparkListener(l)
    started.asScala.count(_ == group)
  }

  test("one census call starts no more jobs than one Bounded.collect of its frame") {
    def census = spark.range(200).groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("c"))
    val collectJobs = jobsOf(assert(Bounded.collect(census, 1000).map(_.length) === Some(7)))
    var local: DataFrame = null
    val censusJobs = jobsOf {
      local = Stats.census(census, 1000, "t", Stats.CensusSum.running("cum", "c", Nil, "k"))
    }
    assert(local.collect().map(_.getLong(2)).max === 200L)
    assert(collectJobs >= 1)
    assert(censusJobs <= collectJobs, s"census started $censusJobs jobs, collect $collectJobs")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
  private val Max = Int.MaxValue

  /** Every public entry point whose bound once became `bound + 1`: at
    * Int.MaxValue each must answer, and answer as at its default. */
  private lazy val entryPoints: Seq[(String, () => Any, () => Any)] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 40).localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 4)
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 30).localCheckpoint(true)
    val words = Seq("abab" -> 4L, "cd" -> 9L, "abc" -> 2L).toDF("word", "freq")
    val values = Seq((1L, "a", 1.5d), (2L, "a", 2.0d), (3L, "b", 7.25d), (4L, "b", 1.5d))
      .toDF("id", "g", "v")
    val sigs = Seq((1L, 0L), (2L, 1L), (3L, 3L), (4L, -1L)).toDF("doc_id", "sig")
    val short = emb.select(col("vec_id"), col("embedding"))
    val q = Seq.fill(64)(1.0d)
    lazy val cents = Similarity.ivfCentroids(emb, nCentroids = 4)
    lazy val index = Similarity.ivfIndex(emb, cents)
    def std(m: Features.StandardizerModel) = (m.means.toSeq, m.stds.toSeq)
    def pca(m: Features.PcaTopModel) = (m.means.toSeq, m.axis.toSeq, m.scale)
    def hist(m: Stats.HistogramBaseline) = (m.bins.toSeq, m.counts.toSeq)
    def bpe(r: (DataFrame, DataFrame)) = (rows(r._1), rows(r._2))
    Seq(
      ("Features.fitStandardizer",
        () => std(Features.fitStandardizer(emb, maxDims = Max)),
        () => std(Features.fitStandardizer(emb))),
      ("Features.fitPcaTop",
        () => pca(Features.fitPcaTop(emb, maxDims = Max)),
        () => pca(Features.fitPcaTop(emb))),
      ("Stats.fitHistogramBaseline",
        () => hist(Stats.fitHistogramBaseline(values, col("v"), maxBins = Max)),
        () => hist(Stats.fitHistogramBaseline(values, col("v")))),
      ("Bpe.learnMergesLocal",
        () => bpe(Bpe.learnMergesLocal(words, "word", "freq", 2, maxDictRows = Max)),
        () => bpe(Bpe.learnMergesLocal(words, "word", "freq", 2))),
      ("Bpe.learnMergesAuto",
        () => bpe(Bpe.learnMergesAuto(words, "word", "freq", 2, maxLocalDict = Max)),
        () => bpe(Bpe.learnMergesAuto(words, "word", "freq", 2))),
      ("QualityClassifier.collectModelOpt",
        () => QualityClassifier.collectModelOpt(docs, col("doc_id") <= 5L, maxVocab = Max),
        () => QualityClassifier.collectModelOpt(docs, col("doc_id") <= 5L)),
      ("CharLm.collectModel",
        () => CharLm.collectModel(docs, rareFactor = 10, maxModelRows = Max),
        () => CharLm.collectModel(docs, rareFactor = 10)),
      ("Curation.doremiMixWeights",
        () => rows(Curation.doremiMixWeights(docs, "source", rounds = 2, maxDomains = Max)),
        () => rows(Curation.doremiMixWeights(docs, "source", rounds = 2))),
      ("Similarity.mmrSelect",
        () => Similarity.mmrSelect(short, q, k = 3, maxShortlist = Max),
        () => Similarity.mmrSelect(short, q, k = 3)),
      ("Similarity.nearDupPairsAuto",
        () => rows(Similarity.nearDupPairsAuto(emb, threshold = 0.5, dim = 64, maxExactRows = Max)),
        () => rows(Similarity.nearDupPairsAuto(emb, threshold = 0.5, dim = 64))),
      ("Similarity.ivfServeBroadcast",
        () => rows(Similarity.ivfServeBroadcast(emb, index, cents, queries, k = 3, nProbe = 2,
          maxFitRows = Max)),
        () => rows(Similarity.ivfServeBroadcast(emb, index, cents, queries, k = 3, nProbe = 2))),
      ("Similarity.graphAnnBeam",
        () => rows(Similarity.graphAnnBeam(emb, queries, k = 3, maxFitRows = Max)),
        () => rows(Similarity.graphAnnBeam(emb, queries, k = 3))),
      ("Clustering.labelCohesion",
        () => rows(Clustering.labelCohesion(emb, maxLabels = Max)),
        () => rows(Clustering.labelCohesion(emb))),
      ("Dedup.deltaIngest",
        () => rows(Dedup.deltaIngest(docs.filter(col("doc_id") < 20), docs.filter(col("doc_id") >= 20),
          threshold = 0.5, maxBroadcastDelta = Max)),
        () => rows(Dedup.deltaIngest(docs.filter(col("doc_id") < 20), docs.filter(col("doc_id") >= 20),
          threshold = 0.5))),
      ("Dedup.hammingNearDupPairs",
        () => rows(Dedup.hammingNearDupPairs(sigs, 64, 2, sigCol = "sig", maxBitmaskReps = Max)),
        () => rows(Dedup.hammingNearDupPairs(sigs, 64, 2, sigCol = "sig"))),
      ("Dedup.jaccardSimilarityJoin",
        () => rows(Dedup.jaccardSimilarityJoin(docs, 0.3, maxBitmaskReps = Max)),
        () => rows(Dedup.jaccardSimilarityJoin(docs, 0.3))))
  }

  test("every bounded public entry point at Int.MaxValue answers as at its default bound") {
    for ((name, atMax, atDefault) <- entryPoints) {
      val got = atMax()
      assert(got === atDefault(), s"$name at Int.MaxValue diverged from its default bound")
    }
  }

  /** `src/main` call chains that hand-roll a size probe: a
    * `.limit(… + 1)` that reaches `.collect()` or `.count()`. Comment
    * lines are skipped; [[Bounded]] itself is the one allowed site. */
  private def handRolledProbes(root: java.io.File): Seq[String] = {
    val link = """^\s*\.\s*(\w+)\s*\(""".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala") && f.getName != "Bounded.scala") Seq(f)
      else Nil
    files(root).flatMap { f =>
      val code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").linesIterator
        .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") || t.startsWith("//") }
        .mkString("\n")
      // index just past the ')' that closes the '(' at `open`
      def close(open: Int): Int = {
        var depth = 1; var i = open + 1
        while (depth > 0 && i < code.length) {
          if (code(i) == '(') depth += 1 else if (code(i) == ')') depth -= 1
          i += 1
        }
        i
      }
      """\.limit\s*\(""".r.findAllMatchIn(code).flatMap { m =>
        val end = close(m.end - 1)
        val arg = code.substring(m.end, end - 1)
        // the method names chained after the limit, in order
        val chain = List.newBuilder[String]
        var at = end
        var next = link.findPrefixMatchOf(code.substring(at))
        while (next.isDefined) {
          chain += next.get.group(1)
          at = close(at + next.get.end - 1)
          next = link.findPrefixMatchOf(code.substring(at))
        }
        val calls = chain.result()
        if (arg.matches("""(?s).*\+\s*1\s*""") && calls.exists(Set("collect", "count")))
          Some(s"${f.getPath}: .limit($arg).${calls.mkString("(…).")}(…)")
        else None
      }
    }
  }

  test("src/main has no hand-rolled limit(n + 1) probe outside Bounded") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (${root.getAbsolutePath})")
    val found = handRolledProbes(root)
    assert(found.isEmpty, "size probes must go through Bounded.collect / Bounded.fits:\n" +
      found.mkString("\n"))
  }

  test("the probe scan flags the shapes it names and passes the others") {
    val dir = java.nio.file.Files.createTempDirectory("bounded-scan").toFile
    def scan(src: String): Int = {
      val f = new java.io.File(dir, "Probe.scala")
      java.nio.file.Files.write(f.toPath, src.getBytes("UTF-8"))
      handRolledProbes(dir).size
    }
    try {
      assert(scan("val n = df.limit(bound + 1).count() <= bound") === 1)
      assert(scan("val r = df.groupBy(col(\"k\")).agg(count(lit(1)))\n  .limit(maxBins + 1)\n" +
        "  .collect().map(_.getString(0))") === 1)
      assert(scan("val top = df.orderBy(col(\"x\").desc).limit(k + 1)\n  .withColumn(\"r\", lit(1))") === 0)
      assert(scan("val head = df.limit(1).collect()") === 0)
      assert(scan("  * a `limit(n+1).count()` probe, in a doc comment\n  // df.limit(n + 1).count()") === 0)
    } finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }
}
