package graft.operators

import graft.{PropSampling, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Differential gate for the sufficient-statistics OLS: the
  * distributed aggregate must reproduce an in-test exact-sum
  * computation of the same closed form bit-for-bit (exact decimal
  * sums make the result partitioning-independent — that IS the
  * operator's contract), and degenerate groups must come back null,
  * not Inf/NaN. */
class StatsSpec extends SparkSuite {
  import spark.implicits._

  private def reference(rows: Seq[(String, Long, Double)])
      : Map[String, (Long, Option[Double], Option[Double], Option[Double])] =
    rows.groupBy(_._1).view.mapValues { g =>
      val n = g.size.toLong
      // y quantized to the operator's DECIMAL(18,2) before summing
      def q(y: Double): BigDecimal =
        BigDecimal(y).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      val sx = g.map(r => BigDecimal(r._2)).sum.toDouble
      val sy = g.map(r => q(r._3)).sum.toDouble
      val sxx = g.map(r => BigDecimal(r._2) * BigDecimal(r._2)).sum.toDouble
      val sxy = g.map(r => BigDecimal(r._2) * q(r._3)).sum.toDouble
      val syy = g.map(r => q(r._3) * q(r._3)).sum.toDouble
      val nd = n.toDouble
      val dx = nd * sxx - sx * sx
      val dy = nd * syy - sy * sy
      val cov = nd * sxy - sx * sy
      if (dx == 0.0) (n, None, None, None)
      else {
        val slope = cov / dx
        val r2 = if (dy == 0.0) None else Some(cov * cov / (dx * dy))
        (n, Some(slope), Some((sy - slope * sx) / nd), r2)
      }
    }.toMap

  test("linearFit ≡ exact-sum closed form, bit-for-bit, any partitioning") {
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c")
        x <- Gen.chooseNum(-1000L, 1000L)
        y <- Gen.chooseNum(-99999, 99999).map(_ / 100.0)
      } yield (g, x, y))
    } yield rows
    for (rows <- PropSampling.sample(gen, n = 6)) {
      val got = Stats.linearFit(
          rows.toDF("g", "x", "y").repartition(7),
          Seq("g"), col("x"), col("y"))
        .collect().map { r =>
          def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
          r.getString(0) -> ((r.getLong(1), opt(2), opt(3), opt(4)))
        }.toMap
      assert(got === reference(rows), s"linearFit diverged on $rows")
    }
  }

  test("perfect line: slope/intercept recovered exactly, r2 = 1") {
    val rows = (1L to 50L).map(x => ("g", x, 3.0 * x + 7.0))
    val r = Stats.linearFit(rows.toDF("g", "x", "y"), Seq("g"), col("x"), col("y"))
      .collect().head
    assert(r.getDouble(2) === 3.0)
    assert(r.getDouble(3) === 7.0)
    assert(r.getDouble(4) === 1.0)
  }

  test("null x or y drops the pair entirely — n and sums cover observed pairs only") {
    val rows = Seq(
      ("g", Some(0L), Some(5.0)), ("g", Some(1L), Some(1.0)),
      ("g", Some(2L), None: Option[Double]), ("g", None: Option[Long], Some(9.0)))
    val r = Stats.linearFit(rows.toDF("g", "x", "y"), Seq("g"), col("x"), col("y"))
      .collect().head
    // fit over the two observed pairs: slope -4, intercept 5, n = 2
    assert(r.getLong(1) === 2L)
    assert(r.getDouble(2) === -4.0)
    assert(r.getDouble(3) === 5.0)
  }

  test("decimal-overflow pairs drop like nulls — n never counts a row the sums skipped") {
    // x = 1e13 overflows decimal(12,0) → null after cast; the row
    // must vanish from n AND the sums (pre-cast filtering counted it
    // in n while every sum skipped it — silently skewed slope).
    val rows = Seq(
      ("g", Some(0L), Some(5.0)), ("g", Some(1L), Some(1.0)),
      ("g", Some(10000000000000L), Some(2.0)))
    val r = Stats.linearFit(rows.toDF("g", "x", "y"), Seq("g"), col("x"), col("y"))
      .collect().head
    assert(r.getLong(1) === 2L)
    assert(r.getDouble(2) === -4.0)
    assert(r.getDouble(3) === 5.0)
  }

  test("degenerate groups yield nulls, never Inf/NaN") {
    val rows = Seq(("constx", 5L, 1.0), ("constx", 5L, 9.0), ("single", 1L, 2.0),
      ("consty", 1L, 4.0), ("consty", 2L, 4.0))
    val out = Stats.linearFit(rows.toDF("g", "x", "y"), Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("constx").isNullAt(2) && out("constx").isNullAt(4))
    assert(out("single").isNullAt(2))
    // constant y on varying x: slope 0, r2 undefined (dy = 0)
    assert(out("consty").getDouble(2) === 0.0)
    assert(out("consty").isNullAt(4))
  }

  test("zscoreOutliers ≡ driver-side replay; degenerate and null groups flag nothing") {
    import spark.implicits._
    // One wild value per group among tight clusters, plus a
    // constant group, a singleton group, and nulls.
    val rows = Seq(
      ("a", 1L, Some(10.0)), ("a", 2L, Some(10.5)), ("a", 3L, Some(9.5)),
      ("a", 4L, Some(10.25)), ("a", 5L, Some(10.1)), ("a", 6L, Some(9.9)),
      ("a", 7L, Some(60.0)),
      ("const", 8L, Some(4.0)), ("const", 9L, Some(4.0)),
      ("single", 10L, Some(2.0)),
      ("a", 11L, None))
    val df = rows.toDF("g", "id", "v")
    val got = Stats.zscoreOutliers(df, Seq("g"), "id", col("v"), threshold = 2.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // Driver replay of the operator's exact arithmetic: quantize to
    // 2dp half-up, sum in EXACT BigDecimal (the engine's decimal
    // sums), then derive through the same double ops.
    val quant = rows.filter(r => r._1 == "a" && r._3.isDefined)
      .map(r => r._2 -> BigDecimal(r._3.get).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    val n = quant.length.toDouble
    val sv = quant.map(_._2).sum.toDouble
    val svv = quant.map { case (_, d) => d * d }.sum.toDouble
    val sd = math.sqrt((n * svv - sv * sv) / (n * (n - 1.0d)))
    val expect = quant
      .map { case (id, d) => id -> (d.toDouble - sv / n) / sd }
      .filter { case (_, z) => math.abs(z) > 2.0 }.toMap
    assert(expect.nonEmpty && got === expect,
      s"z replay diverged: got $got expect $expect")
    assert(!got.contains(8L) && !got.contains(9L) && !got.contains(10L) &&
      !got.contains(11L), "degenerate/null rows must never flag")
  }

  test("chiSquareDrift: zero on identical shapes, large on a shifted group, exact decimal replay") {
    // groups a and b share one distribution; c is shifted far away
    val rows = (0 until 200).flatMap { i =>
      val v = (i % 10).toDouble / 2.0
      Seq(("a", v), ("b", v), ("c", v + 50.0))
    }
    val df = rows.toDF("g", "v")
    val got = Stats.chiSquareDrift(df, "g", col("v"), binsPerUnit = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // driver replay with the same quantized-decimal summation
    val bins = rows.map { case (g, v) => (g, math.floor(v * 4).toLong) }
    val hist = bins.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pooled = bins.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val gtot = bins.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = bins.size.toDouble
    for ((g, (gn, nBins, chi2)) <- got) {
      assert(gn === gtot(g) && nBins === pooled.size.toLong)
      val expect = pooled.toSeq.map { case (b, pb) =>
        val e = pb.toDouble * gtot(g).toDouble / n
        val o = hist.getOrElse((g, b), 0L).toDouble
        BigDecimal((o - e) * (o - e) / e).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(chi2 === expect, s"chi2 replay diverged for $g")
    }
    // identical groups score identically and far below the shifted one
    assert(got("a")._3 === got("b")._3)
    assert(got("c")._3 > got("a")._3 * 2 + 100.0,
      s"shifted group must dominate: ${got.view.mapValues(_._3).toMap}")
  }

  test("chiSquareVsBaseline ≡ chiSquareDrift on the pooled margin; unseen mass reported, not scored") {
    val ev = graft.Tables.events(spark, sfDir)
    val drift = Stats.chiSquareDrift(ev, "event_type", col("value"), binsPerUnit = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val model = Stats.fitHistogramBaseline(ev, col("value"), binsPerUnit = 4)
    val hist = ev.filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(col("event_type"),
        Sketches.histogramBin(col("value"), 4).as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val vs = Stats.chiSquareVsBaseline(hist, Seq("event_type"), "bin", "cnt", model)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(vs.view.mapValues(v => (v._1, v._2)).toMap === drift,
      "baseline-scored chi2 must equal the one-pass drift statistic bit-for-bit")
    assert(vs.values.forall(_._3 === 0L), "nothing is unseen against the pooled fit")
    // a bin the baseline never saw: mass lands in n_unseen and does
    // NOT perturb chi2 — unseen drift is signaled exactly once
    import spark.implicits._
    val withAlien = hist.unionByName(
      Seq(("click", 10000000L, 7L)).toDF("event_type", "bin", "cnt"))
    val vs2 = Stats.chiSquareVsBaseline(withAlien, Seq("event_type"), "bin", "cnt", model)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(vs2("click")._2 === 7L, s"alien mass must report as unseen: $vs2")
    assert(vs2("click")._1 === vs("click")._2,
      "unseen mass must not smear into the in-model chi2")
    // duplicate (group, bin) rows (per-micro-batch re-emission) merge
    // before scoring — a split cell must not split its squared term
    val aBin = hist.filter(col("event_type") === "click").select("bin").head.getLong(0)
    val dup = hist.filter(!(col("event_type") === "click" && col("bin") === aBin))
      .unionByName(hist.filter(col("event_type") === "click" && col("bin") === aBin)
        .select(col("event_type"), col("bin"), (col("cnt") - 1L).as("cnt")))
      .unionByName(Seq(("click", aBin, 1L)).toDF("event_type", "bin", "cnt"))
    val vs3 = Stats.chiSquareVsBaseline(dup, Seq("event_type"), "bin", "cnt", model)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(vs3("click") === vs("click")._2, "duplicate bins must merge before scoring")
  }

  test("profileColumns: per-column null/distinct/min-max on a hand fixture; typed channels") {
    val df = Seq(
      (Some(3L), Some("b"), Some(1.5)),
      (Some(1L), None, Some(-2.0)),
      (None, Some("a"), Some(1.5)),
      (Some(3L), Some("c"), None))
      .toDF("k", "s", "v")
    val got = Stats.profileColumns(df, Seq("k", "s", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("k", "s", "v"))
    val k = got("k")
    assert((k.getLong(1), k.getLong(2), k.getLong(3)) === ((4L, 1L, 2L)))
    assert(k.isNullAt(4) && k.isNullAt(5)) // numeric: string channel empty
    assert((k.getDouble(6), k.getDouble(7)) === ((1.0, 3.0)))
    val s = got("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) === ((4L, 1L, 3L)))
    assert((s.getString(4), s.getString(5)) === (("a", "c")))
    assert(s.isNullAt(6) && s.isNullAt(7)) // string: numeric channel empty
    val v = got("v")
    assert((v.getLong(2), v.getLong(3)) === ((1L, 2L)))
    assert((v.getDouble(6), v.getDouble(7)) === ((-2.0, 1.5)))
    // unsupported column types fail fast instead of profiling garbage
    val arr = Seq((1L, Seq(1, 2))).toDF("k", "a")
    intercept[IllegalArgumentException](Stats.profileColumns(arr, Seq("a")))
  }

  test("madOutliers ≡ driver replay: exact median picks, ties, constant groups flag nothing") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(3, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c")
        // Quarter-grain values force heavy ties; a wide outlier tail
        // makes the MAD flag bind.
        v <- Gen.oneOf(Gen.chooseNum(-40, 40), Gen.chooseNum(-4000, 4000))
      } yield (g, v / 4.0d))
    } yield rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.madOutliers(rows.toDF("id", "g", "x"), Seq("g"), "id", col("x"))
        .collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5))))
        .toMap
      val expected = rows.groupBy(_._2).flatMap { case (g, rs) =>
        def pick(xs: Seq[Double]): Double = xs.sorted.apply((xs.size + 1) / 2 - 1)
        val med = pick(rs.map(_._3))
        val mad = pick(rs.map(r => math.abs(r._3 - med)))
        rs.map(r => r._1 ->
          ((g, r._3, med, mad, if (math.abs(r._3 - med) > 5.0d * mad) 1L else 0L)))
      }
      assert(got === expected, s"MAD diverged on $rows")
    }
    // A constant group has MAD 0 and dev 0 — 0 > 0 is false, nothing flags.
    val const = Seq((1L, "k", 7.0d), (2L, "k", 7.0d), (3L, "k", 7.0d))
    val flags = Stats.madOutliers(const.toDF("id", "g", "x"), Seq("g"), "id", col("x"))
      .collect().map(_.getLong(5))
    assert(flags.forall(_ == 0L))
  }

  test("classAuc ≡ Mann-Whitney replay with ties; perfect/reversed/degenerate fixtures") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(4, 60)
      rows <- Gen.listOfN(n, for {
        s <- Gen.chooseNum(-5L, 5L)  // heavy score ties
        l <- Gen.chooseNum(0L, 2L)
      } yield (s, l))
    } yield rows.zipWithIndex.map { case ((s, l), i) => (i.toLong, s, l) }
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.classAuc(rows.toDF("id", "s", "l"), col("s"), "l")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
        .toMap
      val n = rows.size
      // Doubled mid-rank per row: 2*minrank + cnt - 1 over the
      // ascending score order.
      val sorted = rows.map(_._2).sorted
      def avg2(s: Long): Long = {
        val first = sorted.indexOf(s) + 1L
        val cnt = sorted.count(_ == s).toLong
        2L * first + cnt - 1L
      }
      for (c <- rows.map(_._3).distinct) {
        val pos = rows.filter(_._3 == c)
        val npos = pos.size.toLong
        val nneg = n.toLong - npos
        val u2 = pos.map(r => avg2(r._2)).sum - npos * (npos + 1L)
        val auc = if (nneg > 0) Some(u2.toDouble / (2.0d * npos.toDouble * nneg.toDouble))
                  else None
        assert(got(c) === ((npos, nneg, u2, auc)), s"AUC diverged for class $c on $rows")
      }
    }
    // Perfect separation: class-1 scores all above class-0 → AUC 1;
    // class 0 (one-vs-rest, scores all below) → AUC 0.
    val perfect = Seq((1L, 10L, 1L), (2L, 11L, 1L), (3L, 1L, 0L), (4L, 2L, 0L))
    val p = Stats.classAuc(perfect.toDF("id", "s", "l"), col("s"), "l")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(p(1L) === 1.0d && p(0L) === 0.0d, p.toString)
    // Single class: empty complement → null AUC.
    val mono = Seq((1L, 3L, 7L), (2L, 4L, 7L)).toDF("id", "s", "l")
    assert(Stats.classAuc(mono, col("s"), "l").collect().head.isNullAt(4))
  }

  test("spearman ≡ driver mid-rank Pearson replay; monotone fixtures hit ±1 exactly") {
    import spark.implicits._
    def reference(rows: Seq[(Long, Long, Long)]): Double = {
      def avg2(vs: Seq[Long]): Map[Long, Long] = {
        val sorted = vs.sorted
        vs.distinct.map { v =>
          v -> (2L * (sorted.indexOf(v) + 1L) + sorted.count(_ == v).toLong - 1L)
        }.toMap
      }
      val ax = avg2(rows.map(_._2)); val ay = avg2(rows.map(_._3))
      val xs = rows.map(r => ax(r._2)); val ys = rows.map(r => ay(r._3))
      val n = rows.size.toDouble
      val sx = xs.sum.toDouble; val sy = ys.sum.toDouble
      val sxx = xs.map(x => x * x).sum.toDouble
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum.toDouble
      val syy = ys.map(y => y * y).sum.toDouble
      val cov = n * sxy - sx * sy
      val slope = cov / (n * sxx - sx * sx)
      val r2 = cov * cov / ((n * sxx - sx * sx) * (n * syy - sy * sy))
      if (slope < 0) -math.sqrt(r2) else math.sqrt(r2)
    }
    val gen = for {
      n <- Gen.chooseNum(5, 50)
      rows <- Gen.listOfN(n, for {
        x <- Gen.chooseNum(-4L, 4L)  // heavy ties on both variables
        y <- Gen.chooseNum(-4L, 4L)
      } yield (x, y))
    } yield rows.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    for (rows <- PropSampling.sample(gen, n = 8)
         if rows.map(_._2).distinct.size > 1 && rows.map(_._3).distinct.size > 1) {
      val got = Stats.spearman(rows.toDF("id", "x", "y"), col("x"), col("y"))
        .collect().head.getDouble(4)
      assert(got === reference(rows), s"spearman diverged on $rows")
    }
    // Strictly monotone (any monotone transform): rho = 1 exactly;
    // reversed: -1 exactly. Ranks make this exact where Pearson on
    // raw values would not be.
    val mono = (1L to 20L).map(i => (i, i, i * i))
    assert(Stats.spearman(mono.toDF("id", "x", "y"), col("x"), col("y"))
      .collect().head.getDouble(4) === 1.0d)
    val rev = (1L to 20L).map(i => (i, i, -(i * i)))
    assert(Stats.spearman(rev.toDF("id", "x", "y"), col("x"), col("y"))
      .collect().head.getDouble(4) === -1.0d)
    // A constant variable has zero rank variance: null rho, never NaN.
    val const = (1L to 5L).map(i => (i, 3L, i))
    assert(Stats.spearman(const.toDF("id", "x", "y"), col("x"), col("y"))
      .collect().head.isNullAt(4))
  }

  test("equiDepthBuckets ≡ global sequential rank; bucket sizes differ by at most one") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(5, 80)
      vs <- Gen.listOfN(n, Gen.chooseNum(-60, 60))
    } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v / 4.0d) }
    for (rows <- PropSampling.sample(gen, n = 6); k <- Seq(3, 8)) {
      val expected = rows.sortBy { case (id, v) => (v, id) }.zipWithIndex
        .map { case ((id, v), i) =>
          (id, v, i.toLong + 1L, (i.toLong * k) / rows.size.toLong) }
        .toSet
      val got = Stats.equiDepthBuckets(rows.toDF("id", "x"), "id", col("x"), k = k)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === expected, s"rank diverged at k=$k on $rows")
    }
    // Bucket sizes are balanced: never differ by more than one row.
    val rows = (0L until 100L).map(i => (i, ((i * 37) % 100).toDouble))
    val sizes = Stats.equiDepthBuckets(rows.toDF("id", "x"), "id", col("x"), k = 8)
      .groupBy("bucket").count().collect().map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, sizes.mkString(","))
  }

  test("kmLifeTable: hand life table, censoring counted, at-risk suffix sums; guard trips") {
    // durations [0,1,5,5,12], events [1,0,1,1,0], bucket 5:
    //   t=0: 1 event + 1 censored; t=1: 2 events; t=2: 1 censored
    //   at_risk (suffix): t=0 → 5, t=1 → 3, t=2 → 1
    val subj = Seq((0L, 1L), (1L, 0L), (5L, 1L), (5L, 1L), (12L, 0L))
      .toDF("dur", "ev")
    val got = Stats.kmLifeTable(subj, col("dur"), col("ev"), bucketWidth = 5L)
      .orderBy("t").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 1L, 1L, 5L), (1L, 2L, 0L, 3L), (2L, 0L, 1L, 1L)))
    // The KM survival fold a consumer applies over the table:
    // S = Π (1 − d/n) over intervals with events.
    val s = got.foldLeft(1.0) { case (acc, (_, d, _, n)) =>
      acc * (1.0 - d.toDouble / n.toDouble) }
    assert(math.abs(s - (1.0 - 1.0 / 5) * (1.0 - 2.0 / 3)) < 1e-12)
    // Negative durations drop (malformed rows, not silently bucketed).
    val withNeg = Seq((-3L, 1L), (0L, 1L)).toDF("dur", "ev")
    val clean = Stats.kmLifeTable(withNeg, col("dur"), col("ev"), bucketWidth = 5L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(clean === Seq((0L, 1L, 0L, 1L)))
    val e2 = intercept[IllegalArgumentException](
      Stats.kmLifeTable(subj, col("dur"), col("ev"), bucketWidth = 1L,
        maxBuckets = 2L))
    assert(e2.getMessage.contains("buckets"))
  }

  test("theilSen ≡ sequential pairwise-median replay; guards trip loud") {
    import spark.implicits._
    val L = (BigInt(1) to BigInt(64)).reduce((a, b) => a * b / a.gcd(b))
    val gen = for {
      n <- Gen.chooseNum(4, 24)
      pts <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        x <- Gen.chooseNum(0L, 20L)
        y <- Gen.chooseNum(-5000L, 5000L)
      } yield (k, x, y))
    } yield pts.groupBy(p => (p._1, p._2)).values.map(_.head).toSeq // one point per (key, x)
    for (pts <- PropSampling.sample(gen, n = 6)) {
      val got = Stats.theilSen(pts.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val expected = pts.groupBy(_._1).toSeq.flatMap { case (k, ps0) =>
        val ps = ps0.map(p => (p._2, p._3)).sortBy(_._1)
        val pairs = for {
          i <- ps.indices; j <- ps.indices if ps(j)._1 > ps(i)._1
        } yield (ps(j)._2 - ps(i)._2, ps(j)._1 - ps(i)._1) // (num, den)
        if (pairs.isEmpty) None else {
          val sorted = pairs.sortBy { case (num, den) =>
            (BigInt(num) * (L / den), num, den) }
          val (num, den) = sorted(((sorted.size + 1) / 2) - 1)
          val rs = ps.map { case (x, y) => (y * den - num * x, x) }.sorted
          val r = rs(((ps.size + 1) / 2) - 1)._1
          Some((k, ps.size.toLong, pairs.size.toLong,
            num * 10000L / den, r * 10000L / den))
        }
      }.toSet
      assert(got === expected, s"theilSen diverged on $pts")
    }
    // Perfect line: slope recovered exactly whatever the noise-free n.
    val line = (0L to 9L).map(x => ("a", x, 30000L + 7L * x))
    val fit = Stats.theilSen(line.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(fit === (("a", 10L, 45L, 70000L, 300000000L)))
    // Single-point groups drop; guards raise.
    assert(Stats.theilSen(Seq(("a", 1L, 5L)).toDF("k", "x", "y"),
      Seq("k"), col("x"), col("y")).count() === 0L)
    val wide = Seq(("a", 0L, 1L), ("a", 100L, 2L)).toDF("k", "x", "y")
    val e = intercept[Exception](
      Stats.theilSen(wide, Seq("k"), col("x"), col("y")).collect())
    assert(e.getMessage.contains("64 x steps"))
    val many = (0L to 3L).map(x => ("a", x, x)).toDF("k", "x", "y")
    val e2 = intercept[Exception](
      Stats.theilSen(many, Seq("k"), col("x"), col("y"), maxPointsPerKey = 3).collect())
    assert(e2.getMessage.contains("3 points"))
  }

  test("mannKendall ≡ sequential sign-sum replay; tie-corrected variance exact") {
    import spark.implicits._
    // Narrow y range FORCES ties (the gate data has none — the tie
    // correction only gets exercised here).
    val gen = for {
      n <- Gen.chooseNum(4, 24)
      pts <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        x <- Gen.chooseNum(0L, 15L)
        y <- Gen.chooseNum(-3L, 3L)
      } yield (k, x, y))
    } yield pts.groupBy(p => (p._1, p._2)).values.map(_.head).toSeq
    for (pts <- PropSampling.sample(gen, n = 6)) {
      val got = Stats.mannKendall(pts.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
        .as[(String, Long, Long, Long)].collect().toSet
      val expected = pts.groupBy(_._1).toSeq.flatMap { case (k, ps0) =>
        val ps = ps0.map(p => (p._2, p._3)).sortBy(_._1)
        val n = ps.size.toLong
        if (n < 2) None else {
          val s = (for {
            i <- ps.indices; j <- ps.indices if ps(j)._1 > ps(i)._1
          } yield java.lang.Long.signum(ps(j)._2 - ps(i)._2).toLong).sum
          val tie = ps.groupBy(_._2).values.map(_.size.toLong)
            .map(t => t * (t - 1L) * (2L * t + 5L)).sum
          Some((k, n, s, n * (n - 1L) * (2L * n + 5L) - tie))
        }
      }.toSet
      assert(got === expected, s"mannKendall diverged on $pts")
    }
    // Strictly increasing: S = n(n−1)/2, no tie correction.
    val inc = (0L to 9L).map(x => ("a", x, x * 10L))
    val up = Stats.mannKendall(inc.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
      .as[(String, Long, Long, Long)].collect().head
    assert(up === (("a", 10L, 45L, 10L * 9L * 25L)))
    // Constant series: S = 0 and the tie term cancels var18 to zero.
    val const = (0L to 5L).map(x => ("a", x, 7L))
    val flat = Stats.mannKendall(const.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
      .as[(String, Long, Long, Long)].collect().head
    assert(flat === (("a", 6L, 0L, 0L)))
    val e = intercept[Exception](
      Stats.mannKendall((0L to 3L).map(x => ("a", x, x)).toDF("k", "x", "y"),
        Seq("k"), col("x"), col("y"), maxPointsPerKey = 3).collect())
    assert(e.getMessage.contains("3 points"))
  }

  test("seasonal Kendall composition: per-season S and var18 sum; 1-point seasons drop") {
    import spark.implicits._
    // Two seasons with opposite monotone trends cancel in S'; a
    // third season holding one point contributes to neither n nor
    // n_seasons (no pair — the mannKendall drop, which the q192
    // composition inherits).
    val pts = Seq(
      ("a", 0L, 0L, 10L), ("a", 2L, 0L, 20L), ("a", 4L, 0L, 30L), // season 0: up, S=3
      ("a", 1L, 1L, 30L), ("a", 3L, 1L, 20L), ("a", 5L, 1L, 10L), // season 1: down, S=-3
      ("a", 6L, 2L, 99L)                                          // season 2: single point
    ).toDF("k", "x", "phase", "y")
    val per = Stats.mannKendall(pts, Seq("k", "phase"), col("x"), col("y"))
    val agg = per.groupBy("k")
      .agg(sum("n").as("n"), count(lit(1)).as("n_seasons"),
        sum("s_stat").as("s_stat"), sum("var18").as("var18"))
      .as[(String, Long, Long, Long, Long)].collect().head
    // var18 per 3-point tie-free season: 3·2·11 = 66.
    assert(agg === (("a", 6L, 2L, 0L, 132L)))
  }

  test("census: every census operator fail-fasts over its bound") {
    import spark.implicits._
    // An ALL-DISTINCT value column — the adversarial input on which a
    // (group, value) census approaches corpus cardinality. The bound
    // must hold by CONSTRUCTION: under it the full census comes back;
    // over it the one bounded collect fails before more than
    // maxRows + 1 rows reach the driver.
    val rows = (0L until 40L).map(i => (i, i % 4, (i * 31 % 97).toDouble))
    val df = rows.toDF("id", "g", "v")
    val census = df.groupBy(col("g"), col("v")).agg(count(lit(1)).as("__c"))
    val n = census.count()
    val all = census.collect().map(_.toSeq).toSet
    // Exactly maxRows rows pass (the +1 probe row is what trips, not
    // the bound itself); maxRows + 1 rows fail.
    for (bound <- Seq(1000L, n))
      assert(Stats.census(census, bound, "t").collect().map(_.toSeq).toSet === all)
    val direct = intercept[IllegalArgumentException](Stats.census(census, n - 1, "t"))
    assert(direct.getMessage ===
      s"requirement failed: t: more than ${n - 1} distinct census rows — quantize/bucket coarser upstream")
    assert(intercept[IllegalArgumentException](Stats.census(census, 0L, "t"))
      .getMessage.contains("maxRows must be positive"))
    // Every call site of the primitive, each over its bound of 3: the
    // 16 Stats operators (twoSampleCum behind three), Temporal's two
    // and q62 (whose 2^20 bound is fixed: below).
    val inB = col("id") % 2 === 0
    val ev = df.select(col("g"), col("id").as("ts"), col("v"))
    val sites: Seq[(String, () => Any)] = Seq(
      "madOutliers" -> (() => Stats.madOutliers(df, Seq("g"), "id", col("v"), maxBins = 3)),
      "spearman" -> (() => Stats.spearman(df, col("id"), col("v"), maxBins = 3)),
      "classAuc" -> (() => Stats.classAuc(df.withColumn("l", col("id") % 2), col("v"), "l",
        maxBins = 3)),
      "kmLifeTable" -> (() => Stats.kmLifeTable(df, col("id"), col("id") % 2, bucketWidth = 1L,
        maxBuckets = 3)),
      "ksTwoSample" -> (() => Stats.ksTwoSample(df, Seq("g"), inB, col("v"), maxBins = 3)),
      "cliffsDelta" -> (() => Stats.cliffsDelta(df, Seq("g"), inB, col("v"), maxBins = 3)),
      "cvmTwoSample" -> (() => Stats.cvmTwoSample(df, Seq("g"), inB, col("v"), maxBins = 3)),
      "hodgesLehmannShift" -> (() => Stats.hodgesLehmannShift(df, Seq("g"), inB, col("v"),
        maxBinsPerSide = 3)),
      "kruskalWallis" -> (() => Stats.kruskalWallis(df, "g", col("v"), maxBins = 3)),
      "isotonicCalibrate" -> (() => Stats.isotonicCalibrate(df, col("id"), col("id") % 2,
        maxBins = 3)),
      "winsorize" -> (() => Stats.winsorize(df, Seq("g"), "id", col("v"), maxBins = 3)),
      "quantileNormalize" -> (() => Stats.quantileNormalize(df, Seq("g"), "id", col("v"),
        maxBins = 3)),
      "ksOneVsRest" -> (() => Stats.ksOneVsRest(df, "g", col("v"), maxBins = 3)),
      "bestSplit" -> (() => Stats.bestSplit(df, Seq("g"), col("v"), col("id") % 2, maxBins = 3)),
      "psiDrift" -> (() => Stats.psiDrift(df, Seq("g"), inB, col("v"), maxBins = 3)),
      "cohenKappa" -> (() => Stats.cohenKappa(df, Seq("g"), col("id"), col("v"), maxBins = 3)),
      "vOptimalHist" -> (() => Stats.vOptimalHist(df, col("id"), col("v"), k = 2, maxBins = 3)),
      "jackknifeMeanVar" -> (() => Stats.jackknifeMeanVar(df, Seq("g"), col("id"), col("v"),
        maxBuckets = 3)),
      "seasonalDecompose" -> (() => Temporal.seasonalDecompose(ev, Seq("g"), "ts", col("v"),
        bucketNs = 1L, period = 3, maxBins = 3)),
      "binarySegmentation" -> (() => Temporal.binarySegmentation(ev, Seq("g"), "ts", col("v"),
        bucketNs = 1L, depth = 1, maxBins = 3)))
    for ((name, run) <- sites) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.startsWith(s"requirement failed: $name") &&
        e.getMessage.contains("more than 3 distinct census rows"), s"$name: ${e.getMessage}")
    }
    // q62's census is bounded at 2^20 rows: one more distinct
    // (event_type, value) cell than that fails the query's build.
    val dir = java.nio.file.Files.createTempDirectory("q62-census").toString
    try {
      spark.range((1L << 20) + 1)
        .select(col("id").as("event_id"), col("id").as("ts"), lit(0L).as("user_id"),
          lit("view").as("event_type"), col("id").cast("double").as("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      val e = intercept[IllegalArgumentException](
        graft.SparkEntry.queries("q62_percentiles")(spark, dir))
      assert(e.getMessage.contains(s"q62 (event_type, value) census: more than ${1L << 20}"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // Under the bound the guarded operators still answer exactly.
    val loose = Stats.madOutliers(df, Seq("g"), "id", col("v"), maxBins = 1 << 20)
    val tight = Stats.madOutliers(df, Seq("g"), "id", col("v"),
      maxBins = rows.map(r => (r._2, r._3)).distinct.size)
    assert(loose.orderBy("id").collect().toSeq ===
      tight.orderBy("id").collect().toSeq)
  }

  test("census sums ≡ the Spark windows they replace, null keys and NaN included") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val gen = Gen.listOfN(40, for {
      g <- Gen.option(Gen.oneOf("a", "b", "c"))
      o <- Gen.option(Gen.oneOf(-2.0, -0.0, 0.0, 1.5, 7.0, Double.NaN, Double.PositiveInfinity))
      v <- Gen.option(Gen.chooseNum(-5L, 9L))
    } yield (g, o, v))
    for (rows <- PropSampling.sample(gen, n = 6)) {
      val census = rows.toDF("g", "o", "v").groupBy("g", "o")
        .agg(sum("v").as("v"), count(lit(1)).as("c"))
      val asc = Window.partitionBy("g").orderBy(col("o"))
      val desc = Window.partitionBy("g").orderBy(col("o").desc)
      val pooled = Window.orderBy(col("o"))
      val byG = Window.partitionBy("g")
      val want = census
        .withColumn("r_asc", sum("v").over(asc)).withColumn("r_desc", sum("v").over(desc))
        .withColumn("r_pool", sum("c").over(pooled)).withColumn("t_g", sum("v").over(byG))
        .withColumn("t_o", sum("c").over(Window.partitionBy("o")))
        .withColumn("n_g", count(lit(1)).over(byG))
      val got = Stats.census(census, 1000L, "t",
        Stats.CensusSum.running("r_asc", "v", Seq("g"), "o"),
        Stats.CensusSum.running("r_desc", "v", Seq("g"), "o", descending = true),
        Stats.CensusSum.running("r_pool", "c", Nil, "o"),
        Stats.CensusSum.total("t_g", "v", Seq("g")),
        Stats.CensusSum.total("t_o", "c", Seq("o")),
        Stats.CensusSum.count("n_g", Seq("g")))
      assert(got.schema === want.schema)
      def key(r: org.apache.spark.sql.Row) = r.toSeq.mkString("|")
      assert(got.collect().map(key).sorted.toSeq === want.collect().map(key).sorted.toSeq,
        s"census sums diverged on $rows")
    }
    // Long overflow throws, as ANSI sum does.
    val big = Seq(("a", 1L, Long.MaxValue), ("a", 2L, 1L)).toDF("g", "o", "v")
    intercept[ArithmeticException](
      Stats.census(big, 10L, "t", Stats.CensusSum.total("t", "v", Seq("g"))))
  }

  test("hillTailIndex: recovers known Pareto exponents; heavier tail → smaller alpha") {
    import spark.implicits._
    // Exact Pareto order statistics: x_(i) = floor(1000·(n/i)^(1/α)).
    def sample(alpha: Double, n: Int) =
      (1 to n).map(i => (i.toLong, math.floor(1000.0 * math.pow(n.toDouble / i, 1.0 / alpha)).toLong))
        .toDF("id", "x")
    def est(alpha: Double): Long =
      Stats.hillTailIndex(sample(alpha, 512), col("id"), col("x"), k = 64)
        .collect().head.getAs[Long]("alpha_e4")
    val a1 = est(1.0); val a2 = est(2.0)
    // alpha_e4 is natural-log calibrated (explicit 1/ln2 fixed-point
    // conversion), so alpha=1 must read near 10000 and alpha=2 near
    // 20000; the residual band covers deterministic-quantile sampling
    // and flog2q truncation, not a log-base offset.
    assert(a1 > 8500 && a1 < 11500, s"alpha=1 sample estimated $a1")
    assert(a2 > 17000 && a2 < 23000, s"alpha=2 sample estimated $a2")
    assert(a2 > a1 * 3 / 2, s"the heavier tail must estimate clearly smaller: $a1 vs $a2")
    // Degenerate: all-equal sizes → inv16 = 0 → null alpha, not a crash.
    val flat = Stats.hillTailIndex(
      (1L to 100L).map((_, 7L)).toDF("id", "x"), col("id"), col("x"), k = 10)
      .collect().head
    assert(flat.isNullAt(3), "flat distribution has no tail index")
  }

  test("mutualInformation: independence ≈ 0; MI(x,x) = H(x); derived column flagged") {
    import spark.implicits._
    def mi(rows: Seq[(String, String)]): Long =
      Stats.mutualInformation(rows.toDF("x", "y"), "x", "y")
        .collect().head.getLong(2)
    // Independent uniform 2×2: MI ≈ 0 within the flog2q floor.
    val ind = mi(for (x <- Seq("a", "b"); y <- Seq("p", "q")) yield (x, y))
    assert(math.abs(ind) <= 300, s"independent: $ind")
    // x paired with itself: MI = H(x) = 1 bit for a fair coin.
    val self = mi(Seq(("a", "a"), ("b", "b")))
    assert(math.abs(self - 10000) <= 300, s"self: $self")
    // y a deterministic function of x (derived column): MI = H(y).
    val derived = mi(Seq(("a", "lo"), ("b", "lo"), ("c", "hi"), ("d", "hi")))
    assert(math.abs(derived - 10000) <= 300, s"derived: $derived")
  }

  test("wasserstein1: analytic transport distances on hand fixtures") {
    import spark.implicits._
    def w1(rows: Seq[(String, Double)]): Map[String, Long] =
      Stats.wasserstein1(rows.toDF("g", "v"), "g", col("v"), baseline = "base")
        .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    // All mass moves 1.00: W1 = 100 cents = 1_000_000 e4-units.
    val shift = w1(Seq(("base", 0.0), ("base", 0.0), ("x", 1.0), ("x", 1.0)))
    assert(shift("x") === 1000000L)
    // Unequal masses: base {0, 100¢}, x {100¢} → half the baseline
    // mass moves 100¢ → 50¢.
    val half = w1(Seq(("base", 0.0), ("base", 1.0), ("x", 1.0)))
    assert(half("x") === 500000L)
    // Identical distributions → 0.
    val same = w1(Seq(("base", 0.5), ("base", 1.5), ("x", 0.5), ("x", 1.5)))
    assert(same("x") === 0L)
  }

  test("abTestChi2: hand-computed statistic, zero marginals, unit guard") {
    import spark.implicits._
    def units(a: Int, b: Int, c: Int, d: Int) =
      (Seq.fill(a)((true, true)) ++ Seq.fill(b)((true, false)) ++
        Seq.fill(c)((false, true)) ++ Seq.fill(d)((false, false)))
        .toDF("g", "c")
    def run(df: org.apache.spark.sql.DataFrame) =
      Stats.abTestChi2(df, col("g"), col("c")).collect().head
    // a=10 b=10 c=20 d=5: chi2 = 45*150^2/(20*25*30*15) = 4.5 exactly.
    val r = run(units(10, 10, 20, 5))
    assert((r.getLong(4), r.getBoolean(5)) === ((45000L, true)))
    // Equal proportions: chi2 = 0.
    assert(run(units(10, 10, 10, 10)).getLong(4) === 0L)
    // A zero marginal (nobody fails) is no evidence, not an error.
    val z = run(units(5, 0, 5, 0))
    assert((z.getLong(4), z.getBoolean(5)) === ((0L, false)))
  }

  test("inequality: uniform ≈ 0; total concentration → Gini (n-1)/n and Theil log2(n)") {
    import spark.implicits._
    def ineq(rows: Seq[(String, Long)]): (Long, Long) = {
      val r = Stats.inequality(rows.toDF("g", "x"), "g", col("x")).collect().head
      (r.getLong(2), r.getLong(3))
    }
    // Four equal strata: both metrics ≈ 0 (Theil within the flog2q floor).
    val (g0, t0) = ineq(Seq(("a", 100L), ("b", 100L), ("c", 100L), ("d", 100L)))
    assert(g0 === 0L && math.abs(t0) <= 300, s"uniform: $g0 $t0")
    // One stratum holds (almost) everything: Gini → (n-1)/n = 0.75,
    // Theil → log2(4) = 2 bits.
    val (g1, t1) = ineq(Seq(("a", 1000000L), ("b", 1L), ("c", 1L), ("d", 1L)))
    assert(g1 > 7300 && g1 <= 7500, s"concentrated gini: $g1")
    assert(t1 > 19000 && t1 <= 20300, s"concentrated theil: $t1")
    // Monotone: mild skew sits between.
    val (g2, t2) = ineq(Seq(("a", 400L), ("b", 300L), ("c", 200L), ("d", 100L)))
    assert(g2 > 0 && g2 < g1 && t2 > t0 && t2 < t1)
  }

  test("jsDivergence: identical ≈ 0 within the flog2q floor; disjoint ≈ 1 bit; monotone between") {
    import spark.implicits._
    def jsd(rows: Seq[(String, String)]): Map[String, Long] =
      Stats.jsDivergence(rows.toDF("src", "text"), "src",
          split(col("text"), " "))
        .collect().map(r => (r.getString(0), r.getAs[Long]("jsd_e4"))).toMap
    // Identical distributions: |jsd| within the ±0.03-bit
    // quantization floor (small negatives are the documented noise).
    val same = jsd(Seq(("a", "x y z x y"), ("b", "x y z x y")))
    assert(same.values.forall(v => math.abs(v) <= 400), same.toString)
    // Disjoint vocabularies: JSD = 1 bit exactly; flog2q is exact on
    // the powers-of-two this case produces → 10000 ± floor.
    val disj = jsd(Seq(("a", "x x x x"), ("b", "y y y y")))
    assert(disj.values.forall(v => math.abs(v - 10000) <= 400), disj.toString)
    // Half overlap sits strictly between.
    val half = jsd(Seq(("a", "x x y y"), ("b", "y y z z")))
    assert(half.values.forall(v => v > 1000 && v < 9000), half.toString)
  }

  // ---- Nonparametric two-sample / sequence tier (r14 growth #2):
  // each operator must reproduce a brute-force sequential replay of
  // its textbook definition bit-for-bit, and the guards trip loud.

  private val twoSampleGen = for {
    n <- Gen.chooseNum(2, 40)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b")
      b <- Gen.oneOf(false, true)
      v <- Gen.chooseNum(-6L, 6L) // narrow: force ties across samples
    } yield (k, b, v))
  } yield rows

  test("ksTwoSample ≡ brute-force max-CDF-gap replay; empty sides drop; census bound trips") {
    import spark.implicits._
    for (rows <- PropSampling.sample(twoSampleGen, n = 8)) {
      val got = Stats.ksTwoSample(rows.toDF("k", "b", "v"),
          Seq("k"), col("b"), col("v"))
        .as[(String, Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val as = g.filter(!_._2).map(_._3)
        val bs = g.filter(_._2).map(_._3)
        if (as.isEmpty || bs.isEmpty) None else {
          val na = as.size.toLong
          val nb = bs.size.toLong
          val dNum = (as ++ bs).distinct.map { v =>
            math.abs(as.count(_ <= v) * nb - bs.count(_ <= v) * na)
          }.max
          Some((k, na, nb, dNum))
        }
      }.toSet
      assert(got === expected, s"ksTwoSample diverged on $rows")
    }
    // Identical samples: D = 0. Disjoint supports: D = n_a·n_b.
    val same = Seq(("a", false, 1L), ("a", true, 1L), ("a", false, 2L), ("a", true, 2L))
    assert(Stats.ksTwoSample(same.toDF("k", "b", "v"), Seq("k"), col("b"), col("v"))
      .as[(String, Long, Long, Long)].collect().head._4 === 0L)
    val disj = Seq(("a", false, 1L), ("a", false, 2L), ("a", true, 9L))
    assert(Stats.ksTwoSample(disj.toDF("k", "b", "v"), Seq("k"), col("b"), col("v"))
      .as[(String, Long, Long, Long)].collect().head._4 === 2L)
    // Census bound fail-fast.
    val wide = (1L to 9L).map(v => ("a", v % 2 == 0, v))
    val e = intercept[Exception](Stats.ksTwoSample(wide.toDF("k", "b", "v"),
      Seq("k"), col("b"), col("v"), maxBins = 4).collect())
    assert(e.getMessage.contains("census"))
  }

  test("cliffsDelta ≡ brute-force pair sign-sum replay; δ = ±1 at full dominance") {
    import spark.implicits._
    for (rows <- PropSampling.sample(twoSampleGen, n = 8)) {
      val got = Stats.cliffsDelta(rows.toDF("k", "b", "v"),
          Seq("k"), col("b"), col("v"))
        .as[(String, Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val as = g.filter(!_._2).map(_._3)
        val bs = g.filter(_._2).map(_._3)
        if (as.isEmpty || bs.isEmpty) None else {
          val d = (for { a <- as; b <- bs }
            yield java.lang.Long.signum(a - b).toLong).sum
          Some((k, as.size.toLong, bs.size.toLong, d))
        }
      }.toSet
      assert(got === expected, s"cliffsDelta diverged on $rows")
    }
    // A entirely above B: delta_num = n_a·n_b (δ = +1).
    val dom = Seq(("a", false, 10L), ("a", false, 11L), ("a", true, 1L))
    assert(Stats.cliffsDelta(dom.toDF("k", "b", "v"), Seq("k"), col("b"), col("v"))
      .as[(String, Long, Long, Long)].collect().head._4 === 2L)
  }

  test("hodgesLehmannShift ≡ brute-force pairwise-diff median replay; guards trip") {
    import spark.implicits._
    for (rows <- PropSampling.sample(twoSampleGen, n = 8)) {
      val got = Stats.hodgesLehmannShift(rows.toDF("k", "b", "v"),
          Seq("k"), col("b"), col("v"))
        .as[(String, Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val as = g.filter(!_._2).map(_._3)
        val bs = g.filter(_._2).map(_._3)
        if (as.isEmpty || bs.isEmpty) None else {
          val diffs = (for { a <- as; b <- bs } yield a - b).sorted
          Some((k, as.size.toLong, bs.size.toLong,
            diffs(((diffs.size + 1) / 2) - 1)))
        }
      }.toSet
      assert(got === expected, s"hodgesLehmannShift diverged on $rows")
    }
    // Pure shift: A = B + 5 recovers exactly 5.
    val shifted = (1L to 4L).flatMap(v => Seq(("a", false, v + 5L), ("a", true, v)))
    assert(Stats.hodgesLehmannShift(shifted.toDF("k", "b", "v"),
        Seq("k"), col("b"), col("v"))
      .as[(String, Long, Long, Long)].collect().head._4 === 5L)
    // Per-side census bound trips loud.
    val wide = (1L to 9L).map(v => ("a", false, v)) :+ (("a", true, 1L))
    val e = intercept[Exception](Stats.hodgesLehmannShift(wide.toDF("k", "b", "v"),
      Seq("k"), col("b"), col("v"), maxBinsPerSide = 4).collect())
    assert(e.getMessage.contains("census"))
  }

  test("runsTest ≡ sequential median-dichotomy runs replay; all-median groups drop; cap trips") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(2, 30)
      pts <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        x <- Gen.chooseNum(0L, 40L)
        v <- Gen.chooseNum(-4L, 4L) // narrow: median ties occur
      } yield (k, x, v))
    } yield pts.groupBy(p => (p._1, p._2)).values.map(_.head).toSeq
    for (pts <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.runsTest(pts.toDF("k", "x", "v"),
          Seq("k"), col("x"), col("v"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val expected = pts.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val n = g.size.toLong
        val med = g.map(_._3).sorted.apply(((g.size + 1) / 2) - 1)
        val sgns = g.sortBy(_._2).map(_._3).filter(_ != med).map(_ > med)
        if (sgns.isEmpty) None else {
          val runs = 1L + sgns.sliding(2).count {
            case Seq(p, c) => p != c
            case _         => false
          }
          Some((k, n, sgns.count(identity).toLong,
            sgns.count(!_).toLong, runs))
        }
      }.toSet
      assert(got === expected, s"runsTest diverged on $pts")
    }
    // Three-level alternation 0,1,2,0,1,2,…: median level (1) drops,
    // the surviving 0/2 sequence alternates → runs = 6 of 6 points.
    val alt = (0L to 8L).map(x => ("a", x, (x % 3) * 10L))
    val altGot = Stats.runsTest(alt.toDF("k", "x", "v"), Seq("k"), col("x"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(altGot === (("a", 9L, 3L, 3L, 6L)), altGot.toString)
    val ramp = (0L to 7L).map(x => ("a", x, x * 10L))
    assert(Stats.runsTest(ramp.toDF("k", "x", "v"), Seq("k"), col("x"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().head._5 === 2L)
    // Constant series: everything equals the median → group drops.
    val const = (0L to 3L).map(x => ("a", x, 7L))
    assert(Stats.runsTest(const.toDF("k", "x", "v"), Seq("k"), col("x"), col("v"))
      .count() === 0L)
    val e = intercept[Exception](Stats.runsTest(ramp.toDF("k", "x", "v"),
      Seq("k"), col("x"), col("v"), maxPointsPerKey = 3).collect())
    assert(e.getMessage.contains("3 points"))
  }

  test("autocorr ≡ BigInt n-scaled replay incl. NEGATIVE truncating division; guards trip") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(3, 24)
      pts <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        x <- Gen.chooseNum(0L, 30L)
        y <- Gen.chooseNum(-50L, 50L)
      } yield (k, x, y))
    } yield pts.groupBy(p => (p._1, p._2)).values.map(_.head).toSeq
    def replay(pts: Seq[(String, Long, Long)], maxLag: Int)
        : Set[(String, Long, Long, Long, Long)] =
      pts.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val n = BigInt(g.size)
        val s = BigInt(g.map(_._3).sum)
        val dev = g.map(p => (p._2, n * p._3 - s)).toMap
        val den = dev.values.map(d => d * d).sum
        if (den == 0) Nil else (1 to maxLag).flatMap { lag =>
          val prs = dev.keys.toSeq.filter(x => dev.contains(x + lag))
          if (prs.isEmpty) None else {
            val num = prs.map(x => dev(x) * dev(x + lag)).sum
            // BigInt / truncates toward zero — the pinned cross-
            // engine semantics (Spark div ≡ DuckDB //).
            Some((k, lag.toLong, g.size.toLong, prs.size.toLong,
              ((num * 1000000) / den).toLong))
          }
        }
      }.toSet
    for (pts <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.autocorr(pts.toDF("k", "x", "y"),
          Seq("k"), col("x"), col("y"), maxLag = 3)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(got === replay(pts, 3), s"autocorr diverged on $pts")
    }
    // Strict alternation: acf(1) < 0 (pins the signed division) and
    // acf(2) > 0 (period-2 echo).
    val alt = (0L to 9L).map(x => ("a", x, if (x % 2 == 0) 100L else -100L))
    val acf = Stats.autocorr(alt.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"),
        maxLag = 2)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r._5).toMap
    assert(acf(1L) < -800000L && acf(2L) > 700000L, acf.toString)
    assert(Stats.autocorr(alt.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"),
      maxLag = 2).collect().toSet === replay(alt, 2).map(t =>
      org.apache.spark.sql.Row(t._1, t._2, t._3, t._4, t._5)).toSet)
    // Constant series drop (den = 0); guards trip loud.
    val const = (0L to 5L).map(x => ("a", x, 3L))
    assert(Stats.autocorr(const.toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
      .count() === 0L)
    val big = Seq(("a", 0L, 20000000000L), ("a", 1L, 1L))
    val e = intercept[Exception](Stats.autocorr(big.toDF("k", "x", "y"),
      Seq("k"), col("x"), col("y")).collect())
    assert(e.getMessage.contains("1e10"))
    val e2 = intercept[Exception](Stats.autocorr(alt.toDF("k", "x", "y"),
      Seq("k"), col("x"), col("y"), maxPointsPerKey = 4).collect())
    assert(e2.getMessage.contains("4 points"))
  }

  test("cvmTwoSample ≡ BigInt quantized-gap replay; identical → 0, disjoint large") {
    import spark.implicits._
    for (rows <- PropSampling.sample(twoSampleGen, n = 8)) {
      val got = Stats.cvmTwoSample(rows.toDF("k", "b", "v"),
          Seq("k"), col("b"), col("v"))
        .as[(String, Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val as = g.filter(!_._2).map(_._3)
        val bs = g.filter(_._2).map(_._3)
        if (as.isEmpty || bs.isEmpty) None else {
          val na = BigInt(as.size)
          val nb = BigInt(bs.size)
          val t = (as ++ bs).distinct.map { v =>
            val gap = BigInt(as.count(_ <= v)) * nb - BigInt(bs.count(_ <= v)) * na
            val gq = (gap * 1000000) / (na * nb) // BigInt /: truncates
            BigInt(as.count(_ == v) + bs.count(_ == v)) * gq * gq
          }.sum
          Some((k, na.toLong, nb.toLong, (t / (na + nb)).toLong))
        }
      }.toSet
      assert(got === expected, s"cvmTwoSample diverged on $rows")
    }
    // Identical samples: every gap is 0.
    val same = Seq(("a", false, 1L), ("a", true, 1L), ("a", false, 2L), ("a", true, 2L))
    assert(Stats.cvmTwoSample(same.toDF("k", "b", "v"), Seq("k"), col("b"), col("v"))
      .as[(String, Long, Long, Long)].collect().head._4 === 0L)
    // Fully separated supports (A = {1,2}, B = {8,9}): cell gaps in
    // g_e6 units are 5e5, 1e6, 5e5, 0 → t = 1.5e12, cvm_e12 =
    // t/4 = 3.75e11 — hand-checked.
    val disj = Seq(("a", false, 1L), ("a", false, 2L), ("a", true, 8L), ("a", true, 9L))
    assert(Stats.cvmTwoSample(disj.toDF("k", "b", "v"), Seq("k"), col("b"), col("v"))
      .as[(String, Long, Long, Long)].collect().head._4 === 375000000000L)
  }

  test("kruskalWallis ≡ pooled mid-rank replay; rank-sum identity holds; N guard trips") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(2, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b", "c")
        v <- Gen.chooseNum(-5L, 5L) // ties across and within groups
      } yield (k, v))
    } yield rows
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.kruskalWallis(rows.toDF("k", "v"), "k", col("v"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val n = rows.size.toLong
      val sorted = rows.map(_._2).sorted
      def rank2(v: Long): Long = {
        val below = sorted.count(_ < v).toLong
        val t = sorted.count(_ == v).toLong
        2L * below + t + 1L // 2·minrank + t − 1 with minrank = below + 1
      }
      val tie3 = rows.map(_._2).groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * t * t - t }).sum
      val expected = rows.groupBy(_._1).map { case (k, g) =>
        (k, g.size.toLong, g.map(r => rank2(r._2)).sum, n, tie3)
      }.toSet
      assert(got === expected, s"kruskalWallis diverged on $rows")
      // Identity: Σ_g r2sum = 2·Σ ranks = N(N+1).
      assert(got.toSeq.map(_._3).sum === n * (n + 1L))
    }
    // Census bound trips loud (the N guard needs >2e6 rows — the
    // census maxBins path is the testable guard).
    val wide = (1L to 9L).map(v => ("a", v))
    val e = intercept[Exception](Stats.kruskalWallis(wide.toDF("k", "v"),
      "k", col("v"), maxBins = 4).collect())
    assert(e.getMessage.contains("census"))
  }

  test("kendallTauB ≡ brute-force concordance replay; MK agreement on tie-free x") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(2, 24)
      pts <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        i <- Gen.chooseNum(0L, 30L)
        x <- Gen.chooseNum(-3L, 3L)
        y <- Gen.chooseNum(-3L, 3L)
      } yield (k, i, x, y))
    } yield pts.groupBy(p => (p._1, p._2)).values.map(_.head).toSeq
    for (pts <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.kendallTauB(pts.toDF("k", "i", "x", "y"),
          Seq("k"), col("i"), col("x"), col("y"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val expected = pts.groupBy(_._1).toSeq.flatMap { case (k, g0) =>
        val g = g0.sortBy(_._2)
        if (g.size < 2) None else {
          val cd = (for {
            i <- g.indices; j <- g.indices if j > i
          } yield (java.lang.Long.signum(g(j)._3 - g(i)._3) *
            java.lang.Long.signum(g(j)._4 - g(i)._4)).toLong).sum
          def ties(f: ((String, Long, Long, Long)) => Long): Long =
            g.groupBy(f).values.map(s => s.size.toLong * (s.size - 1L) / 2L).sum
          Some((k, g.size.toLong, cd, ties(_._3), ties(_._4)))
        }
      }.toSet
      assert(got === expected, s"kendallTauB diverged on $pts")
    }
    // With y = time order and tie-free x = y, c_minus_d = n(n−1)/2
    // (all concordant) and both tie counts are 0 — the mannKendall
    // strictly-increasing pin transposed.
    val inc = (0L to 9L).map(i => ("a", i, i * 3L, i * 7L))
    val up = Stats.kendallTauB(inc.toDF("k", "i", "x", "y"),
        Seq("k"), col("i"), col("x"), col("y"))
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(up === (("a", 10L, 45L, 0L, 0L)))
    // Guard trips loud.
    val e = intercept[Exception](Stats.kendallTauB(inc.toDF("k", "i", "x", "y"),
      Seq("k"), col("i"), col("x"), col("y"), maxPointsPerKey = 4).collect())
    assert(e.getMessage.contains("4 points"))
  }

  test("vOptimalHist ≡ brute-force best k-partition; greedy-suboptimal case; guards trip") {
    import spark.implicits._
    def run(vals: Seq[(Long, Long)], k: Int): Seq[(Long, Long, Long, Long, Long)] =
      Stats.vOptimalHist(vals.toDF("b", "v"), col("b"), col("v"), k)
        .orderBy("segment").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // Brute force: enumerate every k-partition of the occupied-bin
    // positions, cost with the SAME truncated-SSE cells, pick the
    // lexicographically-smallest-boundary optimum (the DP's
    // smallest-j tie rule composes to exactly that).
    def brute(vals: Seq[(Long, Long)], k: Int): (BigInt, Seq[(Int, Int)]) = {
      val bins = vals.groupBy(_._1).toSeq.sortBy(_._1)
      val n = bins.map(_._2.size.toLong)
      val s = bins.map(b => BigInt(b._2.map(_._2).sum))
      val q = bins.map(b => b._2.map(x => BigInt(x._2) * x._2).sum)
      val B = bins.size
      def cost(a: Int, b: Int): BigInt = { // positions 0-based inclusive
        val nn = BigInt((a to b).map(n).sum)
        val ss = (a to b).map(s).sum
        val qq = (a to b).map(q).sum
        (nn * qq - ss * ss) / nn
      }
      def parts(start: Int, segs: Int): Seq[Seq[(Int, Int)]] =
        if (segs == 1) Seq(Seq((start, B - 1)))
        else (start to B - segs).flatMap(e =>
          parts(e + 1, segs - 1).map((start, e) +: _))
      val all = parts(0, k).map(p => (p.map { case (a, b) => cost(a, b) }.sum, p))
      val best = all.minBy { case (c, p) => (c, p.map(_._2).mkString(",")) }
      best
    }
    val gen = for {
      nb <- Gen.chooseNum(4, 7)
      rows <- Gen.listOfN(20, for {
        b <- Gen.chooseNum(0L, nb.toLong - 1)
        v <- Gen.chooseNum(-50L, 50L)
      } yield (b, v))
    } yield rows
    for (rows <- PropSampling.sample(gen, n = 6)
         if rows.map(_._1).distinct.size >= 4) {
      val got = run(rows, 4)
      val (bc, _) = brute(rows, 4)
      assert(BigInt(got.map(_._5).sum) === bc,
        s"DP total ${got.map(_._5).sum} != brute $bc on $rows")
      // Segments tile the occupied bins in order.
      val binsSorted = rows.map(_._1).distinct.sorted
      assert(got.head._2 === binsSorted.head && got.last._3 === binsSorted.last)
    }
    // A case where GREEDY top-down splitting is suboptimal but the
    // DP is exact: values 0,0,10,10,20,20 in bins 1..6, k=3 → the
    // optimal is the three perfect pairs with total SSE 0.
    val tri = Seq((1L, 0L), (2L, 0L), (3L, 10L), (4L, 10L), (5L, 20L), (6L, 20L))
    val g3 = run(tri, 3)
    assert(g3.map(_._5).sum === 0L, g3.toString)
    assert(g3.map(t => (t._2, t._3)) === Seq((1L, 2L), (3L, 4L), (5L, 6L)))
    // Guards: |v| domain and too-few-bins both trip loud.
    val e1 = intercept[Exception](run(Seq((1L, 20000000L), (2L, 1L),
      (3L, 1L), (4L, 1L)), 2))
    assert(e1.getMessage.contains("1e7"))
    val e2 = intercept[IllegalArgumentException](run(Seq((1L, 1L), (2L, 2L)), 3))
    assert(e2.getMessage.contains("occupied bins"))
    // Empty input is the zero-bins case of the same guard.
    val e3 = intercept[IllegalArgumentException](run(Seq.empty, 1))
    assert(e3.getMessage === "requirement failed: vOptimalHist: only 0 occupied bins for k=1 segments")
  }

  test("jackknifeMeanVar ≡ BigInt replay; single-bucket drop; census guard trips") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(2, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        bkt <- Gen.chooseNum(0L, 5L)
        v <- Gen.chooseNum(-500L, 500L)
      } yield (k, bkt, v))
    } yield rows
    def replay(rows: Seq[(String, Long, Long)]): Map[String, (Long, Long, BigInt, BigInt)] =
      rows.groupBy(_._1).flatMap { case (k, g) =>
        // .toSeq BEFORE the map: mapping a Map with a pair-producing
        // function would collapse equal (size, sum) buckets.
        val buckets = g.groupBy(_._2).toSeq.map { case (_, rs) =>
          (rs.size.toLong, rs.map(_._3).sum) }
        val d = buckets.size
        if (d < 2) None else {
          val nTot = buckets.map(_._1).sum
          val sTot = buckets.map(_._2).sum
          val thq = buckets.map { case (ni, si) =>
            (BigInt(sTot - si) * 100000) / (nTot - ni) }
          val sth = thq.sum
          val sth2 = thq.map(t => t * t).sum
          val varE6 = (BigInt(d - 1) * (d * sth2 - sth * sth)) /
            (BigInt(d) * d * BigInt("1000000000000"))
          Some(k -> ((d.toLong, nTot, sth / d, varE6)))
        }
      }
    for (rows <- PropSampling.sample(gen, n = 10)) {
      val got = Stats.jackknifeMeanVar(rows.toDF("k", "b", "v"),
          Seq("k"), col("b"), col("v"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), BigInt(r.getLong(3)), BigInt(r.getLong(4))))).toMap
      assert(got === replay(rows), s"jackknife diverged on $rows")
    }
    // Identical buckets -> zero variance exactly.
    val const = Seq(("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L))
    val cg = Stats.jackknifeMeanVar(const.toDF("k", "b", "v"),
      Seq("k"), col("b"), col("v")).collect().head
    assert(cg.getLong(cg.fieldIndex("jk_var_e6")) === 0L)
    // Census guard trips loud.
    val many = (1L to 10L).map(i => ("a", i, i))
    val e = intercept[Exception](Stats.jackknifeMeanVar(many.toDF("k", "b", "v"),
      Seq("k"), col("b"), col("v"), maxBuckets = 4).collect())
    assert(e.getMessage.contains("jackknifeMeanVar"))
  }

  test("momentStats ≡ exact-power-sum double replay; known shapes pin; guard trips") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 30)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        v <- Gen.chooseNum(-200L, 200L)
      } yield (k, v))
    } yield rows
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.momentStats(rows.toDF("k", "v"), Seq("k"), col("v"))
        .select("k", "n", "mean", "variance", "skewness", "kurtosis_ex")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
      val expected = rows.groupBy(_._1).map { case (k, g) =>
        val n = g.size.toLong
        val nD = n.toDouble
        // Exact BigInt power sums over values pre-centered at the
        // integer anchor mu0 = Σv div n (BigInt / truncates toward
        // zero, matching Spark div), cast to double, then the
        // operator's exact expression order — bit-identical by
        // construction.
        val mu0 = g.map(r => BigInt(r._2)).sum / n
        def p(e: Int): Double =
          g.map(r => (BigInt(r._2) - mu0).pow(e)).sum.toDouble
        val m = p(1) / nD
        val e2 = p(2) / nD
        val e3 = p(3) / nD
        val e4 = p(4) / nD
        val m2 = e2 - m * m
        val m3 = e3 - 3.0 * m * e2 + 2.0 * m * m * m
        val m4 = e4 - 4.0 * m * e3 + 6.0 * m * m * e2 - 3.0 * m * m * m * m
        (k, n, mu0.toDouble + m, m2,
          if (m2 > 0.0) Some(m3 / (m2 * math.sqrt(m2))) else None,
          if (m2 > 0.0) Some(m4 / (m2 * m2) - 3.0) else None)
      }.toSet
      assert(got === expected, s"momentStats diverged on $rows")
    }
    // Cancellation regression (r14 ADVICE): a tight distribution at
    // the far edge of the |v| ≤ 1e5 domain. Raw power sums lose ALL
    // double significance here (e4 ≈ 1e20 cancelling to m4 ≈ 1); the
    // centered form is exact: {1e5−2, 1e5−1, 1e5} has variance 2/3,
    // skewness 0, kurtosis_ex = m4/m2² − 3 = (2/3)/(4/9) − 3 = −1.5.
    val edge = Seq(("a", 99998L), ("a", 99999L), ("a", 100000L))
    val eg = Stats.momentStats(edge.toDF("k", "v"), Seq("k"), col("v"))
      .select("mean", "variance", "skewness", "kurtosis_ex")
      .as[(Double, Double, Double, Double)].collect().head
    val m2d = 2.0 / 3.0 // exact central sums: w = {−1,0,1}
    assert(eg === ((99999.0, m2d, 0.0, m2d / (m2d * m2d) - 3.0)), eg.toString)
    // Symmetric two-point mass at ±1: skew = 0, kurtosis_ex = −2.
    val bern = Seq(("a", -1L), ("a", 1L), ("a", -1L), ("a", 1L))
    val bg = Stats.momentStats(bern.toDF("k", "v"), Seq("k"), col("v"))
      .select("skewness", "kurtosis_ex").as[(Double, Double)].collect().head
    assert(bg === ((0.0, -2.0)), bg.toString)
    // Constant group: variance 0 → null shape stats.
    val const = Seq(("a", 5L), ("a", 5L))
    val cg = Stats.momentStats(const.toDF("k", "v"), Seq("k"), col("v")).collect().head
    assert(cg.getDouble(cg.fieldIndex("variance")) === 0.0 &&
      cg.isNullAt(cg.fieldIndex("skewness")) && cg.isNullAt(cg.fieldIndex("kurtosis_ex")))
    val e = intercept[Exception](Stats.momentStats(
      Seq(("a", 200000L)).toDF("k", "v"), Seq("k"), col("v")).collect())
    assert(e.getMessage.contains("1e5"))
  }

  test("crossCorr ≡ BigInt replay; exact ±1 at pure shift/negation; one row per unordered pair (a < b)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(4, 24)
      pts <- Gen.listOfN(n, for {
        s <- Gen.oneOf("a", "b", "c")
        x <- Gen.chooseNum(0L, 15L)
        y <- Gen.chooseNum(-40L, 40L)
      } yield (s, x, y))
    } yield pts.groupBy(p => (p._1, p._2)).values.map(_.head).toSeq
    def replay(pts: Seq[(String, Long, Long)], maxLag: Int)
        : Set[(String, String, Long, Long, Double)] = {
      val bySeries = pts.groupBy(_._1)
      val devs = bySeries.view.mapValues { g =>
        val n = BigInt(g.size)
        val s = BigInt(g.map(_._3).sum)
        g.map(p => (p._2, n * p._3 - s)).toMap
      }.toMap
      val dens = devs.view.mapValues(d => d.values.map(x => x * x).sum).toMap
      (for {
        sa <- bySeries.keys.toSeq; sb <- bySeries.keys.toSeq
        if sa < sb && dens(sa) > 0 && dens(sb) > 0
        lag <- -maxLag to maxLag
        prs = devs(sa).keys.toSeq.filter(x => devs(sb).contains(x + lag))
        if prs.nonEmpty
      } yield {
        val num = prs.map(x => devs(sa)(x) * devs(sb)(x + lag)).sum
        (sa, sb, lag.toLong, prs.size.toLong,
          num.toDouble / math.sqrt(dens(sa).toDouble * dens(sb).toDouble))
      }).toSet
    }
    for (pts <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.crossCorr(pts.toDF("s", "x", "y"), "s",
          col("x"), col("y"), maxLag = 3)
        .as[(String, String, Long, Long, Double)].collect().toSet
      assert(got === replay(pts, 3), s"crossCorr diverged on $pts")
    }
    // b is a by-2-shifted copy of a: ccf = 1.0 EXACTLY at lag 2
    // (devs identical, num = den); negated copy: −1.0 at lag 0.
    val base = (0L to 9L).map(x => x -> ((x % 4) * 10L - 15L)).toMap
    val shifted = (0L to 9L).map(x => ("a", x, base(x))) ++
      (2L to 11L).map(x => ("b", x, base(x - 2L) + 100L))
    val sc = Stats.crossCorr(shifted.toDF("s", "x", "y"), "s",
        col("x"), col("y"), maxLag = 3)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => r._3 -> r._5).toMap
    assert(sc(2L) === 1.0, sc.toString)
    val neg = (0L to 9L).map(x => ("a", x, base(x))) ++
      (0L to 9L).map(x => ("b", x, -base(x)))
    val nc = Stats.crossCorr(neg.toDF("s", "x", "y"), "s",
        col("x"), col("y"), maxLag = 1)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => r._3 -> r._5).toMap
    assert(nc(0L) === -1.0, nc.toString)
    // Guard trips loud.
    val e = intercept[Exception](Stats.crossCorr(
      shifted.toDF("s", "x", "y"), "s", col("x"), col("y"),
      maxPointsPerKey = 4).collect())
    assert(e.getMessage.contains("4 points"))
  }

  test("isotonicCalibrate ≡ trunc_e9(sequential PAVA); monotone; guards trip") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, for {
        b <- Gen.chooseNum(0L, 9L)
        l <- Gen.oneOf(0L, 1L)
      } yield (b, l))
    } yield rows
    def pava(rows: Seq[(Long, Long)]): Map[Long, Long] = {
      val bins = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, g) => (b, BigInt(g.map(_._2).sum), BigInt(g.size)) }
      // pool-adjacent-violators, exact fractions; merge while the
      // previous pool's average EXCEEDS the next (non-decreasing fit)
      val pools = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], BigInt, BigInt)]
      for ((b, p, c) <- bins) {
        pools += ((Seq(b), p, c))
        while (pools.size >= 2 && {
          val a = pools(pools.size - 2); val z = pools.last
          a._2 * z._3 > z._2 * a._3
        }) {
          val z = pools.remove(pools.size - 1)
          val a = pools.remove(pools.size - 1)
          pools += ((a._1 ++ z._1, a._2 + z._2, a._3 + z._3))
        }
      }
      pools.flatMap { case (bs, p, c) =>
        bs.map(_ -> ((p * 1000000000) / c).toLong) }.toMap
    }
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.isotonicCalibrate(rows.toDF("b", "l"), col("b"), col("l"))
        .as[(Long, Long, Long, Long)].collect()
      val exp = pava(rows)
      assert(got.map(r => r._1 -> r._4).toMap === exp,
        s"isotonic diverged on $rows")
      // Monotone non-decreasing in bin order.
      val sorted = got.sortBy(_._1).map(_._4)
      assert(sorted.zip(sorted.drop(1)).forall { case (a, b) => a <= b })
      // n/pos are the raw census.
      assert(got.map(r => r._1 -> ((r._2, r._3))).toMap ===
        rows.groupBy(_._1).view.mapValues(g =>
          (g.size.toLong, g.map(_._2).sum)).toMap)
    }
    // Already-monotone input is untouched; a violator pools.
    val mono = Seq((0L, 0L), (0L, 0L), (1L, 0L), (1L, 1L), (2L, 1L), (2L, 1L))
    val mg = Stats.isotonicCalibrate(mono.toDF("b", "l"), col("b"), col("l"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).map(_._4).toSeq
    assert(mg === Seq(0L, 500000000L, 1000000000L), mg.toString)
    val viol = Seq((0L, 1L), (1L, 0L)) // avg 1 then 0 → pools to 1/2
    val vg = Stats.isotonicCalibrate(viol.toDF("b", "l"), col("b"), col("l"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).map(_._4).toSeq
    assert(vg === Seq(500000000L, 500000000L), vg.toString)
    // Guards: non-binary label; census bound.
    val e1 = intercept[Exception](Stats.isotonicCalibrate(
      Seq((0L, 2L)).toDF("b", "l"), col("b"), col("l")).collect())
    assert(e1.getMessage.contains("0/1"))
    val e2 = intercept[Exception](Stats.isotonicCalibrate(
      (0L to 9L).map(b => (b, 1L)).toDF("b", "l"), col("b"), col("l"),
      maxBins = 4).collect())
    assert(e2.getMessage.contains("census"))
  }

  test("winsorize ≡ sequential percentile-pick replay; quantileNormalize identity on one group") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        v <- Gen.chooseNum(-20L, 20L)
      } yield (k, v))
    } yield rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
    def pick(vs: Seq[Long], p: Int): Long = {
      val sorted = vs.sorted
      sorted((((vs.size - 1) * p) / 100 + 1 - 1).toInt)
    }
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.winsorize(rows.toDF("id", "k", "v"), Seq("k"), "id", col("v"))
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._2).toSeq.flatMap { case (k, g) =>
        val lo = pick(g.map(_._3), 5)
        val hi = pick(g.map(_._3), 95)
        g.map { case (id, _, v) =>
          val c = math.max(lo, math.min(hi, v))
          (id, k, v, c, if (c != v) 1L else 0L)
        }
      }.toSet
      assert(got === expected, s"winsorize diverged on $rows")
      // Quantile normalization against a single group is the
      // identity: the pooled distribution IS the group distribution,
      // and rank r maps back to the value holding rank r.
      val one = rows.map { case (id, _, v) => (id, "z", v) }
      val qn = Stats.quantileNormalize(one.toDF("id", "k", "v"), Seq("k"), "id", col("v"))
        .as[(Long, String, Long, Long)].collect()
      assert(qn.forall(r => r._3 === r._4), s"qnorm identity broke on $one")
    }
    // Two groups with disjoint ranges: the lower group's values map
    // into the pooled lower half, ranks preserved.
    val two = Seq((0L, "a", 1L), (1L, "a", 2L), (2L, "b", 101L), (3L, "b", 102L))
    val qn2 = Stats.quantileNormalize(two.toDF("id", "k", "v"), Seq("k"), "id", col("v"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).map(_._4).toSeq
    // group a: ranks 1,2 of 2 → pooled targets t = 1, 3 → values 1, 101;
    // group b: same ranks → 1, 101.
    assert(qn2 === Seq(1L, 101L, 1L, 101L), qn2.toString)
  }

  test("ksOneVsRest ≡ brute-force every-pooled-value replay; two-group case = ksTwoSample") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(2, 40)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c", "d")
        v <- Gen.chooseNum(-6L, 6L)
      } yield (g, v))
    } yield rows
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.ksOneVsRest(rows.toDF("g", "v"), "g", col("v"))
        .as[(String, Long, Long, Long)].collect().toSet
      val all = rows.map(_._2)
      val nn = all.size.toLong
      // Brute force: evaluate the scaled gap at EVERY pooled value —
      // the operator's extrema-at-cells shortcut must agree exactly.
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val vs = rs.map(_._2)
        val ng = vs.size.toLong
        if (nn - ng == 0) None else {
          val dNum = all.distinct.map { v =>
            math.abs(vs.count(_ <= v) * nn - all.count(_ <= v) * ng)
          }.max
          Some((g, ng, nn - ng, dNum))
        }
      }.toSet
      assert(got === expected, s"ksOneVsRest diverged on $rows")
      // Two-label consistency: one-vs-rest of sample A in an {A, B}
      // universe IS the two-sample statistic (cumA·N − cumP·n_A =
      // cumA·n_B − cumB·n_A identically).
      val twoLab = rows.map { case (g, v) => ("x", g <= "b", v) }
      val ovr = Stats.ksOneVsRest(
          twoLab.map(t => (if (t._2) "B" else "A", t._3)).toDF("g", "v"),
          "g", col("v"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r._4).toMap
      val ts = Stats.ksTwoSample(twoLab.toDF("k", "b", "v"),
          Seq("k"), col("b"), col("v"))
        .as[(String, Long, Long, Long)].collect().headOption.map(_._4)
      for (d <- ts; o <- ovr.get("A")) assert(o === d, s"ovr=$ovr ts=$ts")
    }
    // A source identical in shape to the rest reads d_num = 0.
    val sameShape = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
    val ss = Stats.ksOneVsRest(sameShape.toDF("g", "v"), "g", col("v"))
      .as[(String, Long, Long, Long)].collect()
    assert(ss.forall(_._4 === 0L), ss.mkString(","))
    // Census bound trips loud.
    val wide = (1L to 9L).map(v => ("a", v)) :+ (("b", 1L))
    val e = intercept[Exception](Stats.ksOneVsRest(wide.toDF("g", "v"),
      "g", col("v"), maxBins = 4).collect())
    assert(e.getMessage.contains("census"))
  }

  test("bestSplit ≡ brute-force all-candidates replay; pure split reads n·1e9; smallest-v ties") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(2, 40)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.chooseNum(0L, 8L)
        l <- Gen.oneOf(0L, 1L)
      } yield (g, v, l))
    } yield rows
    def replay(rows: Seq[(String, Long, Long)])
        : Set[(String, Long, Long, Long, Long, Long, Long, Long)] =
      rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val bins = rs.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (v, b) => (v, b.size.toLong, b.map(_._3).sum) }
        val ng = rs.size.toLong
        val pg = rs.map(_._3).sum
        val cands = bins.inits.toSeq.reverse.drop(1).map { pre =>
          val v = pre.last._1
          val nl = pre.map(_._2).sum
          val pl = pre.map(_._3).sum
          (v, nl, pl)
        }.filter(_._2 < ng)
        if (cands.isEmpty) None else {
          val scored = cands.map { case (v, nl, pl) =>
            val nr = ng - nl
            val pr = pg - pl
            val a = BigInt(pl) * pl + BigInt(nl - pl) * (nl - pl)
            val b = BigInt(pr) * pr + BigInt(nr - pr) * (nr - pr)
            (v, nl, pl, ((a * nr + b * nl) * 1000000000 / (BigInt(nl) * nr)).toLong)
          }
          val best = scored.minBy { case (v, _, _, s) => (-s, v) }
          Some((g, best._1, best._2, ng - best._2, best._3, ng, pg, best._4))
        }
      }.toSet
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.bestSplit(rows.toDF("g", "v", "l"),
          Seq("g"), col("v"), col("l"))
        .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(got === replay(rows), s"bestSplit diverged on $rows")
    }
    // Perfectly separable: split at the class boundary, S_e9 = n·1e9.
    val sep = Seq(("a", 1L, 0L), ("a", 2L, 0L), ("a", 8L, 1L), ("a", 9L, 1L))
    val sg = Stats.bestSplit(sep.toDF("g", "v", "l"), Seq("g"), col("v"), col("l"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(sg._2 === 2L && sg._8 === 4L * 1000000000L, sg.toString)
    // All same label: every split scores n·1e9 — the tie breaks to
    // the SMALLEST candidate value.
    val flat = Seq(("a", 1L, 0L), ("a", 5L, 0L), ("a", 9L, 0L))
    val fg = Stats.bestSplit(flat.toDF("g", "v", "l"), Seq("g"), col("v"), col("l"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(fg._2 === 1L, fg.toString)
    // Guards: non-binary label; census bound; single-cell groups drop.
    val e1 = intercept[Exception](Stats.bestSplit(
      Seq(("a", 1L, 5L)).toDF("g", "v", "l"), Seq("g"), col("v"), col("l")).collect())
    assert(e1.getMessage.contains("0/1"))
    assert(Stats.bestSplit(Seq(("a", 1L, 1L), ("a", 1L, 0L)).toDF("g", "v", "l"),
      Seq("g"), col("v"), col("l")).count() === 0L)
    val e2 = intercept[Exception](Stats.bestSplit(
      (1L to 9L).map(v => ("a", v, v % 2)).toDF("g", "v", "l"),
      Seq("g"), col("v"), col("l"), maxBins = 4).collect())
    assert(e2.getMessage.contains("census"))
  }

  test("psiDrift ≡ BigInt smoothed replay; identical ≈ 0, disjoint large; empty side drops") {
    import spark.implicits._
    def flog2q(x: BigInt): Long = {
      val bl = x.bitLength // == length(bin(x)) for x > 0
      val mant = if (bl >= 5) (x >> (bl - 5)).toLong else ((x * 16) >> (bl - 1)).toLong
      mant + 16L * bl - 32L
    }
    val gen = for {
      n <- Gen.chooseNum(2, 40)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b")
        b <- Gen.oneOf(false, true)
        v <- Gen.chooseNum(0L, 5L)
      } yield (g, b, v))
    } yield rows
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.psiDrift(rows.toDF("g", "b", "v"), Seq("g"), col("b"), col("v"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val na = rs.count(!_._2).toLong
        val nb = rs.count(_._2).toLong
        if (na == 0 || nb == 0) None else {
          val bins = rs.map(_._3).distinct
          val da = BigInt(na + bins.size)
          val db = BigInt(nb + bins.size)
          val psi = bins.map { v =>
            val sa = BigInt(rs.count(r => !r._2 && r._3 == v) + 1)
            val sb = BigInt(rs.count(r => r._2 && r._3 == v) + 1)
            val q = ((sa * db - sb * da) * 1000000) / (da * db) // truncates
            q.toLong * (flog2q(sa * db) - flog2q(sb * da))
          }.sum
          Some((g, na, nb, bins.size.toLong, psi))
        }
      }.toSet
      assert(got === expected, s"psiDrift diverged on $rows")
    }
    // Identical samples: every per-bin term is exactly 0 (sa·db =
    // sb·da when counts and totals match).
    val same = Seq(("a", false, 1L), ("a", true, 1L), ("a", false, 2L), ("a", true, 2L))
    assert(Stats.psiDrift(same.toDF("g", "b", "v"), Seq("g"), col("b"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().head._5 === 0L)
    // Disjoint supports: strongly positive (each side dominates its
    // own bins; smoothing keeps it finite).
    val disj = (1L to 8L).map(i => ("a", false, 0L)) ++ (1L to 8L).map(i => ("a", true, 9L))
    val dp = Stats.psiDrift(disj.toDF("g", "b", "v"), Seq("g"), col("b"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().head._5
    assert(dp > 10000000L, dp.toString) // ≫ the ±16e4-ish floor band
    // One-sided group drops; census bound trips loud.
    assert(Stats.psiDrift(Seq(("a", false, 1L)).toDF("g", "b", "v"),
      Seq("g"), col("b"), col("v")).count() === 0L)
    val wide = (1L to 9L).map(v => ("a", v % 2 == 0, v))
    val e = intercept[Exception](Stats.psiDrift(wide.toDF("g", "b", "v"),
      Seq("g"), col("b"), col("v"), maxBins = 4).collect())
    assert(e.getMessage.contains("census"))
  }

  test("cohenKappa ≡ BigInt confusion replay; perfect = 1e6; degenerate null; guard trips") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("s", "t")
        a <- Gen.oneOf("x", "y", "z")
        b <- Gen.oneOf("x", "y", "z")
      } yield (g, a, b))
    } yield rows
    for (rows <- PropSampling.sample(gen, n = 8)) {
      val got = Stats.cohenKappa(rows.toDF("g", "a", "b"), Seq("g"), col("a"), col("b"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        val n = BigInt(rs.size)
        val agree = BigInt(rs.count(r => r._2 == r._3))
        val labels = (rs.map(_._2) ++ rs.map(_._3)).distinct
        val pe = labels.map(l =>
          BigInt(rs.count(_._2 == l)) * rs.count(_._3 == l)).sum
        val k = if (n * n == pe) None
          else Some(((agree * n - pe) * 1000000 / (n * n - pe)).toLong)
        (g, n.toLong, agree.toLong, pe.toLong, k)
      }.toSet
      assert(got === expected, s"cohenKappa diverged on $rows")
    }
    // Perfect two-class agreement: κ = 1e6 exactly.
    val perfect = Seq(("g", "x", "x"), ("g", "y", "y"), ("g", "x", "x"), ("g", "y", "y"))
    assert(Stats.cohenKappa(perfect.toDF("g", "a", "b"), Seq("g"), col("a"), col("b"))
      .select("kappa_e6").as[Long].collect().head === 1000000L)
    // Independent coin flips across a balanced 2×2 table: observed
    // agreement equals chance → κ = 0.
    val chance = Seq(("g", "x", "x"), ("g", "x", "y"), ("g", "y", "x"), ("g", "y", "y"))
    assert(Stats.cohenKappa(chance.toDF("g", "a", "b"), Seq("g"), col("a"), col("b"))
      .select("kappa_e6").as[Long].collect().head === 0L)
    // Both raters constant and identical: N² = pe_num → null.
    val degen = Seq(("g", "x", "x"), ("g", "x", "x"))
    assert(Stats.cohenKappa(degen.toDF("g", "a", "b"), Seq("g"), col("a"), col("b"))
      .collect().head.isNullAt(4))
    // Census bound trips loud.
    val wideK = (1 to 9).map(i => ("g", s"a$i", "b"))
    val ek = intercept[Exception](Stats.cohenKappa(wideK.toDF("g", "a", "b"),
      Seq("g"), col("a"), col("b"), maxBins = 4).collect())
    assert(ek.getMessage.contains("census"))
  }
}
