package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.Gen

import graft.{PropSampling, SparkSuite}

/** [[GlobalRank]] against the windows it replaces: every row's rank
  * and running sum equal `row_number()` and `sum … ROWS UNBOUNDED
  * PRECEDING` over the whole input in the same order, row for row,
  * whatever the input's partitioning. The reference ranks several
  * cases in one query, one case per window partition, so each case
  * gets the global window of its own rows. */
class GlobalRankSpec extends SparkSuite {

  /** (id, a, x, v): `a` ties heavily, `x` holds null, NaN, −0.0 and
    * 0.0, `v` is the summed column with nulls; ids are unique, so an
    * order ending in `id` is total. */
  private type R = (Long, Option[Int], Option[Double], Option[Long])

  private val gen: Gen[Seq[R]] = for {
    n <- Gen.chooseNum(60, 160)
    rows <- Gen.listOfN(n, for {
      a <- Gen.option(Gen.chooseNum(0, 2))
      x <- Gen.option(Gen.oneOf(-1.5, -0.0, 0.0, 2.0, 3.25, Double.NaN, Double.NegativeInfinity))
      v <- Gen.option(Gen.chooseNum(-50L, 1000L))
    } yield (a, x, v))
  } yield rows.zipWithIndex.map { case ((a, x, v), i) => ((i * 7L) % 1009, a, x, v) }

  private def frame(rows: Seq[R], parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, parts).toDF("id", "a", "x", "v")
  }

  /** Both routes: the probe's bound ≤ 0 forces the sampled one. */
  private val routes = Seq("driver census" -> Long.MaxValue, "sampled" -> 0L)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Each case of `cases` (tagged by a `case` column) ranked and summed
    * by the reference window, keyed by case, and the ranked schema. */
  private def reference(cases: DataFrame, order: Seq[Column],
                        value: String): (Map[Int, Seq[String]], StructType) = {
    val w = Window.partitionBy("case").orderBy(order: _*)
    val ranked = cases
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(value).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rest = ranked.columns.filter(_ != "case").map(col)
    val byCase = ranked.select(col("case") +: rest: _*).collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.toSeq.tail.mkString("|")).toSeq.sorted).toMap
    (byCase, ranked.select(rest: _*).schema)
  }

  private def check(what: String, cases: Seq[Seq[R]], order: Seq[Column]): Unit = {
    import spark.implicits._
    val tagged = cases.zipWithIndex.flatMap { case (rows, i) =>
      rows.map { case (id, a, x, v) => (i, id, a, x, v) } }
      .toDF("case", "id", "a", "x", "v")
    val (want, schema) = reference(tagged, order, "v")
    for ((rows, i) <- cases.zipWithIndex; parts <- Seq(1, 3, 17); (route, bound) <- routes) {
      val (got, n) = GlobalRank.rank(frame(rows, parts), order, "rank", Some("v" -> "cum"), None, bound)
      assert(n === rows.size.toLong, s"$what: row count at $parts partitions, $route route")
      assert(got.schema === schema, s"$what: schema at $parts partitions, $route route")
      assert(sorted(got) === want.getOrElse(i, Nil),
        s"$what: diverged at $parts partitions, $route route, on $rows")
    }
  }

  test("rank and running sum ≡ the global window: ties, null and NaN keys, asc and desc") {
    val cases = PropSampling.sample(gen, n = 4)
    check("heavy ties", cases, Seq(col("a"), col("x"), col("id")))
    check("null and NaN leading key", cases, Seq(col("x"), col("id").desc))
    check("descending", cases, Seq(col("x").desc, col("a").desc, col("id")))
    check("nulls last", cases, Seq(col("a").asc_nulls_last, col("x").desc_nulls_first, col("id")))
  }

  test("one hot leading key, empty input and a single row") {
    val hot = PropSampling.sample(gen, n = 1).head.map { case (id, _, x, v) => (id, Some(1), x, v) }
    check("hot key, empty, single row", Seq(hot, Nil, Seq[R]((3L, None, Some(2.0), Some(5L)))),
      Seq(col("a"), col("x").desc, col("id")))
  }

  test("a groupBy input ranks alike in every evaluation") {
    // A shuffled census: the sample, the bucket census and the final
    // pass each re-run the aggregation, and must still bucket every
    // group alike.
    def census(rows: Seq[R]) = frame(rows, 3).groupBy((col("id") % 37).as("g"))
      .agg(count(lit(1)).as("c"), sum("v").as("s"))
    val samples = PropSampling.sample(gen, n = 2)
    val order = Seq(col("c").desc, col("g"))
    val (want, _) = reference(samples.zipWithIndex.map { case (rows, i) =>
      census(rows).withColumn("case", lit(i)) }.reduce(_ unionByName _), order, "s")
    for ((rows, i) <- samples.zipWithIndex; (route, bound) <- routes) {
      val (got, n) = GlobalRank.rank(census(rows), order, "rank", Some("s" -> "cum"), None, bound)
      val once = sorted(got)
      assert(sorted(got) === once, s"two evaluations of one ranked frame disagree, $route route")
      assert(n === 37L)
      assert(once === want(i), s"$route route")
    }
  }

  test("rank column is a non-null long; a null or repeated unique lead fails with its message") {
    import spark.implicits._
    val (got, _) = GlobalRank(Seq(3L, 1L, 2L).toDF("id"), Seq(col("id")), "r")
    assert(got.schema("r") === StructField("r", LongType, nullable = false))
    assert(got.orderBy("id").collect().map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    for ((route, bound) <- routes) {
      def lead(ids: Option[Long]*) = GlobalRank.rank(ids.toDF("id"), Seq(col("id")), "r", None,
        Some("repeated id"), bound)
      for (bad <- Seq(Seq(Some(4L), Some(1L), Some(4L)), Seq(Some(4L), None))) {
        val e = intercept[IllegalArgumentException](lead(bad: _*))
        assert(e.getMessage.contains("repeated id"), s"$route route")
      }
      assert(lead(Some(4L), Some(1L))._1.collect().map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L),
        s"$route route")
    }
  }
}
