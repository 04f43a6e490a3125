package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** The one exact global rank. For a total order on `(keys…)` — the
  * sort columns a `Window.orderBy` takes, each asc or desc — every row
  * gets its 1-based rank and, optionally, the running sum of one long
  * column: what `row_number()` and `sum … ROWS UNBOUNDED PRECEDING`
  * over an unpartitioned window give, without moving the input into
  * one task.
  *
  *   1. One bounded probe asks for every row's leading key (and summed
  *      value). An input of at most [[DriverRows]] rows comes back
  *      whole: the bucket boundaries are quantiles of its keys and the
  *      per-bucket counts and sums are driver work, so no sample and no
  *      census job run. A larger input takes boundaries from a bounded,
  *      hash-ordered sample (one job) and collects one count/sum row
  *      per bucket through [[Bounded]] (a second job).
  *   2. The boundaries are fixed in a [[RangeBucket]] before any pass
  *      runs, so the bucket never decreases along the order, tied rows
  *      share a bucket, and every pass buckets each row alike. (A range
  *      exchange would sample new boundaries in every job; over a
  *      shuffled input the census and the final pass could then
  *      disagree and shift ranks silently.)
  *   3. The census's prefix sums are each bucket's offsets, attached by
  *      a broadcast join, and a running window partitioned by bucket
  *      adds the in-bucket rank and sum to them.
  *
  * Non-null keys split into four buckets per shuffle partition, so that
  * hashing the buckets onto the window's shuffle partitions spreads
  * them evenly. A row finds its bucket by binary search over the
  * boundaries. Nulls, NaN and −0.0 keep Spark's order, because the
  * search compares with Spark's ordering of the key type, and null
  * leading keys have a bucket of their own, first under nulls-first and
  * last under nulls-last. A hot leading key puts all its rows in one
  * bucket, which stays exact but runs as one task.
  *
  * The input is evaluated more than once (the probe, the sample and the
  * census, the final pass), so its keys and values must evaluate
  * identically in every pass: exact types over a deterministic plan. A
  * row whose key moved between passes would take another bucket's
  * offsets. */
private[graft] object GlobalRank {

  /** Rows the probe brings to the driver: the scale the driver-side
    * graph kernels also take. */
  private val DriverRows = 1L << 20

  /** Sampled keys per bucket on the sampled route, the oversampling
    * Spark's range partitioner uses. */
  private val samplesPerBucket = 20

  /** `df` with `rankCol`, each row's rank in `order`, and, for
    * `runningSum = Some(value -> out)`, `out`: the sum of the long
    * column `value` over the rows ranked at or before this one, null
    * while every such value is null. Also returns the row count. With
    * `uniqueLead = Some(msg)` a null or repeated leading key fails with
    * `msg`. */
  def apply(df: DataFrame, order: Seq[Column], rankCol: String,
            runningSum: Option[(String, String)] = None,
            uniqueLead: Option[String] = None): (DataFrame, Long) =
    rank(df, order, rankCol, runningSum, uniqueLead, DriverRows)

  /** [[apply]] with the probe's bound as an argument: a bound ≤ 0 takes
    * the sampled route on every input, as the differential spec does. */
  private[operators] def rank(df: DataFrame, order: Seq[Column], rankCol: String,
                              runningSum: Option[(String, String)],
                              uniqueLead: Option[String],
                              driverRows: Long): (DataFrame, Long) = {
    require(order.nonEmpty, "a rank needs at least one order key")
    val keys = order.map(ColumnShim.sortKey)
    val (key, descending, nullsFirst) = keys.head
    val keyType = df.select(key).schema.head.dataType
    val toKey = CatalystTypeConverters.createToCatalystConverter(keyType)
    val ordering = RangeBucket.ordering(keyType, descending)
    val buckets = 4 * math.max(1, df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val take = buckets * samplesPerBucket
    // Boundaries at the quantiles of a sample of non-null keys.
    def bucketing(sample: Seq[Any]): RangeBucket = {
      val sorted = sample.sorted(ordering)
      val bounds = (1 until buckets).filter(_ => sorted.nonEmpty).map(j => sorted(j * sorted.length / buckets))
        .foldLeft(Vector.empty[Any])((acc, b) => if (acc.nonEmpty && ordering.equiv(acc.last, b)) acc else acc :+ b)
      RangeBucket(ColumnShim.expression(key), keyType, bounds, descending, nullsFirst)
    }

    // (bucket, rows, non-null sum) per non-empty bucket
    val (bucket, census) = Bounded.collect(df.select(key +: runningSum.map(v => col(v._1)).toSeq: _*),
        driverRows) match {
      case Some(rows) =>
        val ks = rows.map(r => toKey(r.get(0)))
        val nonNull = ks.filter(_ != null)
        uniqueLead.foreach { msg =>
          val sorted = nonNull.sorted(ordering)
          require(nonNull.length == ks.length &&
            sorted.indices.drop(1).forall(i => !ordering.equiv(sorted(i - 1), sorted(i))), msg)
        }
        val step = math.max(1, nonNull.length / take)
        val b = bucketing(nonNull.indices.by(step).map(nonNull))
        val values = rows.map(r => Option.when(runningSum.isDefined && !r.isNullAt(1))(r.getLong(1)))
        (b, ks.indices.groupBy(i => b.bucket(ks(i))).toSeq.map { case (bk, is) =>
          (bk, is.size.toLong, is.flatMap(i => values(i)).reduceOption(Math.addExact(_: Long, _: Long)))
        })
      case None =>
        val sample = Bounded.collectOrFail(
          df.filter(key.isNotNull).select(key).orderBy(xxhash64(keys.map(_._1): _*)).limit(take),
          take)("GlobalRank: sample above its limit").map(r => toKey(r.get(0)))
        val b = bucketing(sample.toSeq)
        val aggs = Seq(count(lit(1))) ++ runningSum.map(v => sum(col(v._1))) ++
          uniqueLead.map(_ => count_distinct(key))
        val rows = Bounded.collectOrFail(
          df.withColumn("__gr_b", ColumnShim.column(b)).groupBy("__gr_b").agg(aggs.head, aggs.tail: _*),
          b.bounds.length + 2)("GlobalRank: more buckets than boundaries")
        uniqueLead.foreach(msg => require(rows.forall(r => r.getLong(1) == r.getLong(aggs.length)), msg))
        (b, rows.toSeq.map(r =>
          (r.getInt(0), r.getLong(1), Option.when(runningSum.isDefined && !r.isNullAt(2))(r.getLong(2)))))
    }

    // each bucket's offsets: the rows and the non-null sum before it
    val byBucket = census.sortBy(_._1)
    val rows = byBucket.map(_._2).scanLeft(0L)(_ + _)
    val sums = byBucket.map(_._3)
      .scanLeft(Option.empty[Long])((acc, x) => x.map(v => acc.fold(v)(Math.addExact(_, v))).orElse(acc))
    val offsetDf = df.sparkSession.createDataFrame(
      byBucket.indices.map(i => Row(byBucket(i)._1, rows(i), sums(i).map(Long.box).orNull)).asJava,
      StructType.fromDDL("__gr_b INT NOT NULL, __gr_n BIGINT NOT NULL, __gr_s BIGINT"))

    val w = Window.partitionBy("__gr_b").orderBy(order: _*)
    val ranked = df.withColumn("__gr_b", ColumnShim.column(bucket))
      .join(broadcast(offsetDf), "__gr_b")
      .withColumn(rankCol, row_number().over(w) + col("__gr_n"))
    val summed = runningSum.fold(ranked) { case (value, out) =>
      ranked.withColumn("__gr_r", sum(col(value)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn(out, coalesce(col("__gr_r") + col("__gr_s"), col("__gr_r"), col("__gr_s")))
    }
    (summed.drop("__gr_b", "__gr_n", "__gr_s", "__gr_r"), rows.last)
  }
}

/** The bucket of a non-null key of type `keyType` among `bounds`,
  * sorted in the rank's order: the number of bounds at or before the
  * key, found by binary search with Spark's ordering of the key type,
  * so each row costs log₂ of the bucket count comparisons. A null
  * key's bucket comes before every other under nulls-first and after
  * under nulls-last. */
private[graft] case class RangeBucket(child: Expression, keyType: DataType,
                                      bounds: IndexedSeq[Any],
                                      descending: Boolean, nullsFirst: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  @transient private lazy val ord = RangeBucket.ordering(keyType, descending)

  def bucket(key: Any): Int =
    if (key == null) { if (nullsFirst) 0 else bounds.length + 1 }
    else {
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lteq(bounds(mid), key)) lo = mid + 1 else hi = mid
      }
      if (nullsFirst) lo + 1 else lo
    }

  override def eval(input: InternalRow): Any = bucket(child.eval(input))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rangeBucket", this)
    val c = child.genCode(ctx)
    val boxed =
      if (CodeGenerator.isPrimitiveType(child.dataType)) s"${CodeGenerator.boxedType(child.dataType)}.valueOf(${c.value})"
      else c.value.toString
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = $self.bucket(${c.isNull} ? null : (Object) $boxed);""", isNull = FalseLiteral)
  }

  override def toString: String = s"range_bucket($child, ${bounds.length} bounds)"

  override protected def withNewChildInternal(c: Expression): RangeBucket = copy(child = c)
}

private[graft] object RangeBucket {
  /** Spark's ordering of non-null values of `dataType`, reversed for a
    * descending key. */
  def ordering(dataType: DataType, descending: Boolean): Ordering[Any] = {
    val asc = TypeUtils.getInterpretedOrdering(dataType)
    if (descending) asc.reverse else asc
  }
}
