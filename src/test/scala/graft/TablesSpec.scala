package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros, xxhash64}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins [[Tables.schemaOf]]'s cache: a read through the cached schema
  * is the inferred read, a rewritten file or a changed parquet conf
  * is re-inferred, and a warm load submits no Spark job. */
class TablesSpec extends SparkSuite {

  /** Order-insensitive content fingerprint: one hash per row, sorted. */
  private def hashes(df: DataFrame): Seq[Long] =
    df.select(xxhash64(df.columns.map(col).toSeq: _*)).collect().map(_.getLong(0)).sorted.toSeq

  test("a cached-schema read equals the inferred read for all ten tables") {
    for (name <- Tables.names) {
      val inferred = spark.read.parquet(s"$sfDir/$name.parquet")
      for (_ <- 1 to 2) {
        val cached = Tables.load(spark, sfDir, name)
        assert(cached.schema === inferred.schema, s"$name schema")
        assert(hashes(cached) === hashes(inferred), s"$name rows")
      }
    }
    // events.ts keeps its epoch-nanos normalization on the cached read.
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val nanos = raw.schema("ts").dataType match {
      case LongType => col("ts")
      case TimestampNTZType | TimestampType => unix_micros(col("ts").cast(TimestampType)) * 1000L
      case other => fail(s"unexpected events.ts type $other")
    }
    val events = Tables.events(spark, sfDir)
    assert(events.schema("ts").dataType === LongType)
    assert(hashes(events.select("event_id", "ts")) ===
      hashes(raw.select(col("event_id"), nanos.cast(LongType).as("ts"))))
  }

  test("a file rewritten at the same path, or a changed parquet conf, is re-inferred") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-spec").toFile
    dir.deleteOnExit()
    val d = dir.getAbsolutePath
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq === Seq("id", "s"))
    Seq((1.5, 7L, "x")).toDF("w", "k", "z").write.mode("overwrite").parquet(s"$d/t.parquet")
    val after = Tables.load(spark, d, "t")
    assert(after.schema === spark.read.parquet(s"$d/t.parquet").schema)
    assert(after.as[(Double, Long, String)].collect().toSeq === Seq((1.5, 7L, "x")))

    // inferTimestampNTZ decides how the generator's timestamp[us]
    // (isAdjustedToUTC=false, no Spark schema in the footer) reads.
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    try {
      val seen = for (v <- Seq("true", "false", "true")) yield {
        spark.conf.set(key, v)
        val cached = Tables.load(spark, sfDir, "events").schema
        assert(cached === spark.read.parquet(s"$sfDir/events.parquet").schema, s"$key=$v")
        cached("ts").dataType
      }
      assert(seen === Seq(TimestampNTZType, TimestampType, TimestampNTZType))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a warm load submits no Spark job") {
    Tables.load(spark, sfDir, "orders")
    val group = s"tables-spec-${System.nanoTime()}"
    val sentinelGroup = s"$group-sentinel"
    @volatile var jobs = 0
    @volatile var sentinel = -1
    val sentinelDone = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs += 1
          case Some(`sentinelGroup`) => sentinel = j.jobId
          case _ =>
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == sentinel) sentinelDone.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "warm load")
      assert(Tables.load(spark, sfDir, "orders").columns.contains("o_orderkey"))
      // The bus delivers events in order: once the sentinel job's end
      // arrives, every job the warm load started has been counted.
      spark.sparkContext.setJobGroup(sentinelGroup, "sentinel")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(sentinelDone.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      assert(jobs === 0, s"warm load ran $jobs Spark job(s)")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
