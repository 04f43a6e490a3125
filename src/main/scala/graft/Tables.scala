package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives a scale-factor
  * directory and reads only through these helpers so that the scan
  * always goes through the vectorized parquet reader with pushdown
  * enabled (column pruning + predicate pushdown are verified in
  * `PlanSpec`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Leaf files' (path, length, modification time) and parquet confs. */
  private type Fingerprint = (Seq[(String, Long, Long)], Seq[(String, String)])

  /** Qualified path → (fingerprint, schema) of the last inference. */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * file state instead of on every read: each inference runs a Spark
    * job, and a read given the schema runs none.
    * The cached schema is reused only while the fingerprint matches —
    * every leaf file's (path, length, modification time) plus the
    * session's `*parquet*` confs (e.g. `nanosAsLong`,
    * `inferTimestampNTZ`) — so a rewritten file or a changed conf is
    * never served a stale schema. One entry per path; `path` is a
    * plain file or directory, not a glob. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    // A missing path fails exactly as an uncached read does.
    if (!fs.exists(qualified)) return spark.read.parquet(path).schema
    val leaves = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(qualified, true)
    while (it.hasNext) {
      val f = it.next()
      leaves += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val confs = spark.conf.getAll.filter(_._1.toLowerCase.contains("parquet")).toSeq.sorted
    val fingerprint: Fingerprint = (leaves.result().sorted, confs)
    schemas.get(qualified.toString) match {
      case (f, schema) if f == fingerprint => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(qualified.toString, (fingerprint, schema))
        schema
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Events with `ts` normalized to the engine-wide contract: BIGINT
    * epoch-NANOSECONDS, UTC. The driver's generator has shipped this
    * column as TIMESTAMP(NANOS) (read as long via the legacy
    * `nanosAsLong` flag), and since round 8 as standard parquet
    * `timestamp[us]` with `isAdjustedToUTC=false` — which Spark 4
    * resolves as TIMESTAMP_NTZ. All downstream temporal queries
    * (`PipelineQueries` q35/q51/.../q87) contract on the nanos-long
    * shape, so normalization happens here, once, schema-adaptively:
    *
    *  - LongType           → already epoch-nanos, pass through;
    *  - TIMESTAMP_NTZ      → the generator's wall-clock IS UTC, and
    *    `GraftSession` pins `spark.sql.session.timeZone=UTC`, so a
    *    cast to TIMESTAMP reinterprets the same wall-clock on the UTC
    *    epoch; `unix_micros * 1000` then yields exact nanos (micros
    *    precision carries no sub-microsecond digits to lose);
    *  - TIMESTAMP (tz-adjusted) → already an epoch instant,
    *    `unix_micros * 1000` directly.
    *
    * The DuckDB oracle side reads the same parquet timestamp-natively
    * (`epoch_ns(ts)`), which treats naive timestamps as UTC — the
    * `TsFixtureSpec` fixture pair pins both paths to identical epoch
    * values so the next driver-side type drift fails `sbt test`, not
    * the round artifact. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    val nanos: Option[Column] = raw.schema("ts").dataType match {
      case LongType         => None
      case TimestampNTZType => Some(unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case TimestampType    => Some(unix_micros(col("ts")) * 1000L)
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected epoch-nanos LONG or a parquet timestamp")
    }
    nanos.map(c => raw.withColumn("ts", c.cast(LongType))).getOrElse(raw)
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
