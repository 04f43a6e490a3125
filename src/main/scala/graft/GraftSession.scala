package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory so Verify, Bench, and the test suite
  * run with identical semantics-relevant configuration.
  *
  * Notable settings:
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: kept for
  *    events.parquet generations that carry `ts` as TIMESTAMP(NANOS),
  *    which Spark 4 otherwise rejects at schema inference
  *    ([PARQUET_TYPE_ILLEGAL]). With the flag that generation reads
  *    as BIGINT epoch-nanos; newer `timestamp[us]` generations read
  *    as TIMESTAMP_NTZ, and [[Tables.events]] normalizes either shape
  *    to the BIGINT-nanos contract.
  *  - shuffle partitions sized to the local core count rather than the
  *    200 default: at sf0.1 each partition stays comfortably
  *    in-memory, and on a real cluster this is the knob that must
  *    track executor count anyway.
  *  - UTC session timezone so timestamp rendering matches the DuckDB
  *    oracle byte-for-byte.
  *
  * Engine settings, so that a warm engine compiles and sets up each
  * operator once ([[engineConf]]; measured on 4 cores at sf0.01 with
  * the perfbench workloads):
  *  - `spark.sql.codegen.cache.maxEntries=1024`: Spark caches
  *    generated classes in one JVM-wide cache of 100 entries (4
  *    segments of about 25). One workload's working set is larger
  *    (relational_shuffle 91 distinct classes, kernels_streaming
  *    124; all 246 registered rows 3,261), so at 100 the engine
  *    recompiled byte-identical code: 608 compiles in 4 timed kernels_streaming
  *    passes, against 35 in 8 at 1024. Peak metaspace there stays at
  *    170 MB (169.7 at 1024, 170.2 at 100). The size is read once,
  *    when the code generator is first used in the JVM, so it only
  *    takes in a JVM whose first session this is.
  *  - `spark.sql.artifact.isolation.enabled=false`: with isolation
  *    each streaming lane's cloned session gets a fresh executor
  *    classloader, and the codegen cache keys on the classloader, so
  *    q187 and q245 recompiled 14 and 3 classes on every run. The
  *    engine adds no session artifacts.
  *  - `spark.sql.streaming.checkpointFileManagerClass`:
  *    [[graft.streaming.LocalCheckpointFileManager]], which writes
  *    `file:` checkpoint and state files with java.nio instead of
  *    Hadoop's local file system, which forked `chmod` and `readlink`
  *    about 280 times per kernels_streaming pass (~2.4 ms each).
  *  Together, in alternating perfbench pairs, kernels_streaming's
  *  `query_geomean_s` median went from 0.96 to 0.45 s and
  *  relational_shuffle's from 0.74 to 0.53 s.
  */
object GraftSession {

  /** The engine's compile-once and fork-free settings (see the
    * object doc). The first two are static: a JVM whose session
    * already exists keeps its values, and [[apply]] says so. */
  private[graft] val engineConf: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    "spark.sql.artifact.isolation.enabled" -> "false",
    graft.streaming.LocalCheckpointFileManager.ConfKey ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName)

  def apply(appName: String, cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Dev knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overlays session
    // conf for A/B experiments (e.g. AQE on/off sweeps). The driver
    // never sets it; semantics-relevant settings above are defaults,
    // not law, under an explicit experiment.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim, v.trim) }
    val settings = engineConf ++ extra
    settings.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    // getOrCreate silently IGNORES static builder configs when a
    // session already exists in the JVM (tests, notebook reuse): an
    // A/B experiment would then record results under the wrong
    // config, and the engine would recompile and thrash its codegen
    // cache. Verify every setting actually took (the overlay's value
    // where it overrides an engine setting) and shout if not.
    settings.toMap.foreach { case (k, v) =>
      val actual = spark.conf.getOption(k)
      if (!actual.contains(v))
        System.err.println(
          s"[GraftSession] WARNING: '$k=$v' did NOT take " +
            s"(session already exists; effective value: ${actual.getOrElse("<unset>")}) — " +
            "results from this session must not be attributed to it")
    }
    spark.sparkContext.setLogLevel("WARN")
    // SQL surface parity: spark.sql callers get the same custom
    // expressions as the Column API.
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }
}
