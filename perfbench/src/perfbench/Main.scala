package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark process: one closed-loop client sends a workload's queries
  * to one `GraftSession`, each only after the previous one finished.
  *
  * Modes (first argument):
  *  - `bench`: one output-check pass (collect and hash, which is also
  *    the cold pass), warm-up passes until the pass-to-pass change in
  *    pass wall time is within `--plateau` (at most `MaxWarm` passes),
  *    then timed passes while the next one is expected to end within
  *    `--seconds` (at least one), each followed by a host-speed probe
  *    that is only recorded. With `--trace 1` the timed passes
  *    alternate untraced and traced, so the trace overhead is measured
  *    in the same process.
  *  - `record`: run each query once and write its row count, content
  *    hash and DuckDB oracle SQL, plus its rows as parquet for the
  *    oracle comparison.
  *
  * Arguments: `--queries a,b,c` (in pass order), `--data <dir>`,
  * `--out <result json>`, `--cpus <n>`, and for `bench` `--seconds`,
  * `--trace`, `--plateau`; for `record`
  * `--dump <dir>`. Everything the caller needs comes back in the
  * result file; stdout carries nothing. */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val queries = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val registry = graft.SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = graft.GraftSession("perfbench", opt("cpus"))
    val sessionMs = System.currentTimeMillis()
    val run = new Runner(spark, queries.map(q => q -> registry(q)), opt("data"))
    val body =
      try mode match {
        case "bench" => run.bench(opt("seconds").toDouble, opt("trace") == "1", opt("plateau").toDouble)
        case "record" => run.record(opt("dump"))
        case other => sys.error(s"unknown mode '$other'")
      } finally spark.stop()
    val result = Json.obj(Seq(
      "jvm_start_ms" -> jvmStartMs.toString,
      "session_ready_ms" -> sessionMs.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString) ++ body)
    Files.writeString(Paths.get(opt("out")), result + "\n")
  }
}

final class Runner(spark: SparkSession, queries: Seq[(String, (SparkSession, String) => DataFrame)], data: String) {
  private val sc = spark.sparkContext
  /** Warm-up passes stop here even without a plateau, so a run on an
    * unsteady host still ends in time; the result says whether the
    * plateau was reached. */
  private val MaxWarm = 5

  private def errText(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).linesIterator.take(1).mkString.take(300)

  /** Frees what a pass leaves behind, outside every timed window:
    * checkpointed blocks, the streaming lanes' memory-sink views, and
    * (through a GC) the shuffle files the context cleaner drops. */
  private def cleanUp(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    spark.streams.resetTerminated()
    System.gc()
    Thread.sleep(200)
  }

  /** One pass: every query built and written to the noop sink, in
    * order. Returns the pass wall seconds and each query's seconds or
    * error. With a tracer, records `pass → query → build | plan |
    * execute` spans and drains the listener bus between phases. */
  private def pass(index: Int, tracer: Option[Tracer]): (Double, Seq[(String, Double, Option[String])]) = {
    val t = tracer.getOrElse(null)
    def now(): Double = if (t != null) t.nowMs() else System.nanoTime() / 1e6
    if (t != null) t.passStart()
    val pass0 = now()
    val passId = if (t != null) t.newSpanId() else 0
    val results = queries.map { case (name, build) =>
      var err: Option[String] = None
      val q0 = now()
      val querySpan = ArrayBuffer.empty[(String, Double, Double)]
      def phase[A](p: String)(body: => A): A = {
        if (t != null) { t.drain(); t.setTag(index, name, p) }
        sc.setJobGroup(s"perfbench:$index:$name:$p", s"$name $p", interruptOnCancel = false)
        val p0 = now()
        try body finally {
          val p1 = now()
          if (t != null) { t.drain(); querySpan += ((p, p0, p1)) }
        }
      }
      try {
        val df = phase("build")(build(spark, data))
        if (t != null) phase("plan")(df.queryExecution.executedPlan)
        phase("execute")(df.write.format("noop").mode("overwrite").save())
      } catch { case e: Throwable => err = Some(errText(e)) }
      val q1 = now()
      if (t != null) {
        t.setTag(index, "", "")
        val id = t.newSpanId()
        t.span(id, passId, "query", name, q0, q1)
        querySpan.foreach { case (p, a, b) => t.span(t.newSpanId(), id, p, name, a, b) }
      }
      (name, (q1 - q0) / 1000.0, err)
    }
    sc.clearJobGroup()
    val pass1 = now()
    if (t != null) { t.span(passId, 0, "pass", index.toString, pass0, pass1); t.passEnd(index) }
    ((pass1 - pass0) / 1000.0, results)
  }

  /** Seconds for a fixed Spark job that runs no engine code: a hash and
    * sum over generated rows on every core. Taken after each timed pass,
    * outside its window, it shows in the result whether the host slowed
    * down during the run; no metric is derived from it. */
  private def probeHost(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 60000000L, 1L, sc.defaultParallelism).selectExpr("sum(hash(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def passJson(kind: String, wall: Double, rs: Seq[(String, Double, Option[String])]): String =
    Json.obj(Seq(
      "kind" -> Json.str(kind),
      "wall_s" -> Json.num(wall),
      "queries" -> Json.obj(rs.map { case (n, s, _) => n -> Json.num(s) }),
      "errors" -> Json.obj(rs.collect { case (n, _, Some(e)) => n -> Json.str(e) })))

  /** Collects one query's output: the rows with their schema, or the error. */
  private def output(build: (SparkSession, String) => DataFrame): Either[String, (Array[Row], StructType)] =
    try {
      val df = build(spark, data)
      Right((df.collect(), df.schema))
    } catch { case e: Throwable => Left(errText(e)) }

  private def outputJson(rs: Seq[(String, Either[String, (Array[Row], StructType)])]): String =
    Json.obj(rs.map {
      case (n, Right((rows, _))) =>
        val (count, hash) = RowHash(rows)
        n -> Json.obj(Seq("rows" -> count.toString, "hash" -> Json.str(hash)))
      case (n, Left(e)) => n -> Json.obj(Seq("error" -> Json.str(e)))
    })

  def bench(seconds: Double, trace: Boolean, plateau: Double): Seq[(String, String)] = {
    val check = outputJson(queries.map { case (n, b) => n -> output(b) })
    cleanUp()
    val passes = ArrayBuffer.empty[String]
    var index = 0
    val warm = ArrayBuffer.empty[Double]
    def settled = warm.size >= 2 && math.abs(warm.last - warm(warm.size - 2)) <= plateau * warm(warm.size - 2)
    while (!settled && warm.size < MaxWarm) {
      val (wall, rs) = pass(index, None)
      passes += passJson("warm", wall, rs)
      warm += wall
      index += 1
      cleanUp()
    }
    val firstTimedMs = System.currentTimeMillis()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var lastCycle = 0L
    def fits = System.nanoTime() + lastCycle <= deadline
    var traced = 0
    var untraced = 0
    val hostProbes = ArrayBuffer.empty[Double]
    while (fits || (trace && (traced == 0 || untraced == 0))) {
      val c0 = System.nanoTime()
      val on = trace && untraced > traced
      if (on) tracer.get.install()
      val (wall, rs) = pass(index, if (on) tracer else None)
      if (on) { tracer.get.uninstall(); traced += 1 } else untraced += 1
      passes += passJson(if (on) "traced" else "timed", wall, rs)
      index += 1
      hostProbes += probeHost()
      cleanUp()
      lastCycle = System.nanoTime() - c0
    }
    Seq(
      "first_timed_ms" -> firstTimedMs.toString,
      "host_probe_s" -> hostProbes.map(Json.num).mkString("[", ",", "]"),
      "plateau_reached" -> settled.toString,
      "check" -> check,
      "passes" -> passes.mkString("[", ",", "]")) ++
      tracer.map(t => "trace" -> t.json).toSeq
  }

  def record(dump: String): Seq[(String, String)] = {
    val outs = queries.map { case (n, b) => n -> output(b) }
    outs.foreach { case (n, r) =>
      r.foreach { case (rows, schema) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      }
    }
    val oracles = graft.SparkEntry.oracleSql
    Seq("check" -> outputJson(outs),
      "oracle_sql" -> Json.obj(queries.flatMap { case (n, _) => oracles.get(n).map(sql => n -> Json.str(sql)) }))
  }
}
