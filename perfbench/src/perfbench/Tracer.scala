package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records spans around the benchmark's calls into the engine and the
  * events Spark reports through its public listener interfaces, and
  * holds both in memory until [[json]] writes them out.
  *
  * Every event is tagged with the phase that was current when the
  * listener processed it (`pass/query/phase`). The traced pass drains
  * the listener bus at each phase boundary, so that tag is the phase
  * that caused the event. Jobs also carry the job group the benchmark
  * set for the phase; streaming micro-batch jobs carry the stream's own
  * group, and are attributed through the tag. Times are epoch
  * milliseconds, the clock Spark's events use. */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile private var tag: String = ""
  def setTag(pass: Int, query: String, phase: String): Unit = tag = s"$pass/$query/$phase"

  private val spans = ArrayBuffer.empty[String]
  private val jobs = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val tasks = ArrayBuffer.empty[String]
  private val sql = ArrayBuffer.empty[String]
  private val batches = ArrayBuffer.empty[String]
  private val jvm = ArrayBuffer.empty[String]
  private var nextSpan = 0

  def newSpanId(): Int = synchronized { nextSpan += 1; nextSpan }
  def span(id: Int, parent: Int, kind: String, name: String, t0: Double, t1: Double): Unit = synchronized {
    spans += Json.arr(Seq(id, parent, Json.str(kind), Json.str(name), Json.num(t0), Json.num(t1)))
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private var passGc0 = 0L
  def passStart(): Unit = { heapPools.foreach(_.resetPeakUsage()); passGc0 = gcMs() }
  def passEnd(pass: Int): Unit = {
    val peak = heapPools.map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
    jvm += Json.arr(Seq(pass, gcMs() - passGc0, peak))
  }

  private val sparkListener = new SparkListener {
    private val started = scala.collection.mutable.Map.empty[Int, (String, String, Long)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      started(e.jobId) = (group, tag, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (group, t, start) =>
        jobs += Json.arr(Seq(e.jobId, Json.str(group), Json.str(t), start, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stages += Json.arr(Seq(s.stageId, s.numTasks, Json.str(tag)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        tasks += Json.arr(Seq(e.stageId, Json.str(tag), i.launchTime, i.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.resultSize,
          m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val sums = Tracer.operatorMetrics(qe.executedPlan)
      synchronized {
        sql += Json.arr(Seq(Json.str(tag), Json.str(funcName),
          sums("aggTime"), sums("sortTime"), sums("pipelineTime"), sums("scanTime")))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val stateCommit = p.stateOperators.map(_.commitTimeMs).sum
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution")
      synchronized {
        batches += Json.arr(Seq(Json.str(tag), p.batchId, p.numInputRows, end,
          d("triggerExecution"), d("queryPlanning"), d("addBatch"), d("commitOffsets") + d("walCommit"),
          stateCommit))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  def json: String = synchronized {
    def list(b: ArrayBuffer[String]) = b.mkString("[", ",", "]")
    Json.obj(Seq(
      "spans" -> list(spans), "jobs" -> list(jobs), "stages" -> list(stages), "tasks" -> list(tasks),
      "sql" -> list(sql), "batches" -> list(batches), "jvm" -> list(jvm),
      "fields" -> Json.obj(Seq(
        "spans" -> Json.strs(Seq("id", "parent", "kind", "name", "t0_ms", "t1_ms")),
        "jobs" -> Json.strs(Seq("job", "group", "tag", "start_ms", "end_ms")),
        "stages" -> Json.strs(Seq("stage", "num_tasks", "tag")),
        "tasks" -> Json.strs(Seq("stage", "tag", "launch_ms", "finish_ms", "run_ms", "cpu_ns", "gc_ms",
          "result_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
          "disk_spill_bytes", "input_records", "input_bytes")),
        "sql" -> Json.strs(Seq("tag", "func", "agg_ms", "sort_ms", "pipeline_ms", "scan_ms")),
        "batches" -> Json.strs(Seq("tag", "batch", "input_rows", "end_ms", "trigger_ms", "planning_ms",
          "add_batch_ms", "commit_ms", "state_commit_ms")),
        "jvm" -> Json.strs(Seq("pass", "gc_ms", "heap_peak_bytes"))))))
  }
}

object Tracer {
  /** Sums the timing metrics of every operator in an executed plan,
    * descending into adaptive query stages, reused exchanges and
    * subqueries, each node counted once. `scanTime` is the parquet
    * scan's; the others are reported by aggregates, sorts and
    * whole-stage-codegen pipelines. Results are milliseconds; a metric
    * Spark keeps in nanoseconds is converted. */
  def operatorMetrics(root: SparkPlan): Map[String, Long] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val acc = scala.collection.mutable.Map("aggTime" -> 0L, "sortTime" -> 0L, "pipelineTime" -> 0L, "scanTime" -> 0L)
    def visit(p: SparkPlan): Unit = if (p != null && seen.add(p)) {
      p.metrics.foreach { case (k, m) =>
        if (acc.contains(k)) acc(k) += (if (m.metricType == "nsTiming") m.value / 1000000L else m.value)
      }
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec        => visit(q.plan)
        case r: ReusedExchangeExec    => visit(r.child)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(root)
    acc.toMap
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < ' '  => f"\\u${c.toInt}%04x"
    case c             => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def arr(xs: Seq[Any]): String = xs.map {
    case d: Double => num(d)
    case other     => other.toString
  }.mkString("[", ",", "]")
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
