package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.streaming.{EventStreams, StreamLane}

/** The session's compile-once settings hold on the shared test
  * session: a working set larger than Spark's default codegen cache
  * (100 classes) and a streaming lane's cloned session both compile
  * each class once per JVM. */
class GraftSessionSpec extends SparkSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles that `f` adds when run a second time. */
  private def recompilesOnRerun(f: () => Unit): Long = {
    f()
    val before = compiles
    f()
    compiles - before
  }

  test("every engine setting took on the shared session") {
    GraftSession.engineConf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("more than 100 distinct generated projections compile once") {
    val projections = (1 to 160).map(i => s"id * $i + $i")
    val before = compiles
    val added = recompilesOnRerun { () =>
      projections.foreach(p => spark.range(3).selectExpr(p).collect())
    }
    assert(compiles - before > 100, "the working set must exceed Spark's default cache")
    assert(added == 0)
  }

  test("a streaming lane's second run compiles nothing") {
    def lane(): Set[Row] = StreamLane.drain(spark,
      EventStreams.hourlyCounts(StreamLane.events(spark, sfDir)
        .withColumn("value", col("value").cast("decimal(28,2)"))),
      "complete", "codegen_lane", noDataBatch = false).collect().toSet
    var runs = Seq.empty[Set[Row]]
    val added = recompilesOnRerun(() => runs :+= lane())
    assert(runs.head.nonEmpty && runs.head == runs(1))
    assert(added == 0)
  }
}
