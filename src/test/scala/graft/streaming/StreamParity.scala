package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import graft.SparkSuite

/** Stream ≡ batch check for a stateless operator: a batch-fit model
  * scored per row, or a generator, runs unchanged on a streaming
  * DataFrame, so its streamed output must equal a batch reference and
  * its query must hold no state store. */
trait StreamParity { this: SparkSuite =>

  /** A row's values, arrays as Seqs, so rows compare by content. */
  protected def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map((r: Row) => r.toSeq.map {
      case a: Array[_] => a.toSeq
      case x => x
    }).toSet

  /** Lands `in` as JSON, runs `op` on a file-source stream of it into
    * the parquet sink under AvailableNow, and asserts the sunk rows
    * equal `batch`'s and the query reported no state operator.
    * Returns the streamed rows for the caller's own asserts. */
  protected def assertStreamMatchesBatch(in: DataFrame, op: DataFrame => DataFrame,
                                         batch: DataFrame): Set[Seq[Any]] = {
    val dir = Files.createTempDirectory(Paths.get("target"), "stateless")
    in.write.json(s"$dir/in")
    val schema = StructType(in.schema.map(_.copy(nullable = true)))
    val stream = spark.readStream.schema(schema).json(s"$dir/in")
    val q = EventStreams.writeParquetSink(op(stream), s"$dir/data", s"$dir/ckpt")
    q.awaitTermination(60000)
    val streamed = rowSet(spark.read.parquet(s"$dir/data"))
    assert(streamed === rowSet(batch), "streaming and batch output diverged")
    val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    assert(st.isEmpty, s"a stateless operator must hold no streaming state: ${st.mkString(",")}")
    streamed
  }
}
