package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Shared scaffolding for the hash-gated streaming bench lanes
  * (q187/q188/q205/q214/q226): one events file-source builder and one
  * memory-sink drain, so every lane runs the same source discipline
  * and the lane bodies carry only their operator.
  *
  * State stores take their partition count from the session's
  * `spark.sql.shuffle.partitions`, like every other shuffle. With
  * [[LocalCheckpointFileManager]] a store's files fork no process,
  * and at sf0.1 on 4 cores the six stateful lanes took 8.95 s at the
  * session default (4) against 9.39 s pinned at 8.
  *
  * One cost knob lives here because it is a sizing decision, not
  * semantics:
  *
  *  - `noDataBatch`: after the data batch commits, the advanced
  *    watermark normally triggers one trailing empty micro-batch
  *    whose only work is state eviction/emission. Lanes whose output
  *    is watermark-INDEPENDENT (complete-mode censuses q187/q226,
  *    the inner stream-stream join q214 — pairs emit in the data
  *    batch) skip it: it would re-run the full state-store
  *    read/write cycle to emit nothing. Lanes whose emission IS the
  *    watermark's work — q188's session_window eviction, q205's
  *    event-time timeouts — keep it (the default), because without
  *    it their append-mode output would be empty.
  *
  *    It is set on the session conf just before `.start()` and
  *    restored in a finally; stateful queries capture it at start,
  *    so the scope is exactly the lane's own query. */
object StreamLane {

  /** File-source stream over `d`/events.parquet with `ts` normalized
    * to the epoch-nanos BIGINT contract ([[graft.Tables.events]]'s
    * batch twin): probes the batch schema from the parquet footer so
    * the reader tracks the driver data's TIMESTAMP(NANOS) /
    * timestamp[us] / BIGINT generational drift. The file stream
    * source requires a DIRECTORY path (it re-derives basePath per
    * batch), so it streams the sf dir glob-filtered to the one
    * table; `maxFilesPerTrigger` is high so the whole corpus arrives
    * as ONE micro-batch (watermarks only advance between batches —
    * single-batch arrival is what makes the lanes' emitted sets
    * deterministic). */
  def events(s: SparkSession, d: String): DataFrame = {
    val batchSchema = graft.Tables.schemaOf(s, s"$d/events.parquet")
    val raw = s.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", 1 << 20)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
    batchSchema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts",
          (unix_micros(col("ts").cast(TimestampType)) * 1000L).cast(LongType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other")
    }
  }

  /** File-source stream over `d`/documents.parquet — the ingest-lane
    * twin of [[events]] for the document tiers (q234): same
    * directory+glob discipline, same single-micro-batch arrival.
    * Documents carry no event-time column, so no ts normalization. */
  def documents(s: SparkSession, d: String): DataFrame = {
    val batchSchema = graft.Tables.schemaOf(s, s"$d/documents.parquet")
    s.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", 1 << 20)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
  }

  /** File-source stream over `d`/embeddings.parquet — the query-
    * stream twin of [[documents]] for the ANN serving tier (q240):
    * same directory+glob discipline, same single-micro-batch
    * arrival. No event-time column, no normalization. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val batchSchema = graft.Tables.schemaOf(s, s"$d/embeddings.parquet")
    s.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", 1 << 20)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(d)
  }

  /** Start `df` into a uniquely-named memory sink, drain it to
    * completion, and return the sink table (bounded lane payloads
    * only — window censuses, closed sessions, attribution pairs;
    * never a corpus). See the object doc for `noDataBatch`. */
  def drain(s: SparkSession, df: DataFrame, mode: String, prefix: String,
            noDataBatch: Boolean = true): DataFrame = {
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = s.conf.getOption(noDataKey)
    s.conf.set(noDataKey, noDataBatch.toString)
    try {
      val sink = s"${prefix}_${System.nanoTime()}"
      val q = df.writeStream.format("memory").queryName(sink)
        .outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
    } finally {
      prevNoData match {
        case Some(v) => s.conf.set(noDataKey, v)
        case None    => s.conf.unset(noDataKey)
      }
    }
  }
}
