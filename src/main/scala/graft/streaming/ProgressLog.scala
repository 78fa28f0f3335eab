package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine-level streaming observability: a [[StreamingQueryListener]] that
  * appends one row per completed micro-batch — batch id, input rows,
  * input/process rates, batch duration, and watermark — to a parquet
  * metrics directory. This is the ENGINE-metrics complement of
  * MicroBatchPipeline's DATA-metric sinks (reference S6): the reference
  * dashboards data aggregates; operating the pipeline at scale also needs
  * the throughput/lag series itself (is the 10 s trigger budget holding?
  * is a backlog building?), which only the query-progress events carry.
  *
  * The listener fires on the driver's listener-bus thread, off the
  * micro-batch critical path — a slow metrics write delays metrics, not
  * the stream. Appends go through the same single-file-per-event parquet
  * shape as the data metric sinks; pair with [[Retention]] for
  * long-running queries. Scope with `attach`/`detach` (listeners are
  * session-global).
  */
class ProgressLog(spark: SparkSession, dir: String)
    extends StreamingQueryListener {

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import spark.implicits._
    Seq((
      p.id.toString,
      p.batchId,
      p.timestamp,
      p.numInputRows,
      // rates are NaN on the first batch (no prior timestamp) — store null
      if (p.inputRowsPerSecond.isNaN) None else Some(p.inputRowsPerSecond),
      if (p.processedRowsPerSecond.isNaN) None
      else Some(p.processedRowsPerSecond),
      p.batchDuration,
      Option(p.eventTime.get("watermark"))))
      .toDF("query_id", "batch_id", "ts", "input_rows",
        "input_rows_per_sec", "processed_rows_per_sec",
        "batch_duration_ms", "watermark")
      .coalesce(1)
      .write.mode("append").parquet(dir)
  }
}

object ProgressLog {
  /** Register a progress log for the session; returns the listener so the
    * caller can [[detach]] it (listeners outlive queries). */
  def attach(spark: SparkSession, dir: String): ProgressLog = {
    val l = new ProgressLog(spark, dir)
    spark.streams.addListener(l)
    l
  }

  def detach(spark: SparkSession, l: ProgressLog): Unit =
    spark.streams.removeListener(l)
}
