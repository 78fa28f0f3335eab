package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming mergeable-histogram quantiles — the incremental twin of
  * q_hist_quantiles (Governance.qHistQuantiles), and the quantile member
  * of the sketch-log family (StreamSketch: HLL; StreamPsi: drift bins;
  * StreamDq: rule counters; this: value distribution).
  *
  * Bounds (vlo, width) are frozen at reference time (a quantile monitor,
  * like a drift monitor, needs FIXED bins to stay mergeable and
  * comparable across evaluations); each micro-batch is binned with
  * Governance.psiBinCol at [[Governance.HistBins]] resolution — the same
  * expression family the batch query executes — and its ≤HistBins count
  * rows appended to the log at a fixed per-batch path in overwrite mode
  * (bin counts are additive, so replay-replaces-itself is correctness —
  * and fixed path + overwrite provides it without a separate sweep).
  * [[report]] folds the log into the batch query's merged-histogram shape
  * and runs the SHARED Governance.histQuantileLookup, so streamed approx
  * quantiles cannot drift from the batch rollup's. The rank-exact audit
  * stays batch-side (it needs a corpus sort — the verify-scale check, not
  * the production path).
  *
  * Scale shape: per batch one (bin)-keyed aggregate of ≤HistBins rows;
  * the log grows ≤HistBins rows per batch; the report reads only the log.
  */
object StreamHist {

  /** Freeze (vlo, width) from a calibration values relation. */
  def writeReference(values: DataFrame, refDir: String): Unit =
    values.agg(min(col("value")).as("vlo"),
      ((max(col("value")) - min(col("value"))) /
        lit(Governance.HistBins.toDouble)).as("width"))
      .coalesce(1)
      .write.mode("overwrite").parquet(refDir)


  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (the
    * frozen reference at `refDir` is written at deployment by
    * [[writeReference]], so a missing REFERENCE stays a loud config
    * error — only the not-yet-started delta log degrades). */
  private[graft] val DeltaDdl = "bin BIGINT,n BIGINT"

  private val Bins = DeltaLog.Log("log", "hist_", DeltaDdl)

  /** Bin one micro-batch of (value) rows against the frozen bounds;
    * append its ≤HistBins count rows to the log. */
  def processBatch(batch: DataFrame, refDir: String, batchId: Long,
      logDir: String): Unit =
    DeltaLog.ifNonEmpty(batch) {
      val ref = batch.sparkSession.read.parquet(refDir).limit(1)
      Bins.write(batch.crossJoin(broadcast(ref))
        .withColumn("bin", Governance.psiBinCol(col("value"), col("vlo"),
          col("width"), Governance.HistBins))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"))
        .coalesce(1), batchId, logDir)
    }

  /** Wire a streaming (value) DataFrame into the maintainer. */
  def run(values: DataFrame, refDir: String, logDir: String,
      trigger: Trigger = DeltaLog.DefaultTrigger): StreamingQuery =
    DeltaLog.run(values, logDir, trigger)(processBatch(_, refDir, _, logDir))

  /** Approx quantiles of the accumulated stream from the bin log alone:
    * fold, rebuild the merged-histogram shape, shared lookup. */
  def report(spark: SparkSession, refDir: String, logDir: String): DataFrame = {
    val ref = spark.read.parquet(refDir).limit(1)
    val folded = Bins.read(spark, logDir)
      .groupBy(col("bin")).agg(sum(col("n")).as("cnt"))
      .crossJoin(broadcast(ref))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
    Governance.histQuantileLookup(folded)
      .select(col("p"), col("n").as("n_total"), col("bin"), col("approx_q"))
      .orderBy(col("p"))
  }
}
