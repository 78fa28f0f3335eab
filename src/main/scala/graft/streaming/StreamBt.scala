package graft.streaming

import graft.operators.{MlEval, TextAnalytics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming Bradley–Terry maintainer — the provenance-strength ladder
  * (q_bradley_terry) kept LIVE over a growing corpus: each crawl
  * micro-batch updates the source-vs-source preference fit without ever
  * re-scoring history. One additive delta log:
  *
  *  - `hist`: the batch's (source, 2-dp quality bin, count) histogram —
  *    the batch query's ONE corpus-priced aggregate
  *    ([[MlEval.btHistOf]]). Folding `sum(c)` across batches equals the
  *    batch collapse over the union corpus exactly, and EVERYTHING in
  *    the fit (win matrix, MM strengths, ranks) is a pure function of
  *    that histogram, so the readout is bit-equal to q_bradley_terry on
  *    the corpus streamed so far — including comparisons between a doc
  *    in batch 0 and a doc in batch 9, which no per-batch computation
  *    could see (StreamBtSpec pins this cross-batch case, plus recovery
  *    replay).
  *
  * Scale shape: per batch, one batch-sized map pass (quality scoring)
  * collapsing to a sources×bins delta; readout cost is one fold of the
  * bounded log plus the model-scale win-matrix/MM arithmetic — never
  * corpus scale. The log auto-compacts past
  * [[DeltaLog.CompactThreshold]] dirs. No batch repartition: the batch
  * is string-heavy and the one consumer partial-aggregates away from
  * the scan immediately (the IngestHub negative A/B).
  *
  * Idempotent recovery: fixed per-batch paths in overwrite mode —
  * additive counters are not duplicate-insensitive, so replace-my-batch
  * is correctness on checkpoint-recovery replay (the StreamDq
  * discipline).
  */
object StreamBt extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] —
    * [[DeltaLog.emptyOr]] serves it when the maintainer is fresh. */
  private[graft] val HistDdl = "source STRING,v DOUBLE,c BIGINT"

  private val Hist = DeltaLog.Log("hist", "", HistDdl)

  /** Append one micro-batch's histogram delta. Batches carry
    * (source, text); scoring is identical to the batch query's. */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Hist.write(MlEval.btHistOf(docsBatch.select(col("source"),
      TextAnalytics.qualityCol.as("q"))), batchId, logDir)

  /** The live strength ladder from the log alone — q_bradley_terry
    * bit-equal on the corpus streamed so far. */
  def strengths(spark: SparkSession, logDir: String): DataFrame =
    MlEval.bradleyTerryFromHist(
      Hist.read(spark, logDir)
        .groupBy(col("source"), col("v")).agg(sum(col("c")).as("c")))
}
