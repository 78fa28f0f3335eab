package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming PSI drift monitor — the incremental twin of q_psi_drift
  * (Governance.qPsiDrift) in its production shape: a FIXED reference
  * histogram (bounds + bin counts frozen from a baseline window) against a
  * live population accumulated per micro-batch.
  *
  * Per batch: bin incoming values with Governance.psiBinCol against the
  * frozen (vlo, width) — the SAME bucketing expression the batch query
  * executes — aggregate to ≤PsiBins count rows, append to a parquet bin
  * log at a fixed per-batch path in overwrite mode (bin counts, like DQ
  * counters, are additive NOT duplicate-insensitive, so the
  * replay-replaces-itself property is correctness, and fixed path +
  * overwrite provides it without a separate sweep).
  * [[report]] folds the log by bin, joins the frozen reference counts,
  * and runs Governance.psiOfCounts — smoothing, terms, and the
  * exact-decimal total are shared with the batch query, so the two
  * surfaces cannot drift.
  *
  * Scale shape: the per-batch aggregate shuffles ≤PsiBins keyed partial
  * counts (bytes per bin, not per row); the log grows ≤PsiBins rows per
  * batch; the report never re-touches raw history. At 100 TB this is the
  * only tractable drift monitor — re-deriving bounds per evaluation (the
  * batch query's corpus-relative mode) would re-scan history on every
  * check AND make consecutive reports incomparable as bins move.
  */
object StreamPsi {

  /** (vlo, width) bounds of a values relation — frozen at reference time. */
  def bounds(values: DataFrame): DataFrame =
    values.agg(min(col("value")).as("vlo"),
      ((max(col("value")) - min(col("value"))) / lit(Governance.PsiBins.toDouble))
        .as("width"))

  /** Freeze the reference: bin the baseline values against `boundsDf` and
    * write (bin, n_ref, vlo, width) to `refDir` — the monitor's fixed
    * comparison population. */
  def writeReference(values: DataFrame, boundsDf: DataFrame,
      refDir: String): Unit =
    values.crossJoin(broadcast(boundsDf))
      .withColumn("bin", Governance.psiBinCol(col("value"), col("vlo"), col("width")))
      .groupBy(col("bin"), col("vlo"), col("width"))
      .agg(count(lit(1)).as("n_ref"))
      .coalesce(1)
      .write.mode("overwrite").parquet(refDir)


  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the monitor is fresh (a missing
    * REFERENCE stays a loud config error — [[writeReference]] runs at
    * deployment; only the not-yet-started delta log degrades). */
  private[graft] val DeltaDdl = "bin BIGINT,n BIGINT"

  private val Bins = DeltaLog.Log("log", "bins_", DeltaDdl)

  /** Bin one micro-batch of (value) rows against the frozen reference
    * bounds; append its ≤PsiBins count rows to the log. */
  def processBatch(batch: DataFrame, refDir: String, batchId: Long,
      logDir: String): Unit =
    DeltaLog.ifNonEmpty(batch) {
      val refBounds = batch.sparkSession.read.parquet(refDir)
        .select(col("vlo"), col("width")).limit(1)
      Bins.write(batch.crossJoin(broadcast(refBounds))
        .withColumn("bin",
          Governance.psiBinCol(col("value"), col("vlo"), col("width")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"))
        .coalesce(1), batchId, logDir)
    }

  /** Wire a streaming (value) DataFrame into the monitor. */
  def run(values: DataFrame, refDir: String, logDir: String,
      trigger: Trigger = DeltaLog.DefaultTrigger): StreamingQuery =
    DeltaLog.run(values, logDir, trigger)(processBatch(_, refDir, _, logDir))

  /** PSI of the accumulated stream vs the frozen reference, from the bin
    * log alone: fold the log by bin, join reference counts, shared
    * smoothing/terms. Output matches q_psi_drift's column set (reference
    * population as n_old, streamed population as n_new). */
  def report(spark: SparkSession, refDir: String, logDir: String): DataFrame = {
    val ref = spark.read.parquet(refDir)
      .select(col("bin"), col("n_ref").as("n_old"))
    val cur = Bins.read(spark, logDir)
      .groupBy(col("bin")).agg(sum(col("n")).as("n_new"))
    Governance.psiOfCounts(ref.join(cur, Seq("bin"), "full"))
  }
}
