package graft.streaming

import graft.operators.MlEval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming OLS maintainer — the incremental twin of q_ols_fit
  * (graft.operators.MlEval): a maintained REGRESSION, not just maintained
  * counters. The normal-equation moments are plain sums, so each
  * micro-batch contributes one 1-row delta of UNROUNDED DECIMAL(38,9)
  * partials (the additive shape Gramian methods are chosen for — this is
  * exactly why closed-form OLS is the 100 TB regression: the model
  * "trains" by folding a moment log, never by revisiting rows). The live
  * fit re-solves the 3×3 system over the folded moments: rounding happens
  * ONCE at fold (the StreamBoot/StreamDaily discipline), so the readout is
  * bit-equal to the batch query on the same rows — StreamOlsSpec pins it.
  *
  * Idempotent recovery: fixed `moments_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline) — a replayed batch overwrites its own
  * delta instead of double-counting.
  */
object StreamOls extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "n BIGINT,sq_d DECIMAL(38,9),sd_d DECIMAL(38,9)" +
      ",sy_d DECIMAL(38,9),sqq_d DECIMAL(38,9),sqd_d DECIMAL(38,9)" +
      ",sdd_d DECIMAL(38,9),sqy_d DECIMAL(38,9),sdy_d DECIMAL(38,9)" +
      ",syy_d DECIMAL(38,9)"

  private val Moments = DeltaLog.Log("log", "moments_", DeltaDdl)

  /** Append one micro-batch's moment delta (1 row: n + ten decimal
    * sums). Batches carry (l_quantity, l_discount, l_extendedprice). */
  protected def append(liBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Moments.write(MlEval.olsMomentsDec(liBatch).coalesce(1), batchId, logDir)

  /** The live fit from the moment log alone: exact decimal fold, one
    * terminal round per moment, then the shared closed-form solve. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val dec = Seq("sq", "sd", "sy", "sqq", "sqd", "sdd", "sqy", "sdy", "syy")
    val folded = Moments.read(spark, logDir)
      .agg(sum(col("n")).as("n"),
        dec.map(c => sum(col(c + "_d")).as(c + "_d")): _*)
    MlEval.olsSolve(MlEval.olsFinish(folded))
  }
}
