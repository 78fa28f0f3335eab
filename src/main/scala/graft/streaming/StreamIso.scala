package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming embedding-health maintainer — the incremental twin of
  * q_embed_isotropy (graft.operators.Similarity): a maintained
  * SPACE-COLLAPSE monitor. Both partials are additive — the norm moments
  * (1 row of exact decimals) and the per-dimension vector sums (d rows) —
  * so each micro-batch appends a (1+d)-row delta and the live readout
  * folds the log and re-runs the shared report, bit-equal to the batch
  * query. A retrieval platform runs exactly this against its embedding
  * ingest to catch model regressions (norm drift, rising anisotropy) as
  * they stream in, without ever rescanning the corpus.
  *
  * Idempotent recovery: fixed `*_b<id>.parquet` paths in overwrite mode
  * (the StreamDq discipline).
  */
object StreamIso extends Maintainer {

  /** Delta-log schemas as written by [[processBatch]] (norm moments and
    * per-dimension sums) — pinned against the writer by
    * FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the empty relation
    * in these schemas when the maintainer is fresh (no batch yet), so the
    * readout degrades to an empty report, never throws. */
  private[graft] val NormsDdl =
    "n BIGINT,sn_d DECIMAL(38,9),sn2_d DECIMAL(38,9)"
  private[graft] val PosDdl = "pos INT,cnt BIGINT,sv_d DECIMAL(38,12)"

  private val Norms = DeltaLog.Log("norms", "", NormsDdl)
  private val Pos = DeltaLog.Log("pos", "", PosDdl)

  /** Append one micro-batch's norm-moment + per-dimension deltas.
    * Batches carry (vec_id, embedding). */
  protected def append(embBatch: DataFrame, batchId: Long,
      logDir: String): Unit = {
    Norms.write(Similarity.isoNormsDec(embBatch).coalesce(1),
      batchId, logDir)
    Pos.write(Similarity.isoPosDec(embBatch).coalesce(1), // d rows
      batchId, logDir)
  }

  /** The live readout from the delta logs alone: exact decimal folds,
    * then the shared report. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val norms = Norms.read(spark, logDir)
      .agg(sum(col("n")).as("n"),
        sum(col("sn_d")).as("sn_d"), sum(col("sn2_d")).as("sn2_d"))
    val pos = Pos.read(spark, logDir)
      .groupBy(col("pos"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sv_d")).as("sv_d"))
    Similarity.isoReport(norms, pos)
  }
}
