package graft.streaming

import graft.operators.{PipelineOps, TextAnalytics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming preference-pair maintainer — the growing-corpus twin of
  * q_preference_pairs: one delta log of per-batch stratum extrema whose
  * fold IS the corpus-lifetime pair table, because every reduction is
  * associative — the stratum count is a sum of per-batch counts, and the
  * chosen/rejected picks are total-order extrema (chosen: quality desc,
  * ties to the lower doc_id; rejected: quality asc, ties to the HIGHER —
  * opposed, so a degenerate stratum never pairs a doc with itself), so
  * max-by over a corpus equals max-by of
  * per-batch max-bys. A better exemplar arriving months after a stratum's
  * current pair still replaces it at fold time, with zero per-key
  * streaming state (the state lives in the log, strata-sized per batch).
  *
  * Readout: [[pairs]] — bit-equal to q_preference_pairs on the corpus
  * streamed so far, via the SHARED readout tail
  * ([[PipelineOps.prefPairsFrom]]); the quality score is the one shared
  * definition ([[TextAnalytics.qualityCol]]). StreamPrefSpec pins
  * bit-equality (fixture + sf0.001), a cross-batch pair whose chosen and
  * rejected arrive in different batches, and recovery replay.
  *
  * Idempotent recovery: fixed `b<id>.parquet` paths in overwrite mode
  * (additive counters are not duplicate-insensitive — the StreamDq
  * discipline); the log auto-compacts past
  * [[DeltaLog.CompactThreshold]] batch dirs.
  */
object StreamPref extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh. */
  private[graft] val DeltaDdl = "lang STRING,source STRING,n_docs BIGINT," +
    "ch STRUCT<doc_id: BIGINT, q: DOUBLE>," +
    "rj STRUCT<doc_id: BIGINT, q: DOUBLE>"

  private[graft] val Extrema = DeltaLog.Log("log", "", DeltaDdl)

  /** Append one micro-batch's per-stratum extrema delta. Batches carry
    * (doc_id, text, lang, source). */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Extrema.write(PipelineOps.prefGrouped(docsBatch
        .select(col("lang"), col("source"), col("doc_id"),
          TextAnalytics.qualityCol.as("q"))),
      batchId, logDir)

  /** The live pair table — q_preference_pairs bit-equal on the corpus
    * streamed so far: fold the extrema log (sum counts; re-pick extrema
    * over the per-batch picks with the same total order), then the
    * shared readout tail. */
  def pairs(spark: SparkSession, logDir: String): DataFrame =
    PipelineOps.prefPairsFrom(
      Extrema.read(spark, logDir)
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          max_by(col("ch"), struct(col("ch.q"), -col("ch.doc_id")))
            .as("ch"),
          min_by(col("rj"), struct(col("rj.q"), -col("rj.doc_id")))
            .as("rj")))
}
