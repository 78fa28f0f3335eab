package graft.streaming

import graft.operators.LexicalStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming mixture-rebalance maintainer — the growing-corpus twin of
  * q_mix_rebalance: the DoReMi-shaped "which sources deserve more
  * weight" table, kept current per micro-batch. The expensive input is
  * the (source, term) split-count collapse, and its counters are plainly
  * ADDITIVE over document slices (the salted train/val bucket is a
  * per-document constant), so ONE maintained (source, term, ctf, vtf)
  * delta log folded by sums serves the full rebalance readout bit-equal
  * to the batch query via the shared [[LexicalStats.mixReport]] — a
  * data-mixing control loop re-reads its weights after every ingest
  * batch without re-tokenizing history. StreamMixSpec pins fixture +
  * sf0.001 bit-equality and recovery replay.
  *
  * Idempotent recovery: fixed `b<id>.parquet` paths in overwrite mode
  * (additive counters are not duplicate-insensitive — the StreamDq
  * discipline); the log auto-compacts past
  * [[DeltaLog.CompactThreshold]] batch dirs.
  */
object StreamMix extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh. */
  private[graft] val DeltaDdl =
    "source STRING,term STRING,ctf BIGINT,vtf BIGINT"

  private[graft] val Counts = DeltaLog.Log("log", "", DeltaDdl)

  /** Append one micro-batch's split-count delta. Batches carry
    * (doc_id, text, source). */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Counts.write(LexicalStats.mixSt(docsBatch), batchId, logDir)

  /** The live rebalance table — q_mix_rebalance bit-equal on the corpus
    * streamed so far: fold the log by per-(source, term) sums, then the
    * shared report. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    LexicalStats.mixReport(
      Counts.read(spark, logDir)
        .groupBy(col("source"), col("term"))
        .agg(sum(col("ctf")).as("ctf"), sum(col("vtf")).as("vtf")))
}
