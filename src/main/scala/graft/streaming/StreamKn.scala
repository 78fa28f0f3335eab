package graft.streaming

import graft.operators.LexicalStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming Kneser–Ney model maintainer — the incremental twin of the
  * q_kn_doc_surprisal / q_kneser_ney LM family, and the first maintained
  * LANGUAGE MODEL in the twin suite: an ingest stream of documents keeps
  * the train-split bigram counts current, and the CCNet-style per-doc
  * quality scores are read from the maintained model at any time without
  * re-scanning the corpus the model was fit on.
  *
  * Why this maintains cleanly: the entire KN model derives from ONE
  * additive integer relation — the train-split bigram counts (w1, w2, cb)
  * ([[LexicalStats.knTrainCounts]]). Context totals, continuation counts
  * and the type total are aggregates OVER that relation, recomputed at
  * read time on model-scale (bigram-type) data. So each micro-batch
  * appends its own per-batch (w1, w2, cb) delta and the live model is one
  * (w1, w2) fold over the O(batches · batch-bigram-types)-row log; the
  * folded model equals the batch-built model EXACTLY (integer counters —
  * no estimation drift), and scores read through it are bit-identical to
  * the batch query's (StreamKnSpec pins both).
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode — additive counters are not duplicate-insensitive, so
  * replace-my-batch is CORRECTNESS on checkpoint-recovery replay (the
  * StreamCms/StreamDq discipline).
  *
  * At 100 TB: the per-batch delta is batch-sized work collapsing to
  * batch-bigram-type rows before anything is written; the fold and the
  * derived model relations are bigram-type-scale; only a scoring pass
  * over the PROBE documents is corpus-priced, exactly like the batch
  * scorer. The delta log compacts through the shared
  * [[DeltaLog.maybeCompact]] policy, like every other delta log.
  */
object StreamKn extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "w1 STRING,w2 STRING,cb BIGINT"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's train-split bigram-count delta to the log.
    * Batches of documents carry (doc_id, text); the salted-md5 split
    * inside [[LexicalStats.knDocBigrams]] decides train membership
    * per-document, identically to the batch query. */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Cells.write(LexicalStats.knTrainCounts(LexicalStats.knDocBigrams(docsBatch)), batchId, logDir)

  /** The live (w1, w2, cb) model from the delta log alone: one fold. */
  def model(spark: SparkSession, logDir: String): DataFrame = {
    val log = Cells.read(spark, logDir)
    log.groupBy(col("w1"), col("w2")).agg(sum(col("cb")).as("cb"))
  }

  /** Score an arbitrary document set against the maintained model — the
    * same readout as q_kn_doc_surprisal, through the same shared scoring
    * relation, so stream-maintained and batch-built scores can never
    * drift. */
  def scoreDocs(spark: SparkSession, logDir: String,
      docs: DataFrame): DataFrame = {
    val bc = model(spark, logDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    LexicalStats.knScoreDocs(LexicalStats.knDocBigrams(docs), bc)
  }
}
