package graft.streaming

import graft.operators.TextAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming BPE trainer maintainer — the incremental twin of
  * q_bpe_train: an ingest stream of documents keeps the corpus
  * WORD-FREQUENCY table current (the one corpus-priced relation of BPE
  * training), and the merge table is re-derived on demand from the
  * maintained vocabulary without touching the raw text again — the
  * "retrain the tokenizer on the grown corpus" operation as a
  * vocabulary-scale read instead of a corpus re-scan.
  *
  * Maintenance story: word frequencies are ADDITIVE integer counters, so
  * each micro-batch appends its own [[TextAnalytics.bpeWordFreqs]] delta
  * and the live vocabulary is one (word) fold over the delta log. The
  * trainer itself ([[TextAnalytics.bpeLearnFrom]]) is deliberately a
  * function of that (word, freq) relation alone, so the stream-maintained
  * table learns the IDENTICAL merge table the batch query learns on the
  * same corpus (StreamBpeSpec pins the equality). The expensive iterative
  * part — K rounds of pair counting and rewriting — runs on the
  * vocabulary either way; what the maintainer removes at 100 TB is the
  * corpus scan in front of it.
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode — additive counters are not duplicate-insensitive, so
  * replace-my-batch is CORRECTNESS on checkpoint-recovery replay (the
  * StreamCms/StreamKn discipline).
  */
object StreamBpe extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "word STRING,freq BIGINT"

  private val Freqs = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's word-frequency delta to the log. Batches
    * carry (doc_id, text). */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Freqs.write(TextAnalytics.bpeWordFreqs(docsBatch), batchId, logDir)

  /** The live (word, freq) vocabulary from the delta log alone. */
  def wordFreqs(spark: SparkSession, logDir: String): DataFrame = {
    val log = Freqs.read(spark, logDir)
    log.groupBy(col("word")).agg(sum(col("freq")).as("freq"))
  }

  /** Learn the merge table from the maintained vocabulary — identical to
    * the batch q_bpe_train on the same corpus. */
  def learn(spark: SparkSession, logDir: String)
      : Seq[(Long, String, String, Long)] =
    TextAnalytics.bpeLearnFrom(wordFreqs(spark, logDir))
}
