package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact-dedup REGISTRY maintainer — the global twin of
  * q_dedup_exact for a growing corpus. [[StreamDedup]] answers the
  * screening question ("did I see this content within the watermark?");
  * this maintains the corpus-lifetime answer: one additive
  * (fp, min_id, cnt) delta log whose fold IS the exact-duplicate group
  * table, because both reductions are associative — min(doc_id) over a
  * group is min of per-batch minima, and the copy count is the sum of
  * per-batch counts. A duplicate arriving YEARS after its first copy
  * still folds into the same md5(text) group, with no per-key streaming
  * state at all (the state lives in the log, vocabulary-of-texts-sized).
  *
  * Two readouts from the one fold (the house one-state-many-readouts
  * pattern): [[registry]], bit-equal to q_dedup_exact on the same
  * corpus, and [[summary]], the dedup-rate dashboard row (distinct
  * texts, total docs, duplicate mass, duplication rate).
  *
  * Idempotent recovery: fixed `fp_b<id>.parquet` path in overwrite mode
  * (the StreamDq discipline). The log compacts AUTOMATICALLY past
  * [[DeltaLog.CompactThreshold]] batch dirs ([[DeltaLog.maybeCompact]]
  * after every write; AutoCompactSpec pins bit-equality across the
  * boundary).
  */
object StreamExactDedup extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh. */
  private[graft] val DeltaDdl = "fp STRING,min_id BIGINT,cnt BIGINT"

  private[graft] val Fps = DeltaLog.Log("log", "fp_", DeltaDdl)

  /** Append one micro-batch's per-fingerprint delta. Batches carry
    * (doc_id, text). */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Fps.write(docsBatch
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("min_id"), count(lit(1)).as("cnt")),
      batchId, logDir)

  private def folded(spark: SparkSession, logDir: String): DataFrame =
    Fps.read(spark, logDir)
      .groupBy(col("fp"))
      .agg(min(col("min_id")).as("keep_id"), sum(col("cnt")).as("n_copies"))

  /** The live exact-duplicate group table — (keep_id, n_copies, fp),
    * q_dedup_exact bit-equal on the corpus streamed so far. */
  def registry(spark: SparkSession, logDir: String): DataFrame =
    folded(spark, logDir)
      .select(col("keep_id"), col("n_copies"), col("fp"))
      .orderBy(col("keep_id"))

  /** Second readout over the SAME fold: the dedup-rate dashboard row —
    * distinct texts, total documents, duplicate mass (docs beyond each
    * group's keeper), and the duplication rate. */
  def summary(spark: SparkSession, logDir: String): DataFrame =
    folded(spark, logDir)
      .agg(count(lit(1)).as("n_texts"), sum(col("n_copies")).as("n_docs"),
        sum(col("n_copies") - lit(1L)).as("dup_docs"))
      .select(col("n_texts"), col("n_docs"), col("dup_docs"),
        when(col("n_docs") > 0,
          graft.functions.Det.qround(
            expr("CAST(dup_docs AS DOUBLE) / n_docs"))).as("dup_rate"))
}
