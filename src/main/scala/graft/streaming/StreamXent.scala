package graft.streaming

import graft.operators.LexicalStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming lexical-LM count maintainer — ONE maintained (lang, term)
  * split-count log serving TWO generalization readouts bit-equal to their
  * batch twins: q_heldout_xent (held-out cross-entropy + OOV triage) and
  * q_scaling_law (the nested-prefix data-scaling ladder with its log-log
  * fit). The one-state-many-readouts discipline applied to the lexical
  * family: at 100 TB the (lang, term) token-count exchange is the
  * expensive pass, and BOTH "is the split drifting" and "does more data
  * still help" update per micro-batch without re-scanning history.
  *
  * Why this maintains cleanly: the shared relation
  * ([[LexicalStats.xentTf]]) is five integer token-instance counters per
  * (lang, term) — the four prefix-ladder rungs and the val count — keyed
  * by the PER-DOCUMENT salted-md5 split, so any slicing of documents into
  * micro-batches is orthogonal to bucket membership and the counters are
  * plainly additive. Each batch appends its own delta; the live relation
  * is one (lang, term) fold over the vocabulary-scale log, and both
  * readouts run the SAME shared report functions as the batch queries.
  *
  * Idempotent recovery: fixed `tf_b<id>.parquet` path in overwrite mode —
  * additive counters are not duplicate-insensitive, so replace-my-batch
  * is correctness on checkpoint-recovery replay (the StreamKn/StreamDq
  * discipline). The log auto-compacts past [[DeltaLog.CompactThreshold]]
  * batch dirs.
  */
object StreamXent extends Maintainer {

  /** Append one micro-batch's (lang, term) split-count delta. Batches
    * carry (doc_id, lang, text); split membership is decided per-document
    * inside the shared relation, identically to the batch queries. */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Tf.write(LexicalStats.xentTf(docsBatch), batchId, logDir)

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh. */
  private[graft] val DeltaDdl =
    "lang STRING,term STRING,ctf1 BIGINT,ctf2 BIGINT" +
      ",ctf4 BIGINT,ctf8 BIGINT,vtf BIGINT"

  private val Tf = DeltaLog.Log("log", "tf_", DeltaDdl)

  /** The live (lang, term) split counts from the delta log alone: one
    * integer fold — equals the batch xentTf relation exactly. A freshly
    * started maintainer (no batch appended yet, or every batch empty and
    * skipped) has no log directory at all: [[DeltaLog.emptyOr]] returns
    * the empty relation in the delta schema instead of letting the
    * parquet read throw, so the readouts degrade to empty reports, not
    * AnalysisException. */
  def tf(spark: SparkSession, logDir: String): DataFrame = {
    val log = Tf.read(spark, logDir)
    log.groupBy(col("lang"), col("term"))
      .agg(sum(col("ctf1")).as("ctf1"), sum(col("ctf2")).as("ctf2"),
        sum(col("ctf4")).as("ctf4"), sum(col("ctf8")).as("ctf8"),
        sum(col("vtf")).as("vtf"))
  }

  /** The two readouts over the folded counts — identical machinery (and,
    * by the fold equality, identical values) to q_heldout_xent and
    * q_scaling_law. */
  def heldout(spark: SparkSession, logDir: String): DataFrame =
    LexicalStats.heldoutReport(tf(spark, logDir))
  def scaling(spark: SparkSession, logDir: String): DataFrame =
    LexicalStats.scalingReport(tf(spark, logDir))
}
