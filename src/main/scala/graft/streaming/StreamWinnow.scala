package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming winnowing-overlap screen — the streaming twin of
  * q_winnow_overlap, and the PASSAGE-level complement of [[StreamSimhash]]:
  * where the SimHash screen suppresses whole-document near-duplicates, this
  * suppresses documents sharing ≥ [[MinShared]] winnowing fingerprints
  * (i.e. ≥ MinShared distinct local runs of ≥ n+w−1 tokens) with anything
  * already kept — the ingest-time defense against boilerplate re-wraps of
  * an already-kept passage, which whole-document signatures miss once
  * enough novel framing is added around the copied core.
  *
  * Same exactly-once durable-index contract as StreamSimhash ([[Screen]]:
  * the index is (fp, old_id) fingerprint postings shared with batch jobs;
  * survivors `(doc_id, text)` and postings are batch deltas under
  * `<logDir>/survivors` and `<logDir>/index`; self-matches excluded by
  * doc_id). Per-batch cost: the probe joins the batch's fingerprints
  * (~2/(w+1) of its gram stream) against the index on the fp hash —
  * candidates only, never batch × corpus.
  *
  * Suppression is PAIRWISE (one prior document must share MinShared
  * fingerprints), matching q_winnow_overlap's pair semantics — pooled
  * cross-document counts would let MinShared coincidences with unrelated
  * documents suppress a novel one.
  */
object StreamWinnow extends Screen {

  /** Delta-log schemas as [[append]] writes them (FreshMaintainerSpec). */
  private[graft] val IndexDdl =
    "fp STRING,old_id BIGINT"
  private[graft] val SurvivorsDdl = "doc_id BIGINT,text STRING"

  private[graft] val Index = DeltaLog.Log("index", "", IndexDdl)
  private[graft] val Survivors = DeltaLog.Log("survivors", "", SurvivorsDdl)

  /** Same threshold as the batch overlap report. */
  val MinShared: Int = Dedup.WinnowMinShared

  private def fingerprints(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(call_function("winnow_hashes",
      col("text"), lit(Dedup.WinnowN), lit(Dedup.WinnowW))).as("fp"))

  /** doc_ids of `bf` (doc_id, fp) sharing ≥ MinShared DISTINCT fingerprints
    * with one document of `index` (fp, old_id); self-pairs excluded.
    * countDistinct, not count: a batch-built index can hold duplicate
    * (fp, old_id) rows, and raw row counts would double every shared
    * tally and falsely suppress future documents (round-11 review catch —
    * duplicate index rows are harmless for SimHash's exists-semantics,
    * not for a count threshold). */
  private def matchedAgainst(bf: DataFrame, index: DataFrame): DataFrame =
    bf.join(index, Seq("fp"))
      .filter(col("doc_id") =!= col("old_id"))
      .groupBy(col("doc_id"), col("old_id"))
      .agg(countDistinct(col("fp")).as("shared"))
      .filter(col("shared") >= MinShared)
      .select("doc_id").distinct()

  /** Boilerplate fingerprints of the CURRENT corpus (index docs + batch
    * docs), by the batch query's own df-cap rule (df > max(floor,
    * n_docs/divisor)) — q_winnow_overlap drops them before pairing
    * ("boilerplate, not evidence of pairwise copying"), and the screen
    * must too, or two unrelated documents sharing a common header/footer
    * suppress each other at ingest (review catch). Distinct doc counts
    * throughout, so duplicated index rows do not shift the cap. */
  private def hotFingerprints(bf: DataFrame, index: DataFrame): DataFrame = {
    val postings = index.select(col("fp"), col("old_id"))
      .union(bf.select(col("fp"), col("doc_id").as("old_id")))
    val nDocs = postings.select(col("old_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    postings.groupBy(col("fp"))
      .agg(countDistinct(col("old_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(lit(Dedup.WinnowDfCapFloor.toLong),
        expr(s"n_docs div ${Dedup.WinnowDfCapDivisor}")))
      .select("fp")
  }

  /** Pure per-batch screen: survivors of `batch` (doc_id, text, …) against
    * `index` (fp, old_id). Within the batch, keep-lowest: a document is
    * suppressed when it shares ≥ MinShared fingerprints with a SMALLER
    * doc_id in the same batch (deterministic, no iteration — the
    * StreamSimhash representative rule).
    *
    * Also returns the persisted per-batch fingerprint relation: it backs
    * BOTH survivor-side joins lazily, so only the caller (after its sinks
    * have materialized the survivors) can safely unpersist it — returning
    * it is what lets [[screen]] release the cache per batch instead of leaking
    * one relation per micro-batch for the ContextCleaner to find. */
  private[streaming] def screenBatch(batch: DataFrame, index: DataFrame): (DataFrame, DataFrame) = {
    // the fingerprint projection feeds the index probe AND the intra-batch
    // pair join — persist so the native winnowing pass runs once
    val bfRaw = fingerprints(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the df-cap applies to SCREENING only: survivors still index their
    // full fingerprint sets (a fingerprint can become hot later; the cap
    // is re-derived per batch from current distinct-doc frequencies)
    val hot = hotFingerprints(bfRaw, index)
    val bf = bfRaw.join(hot, Seq("fp"), "left_anti")
    val cappedIndex = index.join(hot, Seq("fp"), "left_anti")
    val vsIndex = matchedAgainst(bf, cappedIndex)
    // intra-batch keep-lowest: same pairing keyed on fp, with the order
    // predicate INSIDE the join so only "earlier suppresses later" pairs
    // ever reach the count
    val intra = bf.join(
        bf.select(col("fp"), col("doc_id").as("old_id")), Seq("fp"))
      .filter(col("old_id") < col("doc_id"))
      .groupBy(col("doc_id"), col("old_id"))
      .agg(countDistinct(col("fp")).as("shared"))
      .filter(col("shared") >= MinShared)
      .select("doc_id").distinct()
    (batch.join(vsIndex.union(intra).distinct(), Seq("doc_id"), "left_anti"),
      bfRaw)
  }

  protected def screen(batch: DataFrame, index: DataFrame) = {
    val (survivors, bf) = screenBatch(batch, index)
    (survivors, Seq(bf))
  }

  protected def indexRows(kept: DataFrame): DataFrame =
    fingerprints(kept).select(col("fp"), col("doc_id").as("old_id"))
}
