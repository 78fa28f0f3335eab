package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SimHash near-duplicate screen — the streaming twin of the batch
  * incremental dedup (graft.operators.Dedup qDedupIncremental): an ingest
  * stream probes each micro-batch against a PERSISTED signature index, drops
  * near-duplicates (Hamming ≤ 3 over the 32-bit simhash), and appends the
  * survivors' signatures so later batches screen against everything kept so
  * far. Where StreamDedup suppresses exact repeats within a watermark
  * horizon, this suppresses NEAR-duplicates against the whole retained
  * corpus — the training-data shape ("have we already kept something almost
  * identical to this document?") where the index is durable state, not
  * stream state.
  *
  * Built on `foreachBatch` (the repo's micro-batch pipeline idiom,
  * reference reddit_consumer.py:296-330 processes per-batch the same way)
  * because the signature index must outlive the stream AND be shared with
  * batch jobs — the batch q_dedup_incremental probes the identical layout.
  * Per batch, all joins are banded (4×8-bit band keys — candidates only
  * from shared buckets, never batch × index), so per-batch cost is
  * candidates, not corpus.
  *
  * Replay contract ([[Screen]]): survivors `(doc_id, text)` and their
  * signatures land as batch deltas under `<logDir>/survivors` and
  * `<logDir>/index`; the probe leaves out the batch's own index delta, so
  * a replay emits each survivor exactly once. A batch-built index may sit
  * as flat files at the top of `<logDir>/index`; its rows are probed like
  * any delta. Self-matches are excluded by doc_id as well, so a document
  * already in such an index never suppresses itself.
  */
object StreamSimhash extends Screen {

  /** Delta-log schemas as [[append]] writes them — pinned against the
    * writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the empty
    * index on the first batch. */
  private[graft] val IndexDdl =
    "old_id BIGINT,old_sig BIGINT" // simhash32 is LongType
  private[graft] val SurvivorsDdl = "doc_id BIGINT,text STRING"

  private[graft] val Index = DeltaLog.Log("index", "", IndexDdl)
  private[graft] val Survivors = DeltaLog.Log("survivors", "", SurvivorsDdl)

  val HammingMax = 3

  /** Expand a row to 4 rows carrying (band, bkey) derived from `sigCol` —
    * the same 8-bit banding as the batch queries (Dedup.simhashBanded). */
  private def withBands(df: DataFrame, sigCol: String): DataFrame =
    df.select(col("*"), explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", expr(s"($sigCol >> (band * 8)) & 255"))

  /** doc_ids in `sigs` (doc_id, simhash) with a near-dup in `index`
    * (old_id, old_sig): banded candidate join, Hamming filter BEFORE the
    * distinct (the q_dedup_simhash ordering — the selective filter cuts the
    * dedup shuffle), self-pairs excluded for replay safety. */
  private def matchedAgainst(sigs: DataFrame, index: DataFrame): DataFrame =
    withBands(sigs, "simhash")
      .join(withBands(index, "old_sig"), Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("old_id"))
      .filter(expr(s"bit_count(simhash ^ old_sig) <= $HammingMax"))
      .select("doc_id").distinct()

  /** Pure per-batch screen: survivors of `batch` (doc_id, text, …) against
    * `index` (old_id, old_sig). Within the batch, the KEEP-LOWEST rule: a
    * document is suppressed when a near-dup with a smaller doc_id exists in
    * the same batch (deterministic, no iteration — chained near-dups
    * survive unless near the kept representative, matching the batch
    * cluster queries' representative choice). */
  private[streaming] def screenBatch(batch: DataFrame, index: DataFrame): DataFrame = {
    val sigs = batch.withColumn("simhash", call_function("simhash32", col("text")))
    val vsIndex = matchedAgainst(sigs, index)
    val nb = withBands(sigs.select(col("doc_id"), col("simhash")), "simhash")
    val intra = nb
      .join(nb.select(col("doc_id").as("old_id"), col("simhash").as("old_sig"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("old_id") < col("doc_id"))
      .filter(expr(s"bit_count(simhash ^ old_sig) <= $HammingMax"))
      .select("doc_id").distinct()
    sigs.join(vsIndex.union(intra).distinct(), Seq("doc_id"), "left_anti")
  }

  protected def screen(batch: DataFrame, index: DataFrame) =
    (screenBatch(batch, index), Nil)

  protected def indexRows(kept: DataFrame): DataFrame =
    kept.select(col("doc_id").as("old_id"), col("simhash").as("old_sig"))
}
