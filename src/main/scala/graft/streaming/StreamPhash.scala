package graft.streaming

import graft.multimodal.Media
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming perceptual-hash screen for MEDIA ingest — the multimodal
  * member of the durable-index screen family (StreamSimhash screens text by
  * simhash32; this screens images/audio/video by the same `ahash16`
  * signature and 4×4-bit modality-scoped banding the batch
  * q_media_phash_dedup executes, Media.phashPostings' exact shape): each
  * micro-batch of media objects probes a persisted signature index, drops
  * objects with a near-duplicate (Hamming ≤ Media.PhashHamming) in the
  * SAME modality — a re-encoded thumbnail must never suppress an audio
  * clip that happens to share a signature — and appends the survivors'
  * signatures so later batches screen against everything kept so far.
  *
  * Banding is pigeonhole-complete at the batch query's radius (any pair
  * within Hamming 3 shares an intact 4-bit band), so the screen has NO
  * false negatives vs the batch dedup at the same threshold; candidates
  * come only from shared (kind, band, bkey) buckets — per-batch cost is
  * candidates, never batch × index.
  *
  * Replay contract is StreamSimhash's ([[Screen]], exactly-once):
  * survivors `(media_id, kind, text)` and their signatures are batch
  * deltas under `<logDir>/survivors` and `<logDir>/index`; self-matches
  * are excluded by media_id.
  */
object StreamPhash extends Screen {

  /** Delta-log schemas as [[append]] writes them (FreshMaintainerSpec). */
  private[graft] val IndexDdl =
    "old_id BIGINT,kind STRING,old_sig BIGINT"
  private[graft] val SurvivorsDdl = "media_id BIGINT,kind STRING,text STRING"

  private[graft] val Index = DeltaLog.Log("index", "", IndexDdl)
  private[graft] val Survivors = DeltaLog.Log("survivors", "", SurvivorsDdl)

  /** 4 rows per object carrying (band, bkey) — the batch query's banding:
    * bkey = 4 bits of `sigCol`, bucket scoped by `kind`. */
  private def withBands(df: DataFrame, sigCol: String): DataFrame =
    df.select(col("*"), explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", expr(s"($sigCol >> (band * 4)) & 15"))

  /** media_ids in `sigs` (media_id, kind, ah) with a same-modality near-dup
    * in `index` (old_id, kind, old_sig). */
  private def matchedAgainst(sigs: DataFrame, index: DataFrame): DataFrame =
    withBands(sigs, "ah")
      .join(withBands(index, "old_sig"), Seq("kind", "band", "bkey"))
      .filter(col("media_id") =!= col("old_id"))
      .filter(expr(s"bit_count(ah ^ old_sig) <= ${Media.PhashHamming}"))
      .select("media_id").distinct()

  /** Pure per-batch screen: survivors of `batch` (media_id, kind, text)
    * against `index`. Within the batch the KEEP-LOWEST rule, like the text
    * screen. */
  private[streaming] def screenBatch(batch: DataFrame, index: DataFrame): DataFrame = {
    val sigs = batch.withColumn("ah", call_function("ahash16", col("text")))
    val vsIndex = matchedAgainst(sigs, index)
    val nb = withBands(sigs.select(col("media_id"), col("kind"), col("ah")), "ah")
    val intra = nb
      .join(nb.select(col("media_id").as("old_id"), col("kind"),
        col("ah").as("old_sig"), col("band"), col("bkey")),
        Seq("kind", "band", "bkey"))
      .filter(col("old_id") < col("media_id"))
      .filter(expr(s"bit_count(ah ^ old_sig) <= ${Media.PhashHamming}"))
      .select("media_id").distinct()
    sigs.join(vsIndex.union(intra).distinct(), Seq("media_id"), "left_anti")
  }

  protected def screen(batch: DataFrame, index: DataFrame) =
    (screenBatch(batch, index), Nil)

  protected def indexRows(kept: DataFrame): DataFrame =
    kept.select(col("media_id").as("old_id"), col("kind"),
      col("ah").as("old_sig"))
}
