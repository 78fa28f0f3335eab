package graft

import graft.multimodal.Media
import graft.streaming.StreamPhash
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming media pHash screen end-to-end: multi-batch replay with
  * cross-batch suppression against the persisted signature index, and the
  * MODALITY-SCOPING contract — an identical payload in a different kind
  * must never be suppressed. */
class StreamPhashSpec extends SparkSpec {
  import spark.implicits._

  private val pA = "fast stream dedup keeps the first copy of every object"
  private val pB = "completely unrelated payload about brown foxes and lazy dogs"
  private val pC = "the quick onyx goblin jumps over the silver query planner"

  private def startScreen(stream: org.apache.spark.sql.DataFrame,
      logDir: String) =
    StreamPhash.run(stream, logDir, Trigger.ProcessingTime(0L))

  private def sig(payload: String): Long =
    Seq(payload).toDF("text")
      .select(call_function("ahash16", $"text").as("s"))
      .as[Long].head()

  test("distinct fixture payloads are far apart in Hamming (precondition)") {
    val sigs = Seq(pA, pB, pC).map(sig)
    for (Seq(a, b) <- sigs.combinations(2))
      assert(java.lang.Long.bitCount(a ^ b) > Media.PhashHamming,
        "fixture payloads must be far apart for the suppression assertions to bite")
  }

  test("multi-batch replay: same-kind near-dups suppressed, other modalities untouched") {
    val base = Files.createTempDirectory("graft-sphash").toString
    val in = MemoryStream[(Long, String, String)](spark)
    val q = startScreen(in.toDF().toDF("media_id", "kind", "text"), base)
    try {
      // batch 1: 10 is an intra-batch image dup of 0 (keep-lowest drops
      // it); 1 carries the SAME payload as audio — modality scoping keeps it
      in.addData((0L, "image", pA), (10L, "image", pA), (1L, "audio", pA),
        (2L, "image", pB))
      q.processAllAvailable()
      // batch 2: 3 re-sends pA as image (index hit), 4 as audio (index
      // hit), 5 as video (no video entry -> kept), 6 is a fresh image
      in.addData((3L, "image", pA), (4L, "audio", pA), (5L, "video", pA),
        (6L, "image", pC))
      q.processAllAvailable()

      val kept = StreamPhash.survivors(spark, base)
        .select($"media_id").as[Long].collect().toSeq.sorted
      assert(kept === Seq(0L, 1L, 2L, 5L, 6L))
      // index: survivors' signatures under their own modality
      val idx = StreamPhash.Index.read(spark, base)
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(idx.keySet === Set(0L, 1L, 2L, 5L, 6L))
      assert(idx(0L) === (("image", sig(pA))))
      assert(idx(1L) === (("audio", sig(pA))))
      assert(idx(5L) === (("video", sig(pA))))
    } finally q.stop()
  }

  test("checkpoint restart: the signature index survives the kill, modality scoping intact") {
    // kill between micro-batches with the next delivery pending, restart
    // from the SAME checkpoint: batch 1's survivors must not re-emit, and
    // the restarted screen must suppress a same-kind near-dup from the
    // PERSISTED index while still keeping the same payload in a different
    // modality (the scoping contract must survive recovery too)
    val base = Files.createTempDirectory("graft-sphash-restart").toString
    val in = MemoryStream[(Long, String, String)](spark)
    def start() = startScreen(in.toDF().toDF("media_id", "kind", "text"), base)

    val q1 = start()
    try { in.addData((0L, "image", pA), (1L, "image", pB)); q1.processAllAvailable() }
    finally q1.stop()   // kill...

    // ...pending across the restart: 2 = same-kind near-dup (suppress from
    // restored index), 3 = same payload as audio (modality scoping keeps it)
    in.addData((2L, "image", pA), (3L, "audio", pA))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()

    val kept = StreamPhash.survivors(spark, base)
      .select($"media_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(0L, 1L, 3L))
    val idx = StreamPhash.Index.read(spark, base)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(idx === Map(0L -> "image", 1L -> "image", 3L -> "audio"))
  }

  test("crash-window replay re-emits survivors, never self-suppresses") {
    // lost-commit recovery, driven at the processBatch layer: the committed
    // batch re-runs under its own id against an index already holding its
    // signatures. The probe leaves that delta out, so the replay recomputes
    // the same survivors and replaces its own files — the plain reads
    // equal a fault-free run (exactly-once), and a true same-kind near-dup
    // of a replayed object is still suppressed
    def media(rows: (Long, String, String)*) = rows.toDF("media_id", "kind", "text")
    def drive(logDir: String, replay: Boolean): Unit = {
      val b0 = media((0L, "image", pA), (1L, "audio", pB))
      StreamPhash.processBatch(b0, 0L, logDir)
      if (replay) StreamPhash.processBatch(b0, 0L, logDir)
      StreamPhash.processBatch(media((5L, "video", pC)), 1L, logDir) // novel
      StreamPhash.processBatch(media((6L, "image", pA)), 2L, logDir) // near-dup
    }
    val replayed = Files.createTempDirectory("graft-sphash-crash").toString
    val clean = Files.createTempDirectory("graft-sphash-clean").toString
    drive(replayed, replay = true)
    drive(clean, replay = false)

    def survivors(d: String) = StreamPhash.survivors(spark, d)
      .select($"media_id").as[Long].collect().toSeq.sorted
    def index(d: String) = StreamPhash.Index.read(spark, d)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(survivors(replayed) === Seq(0L, 1L, 5L))
    assert(survivors(replayed) === survivors(clean))
    assert(index(replayed).map(_._1) === Seq(0L, 1L, 5L))
    assert(index(replayed) === index(clean))
  }
}
