package graft

import graft.streaming.StreamSemDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming semantic near-dup screen end-to-end: multi-batch replay with
  * cross-batch suppression against the persisted sign-LSH index. Exact
  * duplicates (cosine 1.0, identical bucket by construction) drive the
  * suppression assertions; orthogonal vectors (cosine 0) the keeps — so no
  * assertion rides on LSH recall geometry. */
class StreamSemDedupSpec extends SparkSpec {
  import spark.implicits._

  private def startScreen(stream: org.apache.spark.sql.DataFrame,
      logDir: String) =
    StreamSemDedup.run(stream, logDir, Trigger.ProcessingTime(0L))

  private def unit(d: Int): Array[Float] =
    Array.tabulate(8)(i => if (i == d) 1f else 0f)

  test("multi-batch replay: semantic dups suppressed within and across batches") {
    val base = Files.createTempDirectory("graft-ssem").toString
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = startScreen(in.toDF().toDF("vec_id", "embedding"), base)
    try {
      // batch 1: vec 10 duplicates vec 0 -> intra-batch keep-lowest drops it
      in.addData((0L, unit(0)), (10L, unit(0)), (1L, unit(1)))
      q.processAllAvailable()
      // batch 2: vec 2 re-sends unit(0) -> suppressed by the batch-1 index
      in.addData((2L, unit(0)), (3L, unit(2)))
      q.processAllAvailable()
      // batch 3: vec 4 re-sends unit(2) (kept a batch earlier) -> suppressed
      in.addData((4L, unit(2)), (5L, unit(3)))
      q.processAllAvailable()

      val kept = StreamSemDedup.survivors(spark, base)
        .select($"vec_id").as[Long].collect().toSeq.sorted
      assert(kept === Seq(0L, 1L, 3L, 5L))
      // the index carries exactly the survivors, in the batch query's layout
      val idx = StreamSemDedup.Index.read(spark, base)
      assert(idx.columns.sorted === Seq("bucket", "old_emb", "old_id", "old_nrm"))
      assert(idx.select($"old_id").as[Long].collect().toSeq.sorted
        === Seq(0L, 1L, 3L, 5L))
    } finally q.stop()
  }

  test("checkpoint restart: the sign-LSH index survives the kill, no double-emission") {
    // kill the query between micro-batches with the next delivery already
    // pending, restart from the SAME checkpoint: batch 1's survivors must
    // not re-emit (offsets committed), and batch 2's exact duplicate must
    // be suppressed by the PERSISTED index — the durable state a 100 TB
    // ingest cannot afford to reset on restart. Chain-free fixture, so the
    // final survivor set equals the single-pass batch screen on all rows.
    val base = Files.createTempDirectory("graft-ssem-restart").toString
    val in = MemoryStream[(Long, Array[Float])](spark)
    def start() = startScreen(in.toDF().toDF("vec_id", "embedding"), base)

    val q1 = start()
    try { in.addData((0L, unit(0)), (1L, unit(1))); q1.processAllAvailable() }
    finally q1.stop()   // kill...

    in.addData((2L, unit(0)), (3L, unit(2)))   // ...batch 2 pending across it
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()

    val kept = StreamSemDedup.survivors(spark, base)
      .select($"vec_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(0L, 1L, 3L))
    assert(StreamSemDedup.Index.read(spark, base)
      .select($"old_id").as[Long].collect().toSeq.sorted === Seq(0L, 1L, 3L))
  }

  test("crash-window replay re-emits survivors, never self-suppresses") {
    // the lost-commit recovery path, driven at the processBatch layer: the
    // committed batch re-runs under its own id against an index that
    // already holds its delta. The probe leaves that delta out, so the
    // replay recomputes the same survivors and replaces its own files —
    // the plain reads equal a fault-free run (exactly-once), and a true
    // dup of a replayed vector is still suppressed
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    def drive(logDir: String, replay: Boolean): Unit = {
      StreamSemDedup.processBatch(vecs((0L, unit(0)), (1L, unit(1))), 0L, logDir)
      if (replay)
        StreamSemDedup.processBatch(vecs((0L, unit(0)), (1L, unit(1))), 0L, logDir)
      StreamSemDedup.processBatch(vecs((5L, unit(2))), 1L, logDir) // novel
      StreamSemDedup.processBatch(vecs((6L, unit(0))), 2L, logDir) // true dup
    }
    val replayed = Files.createTempDirectory("graft-ssem-crash").toString
    val clean = Files.createTempDirectory("graft-ssem-clean").toString
    drive(replayed, replay = true)
    drive(clean, replay = false)

    def survivors(d: String) = StreamSemDedup.survivors(spark, d)
      .select($"vec_id").as[Long].collect().toSeq.sorted
    def index(d: String) = StreamSemDedup.Index.read(spark, d)
      .select($"old_id", $"bucket").as[(Long, Long)].collect().toSeq.sorted
    assert(survivors(replayed) === Seq(0L, 1L, 5L))
    assert(survivors(replayed) === survivors(clean))
    assert(index(replayed).map(_._1) === Seq(0L, 1L, 5L))
    assert(index(replayed) === index(clean))
  }

  test("below-threshold vectors in the same bucket survive the exact-cosine gate") {
    val base = Files.createTempDirectory("graft-ssem-thr").toString
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = startScreen(in.toDF().toDF("vec_id", "embedding"), base)
    try {
      in.addData((0L, unit(0)))
      q.processAllAvailable()
      // cosine(v, unit(0)) = 0.6 < 0.9: kept even if LSH buckets collide
      in.addData((1L, Array(0.6f, 0.8f, 0f, 0f, 0f, 0f, 0f, 0f)))
      q.processAllAvailable()
      val kept = StreamSemDedup.survivors(spark, base)
        .select($"vec_id").as[Long].collect().toSeq.sorted
      assert(kept === Seq(0L, 1L))
    } finally q.stop()
  }
}
