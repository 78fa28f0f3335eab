package graft

import graft.streaming.StreamSimhash
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming SimHash near-dup screen end-to-end: multi-batch replay with
  * cross-batch suppression against the persisted signature index, plus the
  * shared-layout contract with the batch-built index. */
class StreamSimhashSpec extends SparkSpec {
  import spark.implicits._

  private val tA = "fast stream dedup keeps the first copy of every document"
  private val tB = "completely unrelated sentence about brown foxes and lazy dogs"
  private val tC = "the quick onyx goblin jumps over the silver query planner"
  private val tD = "spark partitions shuffle data across executors for joins"

  private def startScreen(stream: org.apache.spark.sql.DataFrame,
      logDir: String) =
    StreamSimhash.run(stream, logDir, Trigger.ProcessingTime(0L))

  private def sig(text: String): Long =
    Seq(text).toDF("text")
      .select(call_function("simhash32", $"text").as("s"))
      .as[Long].head()

  test("distinct fixture texts are not near-dups of each other (precondition)") {
    val sigs = Seq(tA, tB, tC, tD).map(sig)
    for (Seq(a, b) <- sigs.combinations(2))
      assert(java.lang.Long.bitCount(a ^ b) > StreamSimhash.HammingMax,
        "fixture texts must be far apart for the suppression assertions to mean anything")
  }

  test("multi-batch replay: near-dups suppressed within and across batches") {
    val base = Files.createTempDirectory("graft-ssim").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = startScreen(in.toDF().toDF("doc_id", "text"), base)
    try {
      // batch 1: doc 10 is an intra-batch dup of doc 0 -> keep-lowest drops it
      in.addData((0L, tA), (10L, tA), (1L, tB))
      q.processAllAvailable()
      // batch 2: doc 2 re-sends tA -> suppressed by the batch-1 index entry
      in.addData((2L, tA), (3L, tC))
      q.processAllAvailable()
      // batch 3: doc 4 re-sends tC (kept two batches earlier) -> suppressed
      in.addData((4L, tC), (5L, tD))
      q.processAllAvailable()

      val kept = StreamSimhash.survivors(spark, base)
        .select($"doc_id").as[Long].collect().toSeq.sorted
      assert(kept === Seq(0L, 1L, 3L, 5L))
      // the index holds exactly the survivors' signatures
      val idx = StreamSimhash.Index.read(spark, base)
        .as[(Long, Long)].collect().toMap
      assert(idx.keySet === Set(0L, 1L, 3L, 5L))
      assert(idx(0L) === sig(tA))
      assert(idx(3L) === sig(tC))
    } finally q.stop()
  }

  test("stream screen agrees with the batch incremental dedup on driver data") {
    // Same split as q_dedup_incremental (index = first 90% of doc_ids,
    // fresh = last 10%): seed the index exactly like the batch side, stream
    // the fresh slice in one batch, and check consistency with the oracled
    // batch query. The stream screen ALSO dedups fresh-vs-fresh (keep-
    // lowest), which the batch probe deliberately does not, so:
    //   - every batch-detected dup (dup_of non-null) must be suppressed;
    //   - every stream survivor must be dup-free per the batch query.
    val dir = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("graft-ssim-inc").toString
    val indexDir = s"$base/index"

    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val n = docs.count()
    val cut = n - n / 10
    docs.filter($"doc_id" < cut)
      .select($"doc_id".as("old_id"),
        call_function("simhash32", $"text").as("old_sig"))
      .write.parquet(indexDir)

    val fresh = docs.filter($"doc_id" >= cut).as[(Long, String)].collect()
    val in = MemoryStream[(Long, String)](spark)
    val q = startScreen(in.toDF().toDF("doc_id", "text"), base)
    try {
      in.addData(fresh.toIndexedSeq)
      q.processAllAvailable()
      val survivors = StreamSimhash.survivors(spark, base)
        .select($"doc_id").as[Long].collect().toSet
      val inc = operators.Dedup.qDedupIncremental.run(spark, dir)
        .select($"doc_id", $"dup_of").as[(Long, Option[Long])].collect()
      val batchDups = inc.collect { case (id, Some(_)) => id }.toSet
      val batchClean = inc.collect { case (id, None) => id }.toSet
      assert(fresh.length === inc.length)
      assert(survivors.nonEmpty)
      assert(survivors.intersect(batchDups).isEmpty,
        "a batch-detected near-dup survived the stream screen")
      assert(survivors.subsetOf(batchClean))
    } finally q.stop()
  }

  test("checkpoint restart: suppression state survives the kill, no double-emission") {
    // the round-11 twins' recovery discipline applied to the durable-index
    // screen: kill the query between micro-batches (with the next batch's
    // data already pending), restart from the SAME checkpoint, and the
    // restarted query must (a) not re-emit batch 1's survivors (offsets
    // committed) and (b) suppress batch 2's near-dups from the PERSISTED
    // index, not a reset one. The fixture is chain-free, so the final
    // survivor set equals the single-pass batch screen on the full input.
    val base = Files.createTempDirectory("graft-ssim-restart").toString
    val in = MemoryStream[(Long, String)](spark)
    def start() = startScreen(in.toDF().toDF("doc_id", "text"), base)

    val q1 = start()
    try { in.addData((0L, tA), (1L, tB)); q1.processAllAvailable() }
    finally q1.stop()   // kill mid-stream...

    in.addData((2L, tA), (3L, tC))   // ...with batch 2 already pending
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()

    // doc 2 suppressed by doc 0's RESTORED index entry; 0/1 emitted once
    val kept = StreamSimhash.survivors(spark, base)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(0L, 1L, 3L))
    val idx = StreamSimhash.Index.read(spark, base)
      .as[(Long, Long)].collect().toMap
    assert(idx.keySet === Set(0L, 1L, 3L))
  }

  test("crash-window replay re-emits survivors, never self-suppresses") {
    // the documented crash window: survivors + signatures written, but the
    // checkpoint commit lost — on recovery the batch re-runs against an
    // index that ALREADY holds its own delta. Driven at the processBatch
    // layer: the same batch id twice. The contract: the probe leaves out
    // the batch's own delta, so the replay recomputes the same survivors
    // and its fixed-path writes replace the first attempt's — the plain,
    // undeduplicated reads equal a fault-free run (exactly-once), and true
    // near-dups are still suppressed afterwards
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def drive(logDir: String, replay: Boolean): Unit = {
      StreamSimhash.processBatch(docs((0L, tA), (1L, tB)), 0L, logDir)
      if (replay)
        StreamSimhash.processBatch(docs((0L, tA), (1L, tB)), 0L, logDir)
      StreamSimhash.processBatch(docs((5L, tC)), 1L, logDir) // novel doc
      StreamSimhash.processBatch(docs((6L, tA)), 2L, logDir) // true near-dup
    }
    val replayed = Files.createTempDirectory("graft-ssim-crash").toString
    val clean = Files.createTempDirectory("graft-ssim-clean").toString
    drive(replayed, replay = true)
    drive(clean, replay = false)

    def survivors(d: String) = StreamSimhash.survivors(spark, d)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    def index(d: String) = StreamSimhash.Index.read(spark, d)
      .as[(Long, Long)].collect().toSeq.sorted
    // exactly-once: 0 and 1 appear ONCE, never zero times; the novel doc
    // survives; the near-dup (6) is still suppressed
    assert(survivors(replayed) === Seq(0L, 1L, 5L))
    assert(survivors(replayed) === survivors(clean))
    assert(index(replayed).map(_._1) === Seq(0L, 1L, 5L))
    assert(index(replayed) === index(clean))
  }

  test("a pre-existing batch-built index suppresses stream documents (shared layout)") {
    val base = Files.createTempDirectory("graft-ssim-seed").toString
    val indexDir = s"$base/index"
    // seed the index exactly like the batch pipeline would persist it
    Seq((100L, tA)).toDF("old_id", "text")
      .select($"old_id", call_function("simhash32", $"text").as("old_sig"))
      .write.parquet(indexDir)

    val in = MemoryStream[(Long, String)](spark)
    val q = startScreen(in.toDF().toDF("doc_id", "text"), base)
    try {
      in.addData((0L, tA), (1L, tB))   // 0 collides with the seeded corpus
      q.processAllAvailable()
      val kept = StreamSimhash.survivors(spark, base)
        .select($"doc_id").as[Long].collect().toSeq.sorted
      assert(kept === Seq(1L))
    } finally q.stop()
  }
}
