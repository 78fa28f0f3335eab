package graft

import graft.streaming.StreamWinnow
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming winnowing-overlap screen end-to-end: passage-level suppression
  * within and across batches against the persisted fingerprint index, the
  * re-wrapped-passage case whole-document signatures miss, and the shared
  * index layout with batch winnow_hashes jobs. */
class StreamWinnowSpec extends SparkSpec {
  import spark.implicits._

  // a 12-token passage (≫ n+w−1 = 6) and genuinely unrelated filler
  private val passage =
    "the quarterly compliance disclosure must be filed before the fiscal deadline"
  private val tA = s"intro alpha $passage outro omega"
  // the SAME passage re-wrapped in different framing — passage-level dup
  private val tB = s"completely different framing here $passage with novel trailing words"
  private val tC = "unrelated sentence about brown foxes jumping over lazy dogs today"
  private val tD = "spark executors shuffle partitioned data across the cluster network fabric"

  private def startScreen(stream: org.apache.spark.sql.DataFrame,
      logDir: String) =
    StreamWinnow.run(stream, logDir, Trigger.ProcessingTime(0L))

  private def fps(text: String): Set[String] =
    Seq(text).toDF("text")
      .select(call_function("winnow_hashes", $"text",
        lit(Dedup.WinnowN), lit(Dedup.WinnowW)).as("f"))
      .collect().head.getSeq[String](0).toSet

  test("precondition: re-wrap shares >= MinShared fingerprints, unrelated texts don't") {
    assert((fps(tA) & fps(tB)).size >= StreamWinnow.MinShared,
      "the shared passage must survive winnowing selection in both wraps")
    for (t <- Seq(tC, tD)) {
      assert((fps(tA) & fps(t)).size < StreamWinnow.MinShared)
      assert((fps(tC) & fps(tD)).size < StreamWinnow.MinShared)
    }
  }

  test("multi-batch replay: passage re-wraps suppressed within and across batches") {
    val base = Files.createTempDirectory("graft-swin").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = startScreen(in.toDF().toDF("doc_id", "text"), base)
    try {
      // batch 1: doc 10 re-wraps doc 0's passage -> intra-batch keep-lowest
      in.addData((0L, tA), (10L, tB), (1L, tC))
      q.processAllAvailable()
      // batch 2: doc 2 re-wraps the passage again -> suppressed by the index
      in.addData((2L, tB), (3L, tD))
      q.processAllAvailable()

      val kept = StreamWinnow.survivors(spark, base)
        .select($"doc_id").as[Long].collect().toSeq.sorted
      assert(kept === Seq(0L, 1L, 3L))
      // the index holds exactly the survivors' fingerprint postings
      val idx = StreamWinnow.Index.read(spark, base)
        .as[(String, Long)].collect()
      assert(idx.map(_._2).toSet === Set(0L, 1L, 3L))
      assert(idx.filter(_._2 == 0L).map(_._1).toSet === fps(tA))
    } finally q.stop()
  }

  test("a batch-built fingerprint index suppresses stream documents (shared layout)") {
    val base = Files.createTempDirectory("graft-swin-seed").toString
    val indexDir = s"$base/index"
    // seed exactly like a batch job would: explode winnow_hashes postings
    Seq((100L, tA)).toDF("old_id", "text")
      .select(explode(call_function("winnow_hashes", $"text",
        lit(Dedup.WinnowN), lit(Dedup.WinnowW))).as("fp"), $"old_id")
      .write.parquet(indexDir)

    val in = MemoryStream[(Long, String)](spark)
    val q = startScreen(in.toDF().toDF("doc_id", "text"), base)
    try {
      in.addData((0L, tB), (1L, tD))  // 0 re-wraps the seeded passage
      q.processAllAvailable()
      val kept = StreamWinnow.survivors(spark, base)
        .select($"doc_id").as[Long].collect().toSeq.sorted
      assert(kept === Seq(1L))
    } finally q.stop()
  }

  test("checkpoint restart: the fingerprint index survives the kill, no double-emission") {
    // kill between micro-batches with the next delivery pending, restart
    // from the SAME checkpoint: batch 1's survivors must not re-emit
    // (offsets committed), and the restarted screen must suppress a
    // passage re-wrap from the PERSISTED posting index, not a reset one
    val base = Files.createTempDirectory("graft-swin-restart").toString
    val in = MemoryStream[(Long, String)](spark)
    def start() = startScreen(in.toDF().toDF("doc_id", "text"), base)

    val q1 = start()
    try { in.addData((0L, tA), (1L, tC)); q1.processAllAvailable() }
    finally q1.stop()   // kill...

    in.addData((2L, tB), (3L, tD))   // ...re-wrap + novel doc pending across it
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()

    val kept = StreamWinnow.survivors(spark, base)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(0L, 1L, 3L))
    assert(StreamWinnow.Index.read(spark, base)
      .select($"old_id").as[Long].collect().toSet === Set(0L, 1L, 3L))
  }

  test("crash-window replay re-emits survivors, never self-suppresses") {
    // lost-commit recovery, driven at the processBatch layer: the committed
    // batch re-runs under its own id against an index already holding its
    // postings. The probe leaves that delta out, so the replay recomputes
    // the same survivors and replaces its own files — the plain reads
    // equal a fault-free run (exactly-once: no duplicated postings), and a
    // true re-wrap must still suppress
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def drive(logDir: String, replay: Boolean): Unit = {
      StreamWinnow.processBatch(docs((0L, tA), (1L, tC)), 0L, logDir)
      if (replay)
        StreamWinnow.processBatch(docs((0L, tA), (1L, tC)), 0L, logDir)
      StreamWinnow.processBatch(docs((5L, tD)), 1L, logDir) // novel doc
      StreamWinnow.processBatch(docs((6L, tB)), 2L, logDir) // re-wrap
    }
    val replayed = Files.createTempDirectory("graft-swin-crash").toString
    val clean = Files.createTempDirectory("graft-swin-clean").toString
    drive(replayed, replay = true)
    drive(clean, replay = false)

    def survivors(d: String) = StreamWinnow.survivors(spark, d)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    def index(d: String) = StreamWinnow.Index.read(spark, d)
      .as[(String, Long)].collect().toSeq.sorted
    assert(survivors(replayed) === Seq(0L, 1L, 5L))
    assert(survivors(replayed) === survivors(clean))
    assert(index(replayed).map(_._2).toSet === Set(0L, 1L, 5L))
    assert(index(replayed) === index(clean))
  }

  test("whole-document SimHash misses the re-wrap this screen catches") {
    // the motivating gap: tA and tB share the passage but differ in enough
    // framing that their 32-bit simhashes are far apart
    val sigs = Seq(tA, tB).toDF("text")
      .select(call_function("simhash32", $"text").as("s")).as[Long].collect()
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(1)) >
      graft.streaming.StreamSimhash.HammingMax)
  }

  test("replay-duplicated index postings do not inflate shared counts (countDistinct)") {
    // a batch-built index seeded under <logDir>/index holding the same
    // (fp, old_id) posting twice: a new doc sharing exactly ONE distinct
    // fingerprint with the old doc must SURVIVE (1 < MinShared=2) — a raw row count would see
    // 2 and falsely suppress it
    val base = Files.createTempDirectory("graft-swin-replay").toString
    val indexDir = s"$base/index"
    val oneFp = fps(tC).head
    Seq((oneFp, 99L), (oneFp, 99L)).toDF("fp", "old_id")
      .write.parquet(indexDir)

    val in = MemoryStream[(Long, String)](spark)
    val q = startScreen(in.toDF().toDF("doc_id", "text"), base)
    try {
      in.addData((1L, tC))
      q.processAllAvailable()
      val kept = StreamWinnow.survivors(spark, base)
        .select($"doc_id").as[Long].collect().toSeq
      assert(kept === Seq(1L),
        "a single distinct shared fingerprint (replay-doubled) must not suppress")
    } finally q.stop()
  }
}
