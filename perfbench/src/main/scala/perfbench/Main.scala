package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Queries
import graft.functions.{Det, Text}
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress,
  Trigger}
import org.apache.spark.sql.types.LongType

/** JVM side of one benchmark run. `perfbench/run.py` prepares the seeded
  * inputs in a work directory, starts this main and turns the raw
  * measurements it writes (`<work>/raw.json`) into the reported metrics.
  *
  * Every workload drives the program's public entry points unchanged:
  *   - reddit_*: MicroBatchPipeline.run over MicroBatchPipeline.socketLines,
  *     fed by the separate generator process (perfbench/generator.py);
  *   - hub_ingest: IngestHub.run over a parquet file stream, one slice per
  *     trigger, then Compaction.compactLog on the compacting logs and the
  *     six maintainers' readouts;
  *   - batch_sample: Queries.byName(q).run through the `noop` sink.
  *
  * Usage: Main --workload W --work DIR --seconds S --trace 0|1 --cpus N
  *             --t0 EPOCH_S
  */
object Main {

  final case class Args(workload: String, work: String, seconds: Double,
      trace: Boolean, cpus: Int, t0: Double)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val a = Args(m("workload"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cpus", "4").toInt,
      m("t0").toDouble)
    val raw: Map[String, Any] = a.workload match {
      case "reddit_ref" | "reddit_3k" => Reddit.run(a)
      case "hub_ingest" => Hub.run(a)
      case "batch_sample" => BatchSample.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phase(a, "done")
    Files.writeString(Paths.get(a.work, "raw.json"),
      toJson(raw + ("phases" -> phases.toSeq)))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The session shape of the program's own mains (graft.Bench, Verify):
    * same extensions and SQL confs, `local[cpus]`, with Spark's scratch
    * space inside the run's work directory. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    phase(a, "session")
    s
  }

  /** Set-up time: from the benchmark process start (`a.t0`, so it carries
    * input generation, JVM start and the session) to the workload's first
    * timed operation, with the input load and warm-up in between. */
  def setUpDone(a: Args): Double = {
    phase(a, "set-up done")
    now() - a.t0
  }

  def now(): Double = System.currentTimeMillis() / 1000.0

  /** Run phases with their offsets from process start, for the detail line
    * (and the JVM log). */
  val phases = ArrayBuffer.empty[(String, Double)]

  def phase(a: Args, name: String): Unit = {
    phases += name -> (now() - a.t0)
    System.err.println(f"[perfbench] ${now() - a.t0}%7.2f s  $name")
  }

  def toJson(x: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(x)

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Rows of `df` as comparable, order-independent strings. */
  def rowSet(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  /** The engine's record of each completed micro-batch that ran the sink:
    * (batchId, trigger start ms, trigger duration ms, source end offset). */
  def batches(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))
      .map { p =>
        Map("id" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "dur_ms" -> p.durationMs.get("triggerExecution").longValue,
          "end_offset" -> endOffset(p))
      }.sortBy(_("id").asInstanceOf[Long])

  def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.headOption.map(_.endOffset).orNull)
      .flatMap(s => "-?\\d+".r.findFirstIn(s)).map(_.toLong).getOrElse(-1L)

  /** A window's actions, for the trace file. */
  def actionRecords(w: Trace.Window): Seq[Map[String, Any]] =
    w.actions.map(x => Map("id" -> x.id, "op" -> x.op, "path" -> x.path,
      "s" -> (x.end - x.start) / 1000.0))

  def waitFor(what: String, timeoutS: Double)(done: => Boolean): Unit = {
    val deadline = now() + timeoutS
    while (!done) {
      if (now() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }
}

/** The reference's stream: socket source → foreachBatch pipeline under the
  * reference's ProcessingTime("10 seconds") trigger, fed open-loop. */
object Reddit {
  import Main._

  def run(a: Args): Map[String, Any] = {
    val spark = session(a)
    // warm-up: one pipeline batch on the warm-up lines before the stream
    // starts (a cold first batch can outlast the 10 s interval, which
    // would delay the measured trigger)
    MicroBatchPipeline.processBatch(
      spark.read.text(s"${a.work}/warm_lines.txt"), 0L, s"${a.work}/warm")
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val portFile = Paths.get(a.work, "port")
    waitFor("generator port", 60)(Files.exists(portFile))
    val port = Files.readString(portFile).trim.toInt
    val out = s"${a.work}/stream"
    val summary = Paths.get(a.work, "gen_summary.json")
    val q = MicroBatchPipeline.run(
      MicroBatchPipeline.socketLines(spark, "127.0.0.1", port), out)
    // what follows is the stream's own schedule: the generator aligns its
    // measured window to the trigger clock
    val setupS = setUpDone(a)
    // all lines sent, and a committed batch has consumed the last of them
    // (the socket source's offset is the index of its last line read)
    var lines = -1L
    val consumed = try {
      waitFor("stream to consume every generated line", a.seconds + 90) {
        if (q.exception.isDefined) throw q.exception.get
        if (lines < 0 && Files.exists(summary))
          lines = "\"lines\": (\\d+)".r.findFirstMatchIn(
            Files.readString(summary)).get.group(1).toLong
        lines >= 0 && batches(q).lastOption.exists(
          _("end_offset").asInstanceOf[Long] + 1 >= lines)
      }
      true
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] stream failed: ${e.getMessage}")
      false
    }
    q.stop()
    phase(a, "stream stopped")
    val bs = batches(q)
    val traced = trace.map { t =>
      t.drain()
      val per = bs.map { b =>
        val s = b("start_ms").asInstanceOf[Long]
        val e = s + b("dur_ms").asInstanceOf[Long]
        t.addSpan(s"batch_${b("id")}", "stream", s, e)
        b("id").toString -> batchLayers(t.within(s, e), e - s)
      }.toMap
      val r = Map("batches" -> per, "spans" -> t.spanRecords)
      t.close(); r
    }
    val (checked, failures) = checkMetrics(spark, out)
    Map("setup_s" -> setupS, "batches" -> bs, "stream_ok" -> consumed,
      "out" -> out, "checks_attempted" -> checked, "check_failures" -> failures,
      "trace" -> traced)
  }

  /** Per-layer split of one micro-batch's trigger time: the pipeline's
    * actions, classified by name and output directory, in program order. */
  def batchLayers(w: Trace.Window, durMs: Long): Map[String, Any] = {
    def secs(xs: Seq[Trace.Action]) = xs.map(x => x.end - x.start).sum / 1000.0
    // the actions that write nothing: Dataset.isEmpty on the raw batch,
    // then on the persisted processed frame (which starts materializing it)
    val reads = w.actions.filter(_.path.isEmpty)
    def sink(dir: String) = secs(w.actions.filter(_.path.contains(s"/$dir")))
    Map(
      "batch_s" -> durMs / 1000.0,
      "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
      "task_cpu_s" -> w.cpuS,
      "empty_check_s" -> secs(reads.take(1)),
      "parse_sentiment_s" -> secs(reads.drop(1)),
      "raw_write_s" -> sink("raw/"),
      "snapshot_write_s" -> sink("processed/"),
      "sink_s.sentiment" -> sink("sentiment"),
      "sink_s.subreddit_stats" -> sink("subreddit_stats"),
      "sink_s.references" -> sink("references"),
      "driver_s" -> (durMs / 1000.0 - secs(w.actions)),
      "actions" -> actionRecords(w))
  }

  /** Each batch's metric rows must equal a recomputation over that batch's
    * processed snapshot (same definitions as the pipeline's sinks). */
  def checkMetrics(spark: SparkSession, out: String): (Int, Seq[String]) = {
    import spark.implicits._
    val snap = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$out/processed")
      .withColumn("batch_id", regexp_extract(input_file_name(),
        "_b(\\d+)\\.parquet", 1).cast(LongType))
    val expect = Seq(
      "sentiment" -> snap.groupBy($"batch_id")
        .agg(Det.davg($"sentiment").as("average_sentiment")),
      "subreddit_stats" -> snap.groupBy($"batch_id", $"subreddit")
        .agg(count(lit(1)).as("post_count"),
          approx_count_distinct($"author").as("unique_authors"),
          Det.davg($"text_length").as("avg_length")),
      "references" -> snap
        .select($"batch_id",
          Text.refCount($"text", Text.userRefPattern).cast(LongType).as("u"),
          Text.refCount($"text", Text.subRefPattern).cast(LongType).as("s"),
          Text.refCount($"text", Text.urlRefPattern).cast(LongType).as("l"))
        .groupBy($"batch_id")
        .agg(sum($"u").as("total_user_refs"), sum($"s").as("total_sub_refs"),
          sum($"l").as("total_urls")))
    val failures = expect.flatMap { case (dir, df) =>
      val got = spark.read.parquet(s"$out/$dir").drop("timestamp")
      val cols = df.columns.toSeq
      val (e, g) = (rowSet(df.select(cols.map(col): _*)),
        rowSet(got.select(cols.map(col): _*)))
      if (e == g) None
      else Some(s"$dir: ${g.size} metric rows differ from the " +
        s"${e.size} recomputed over the snapshots")
    }
    (expect.size, failures)
  }
}

/** The six-maintainer document ingest, closed loop: the next slice is
  * admitted only when the previous batch has committed. */
object Hub {
  import Main._

  /** Readouts, each with its batch twin (the IngestHubSpec pairs), whose
    * DuckDB oracle is the output check. */
  val readouts: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(
      ("zipf", (s, b) => StreamVocab.zipf(s, s"$b/vocab"), "q_zipf_fit"),
      ("registry", (s, b) => StreamExactDedup.registry(s, s"$b/exactdedup"),
        "q_dedup_exact"),
      ("bm25", (s, b) => StreamIndex.bm25(s, s"$b/index"), "q_bm25_scores"),
      ("ablate", (s, b) => StreamAblate.report(s, s"$b/ablate"),
        "q_filter_ablation"),
      ("mix", (s, b) => StreamMix.report(s, s"$b/mix"), "q_mix_rebalance"),
      ("pref", (s, b) => StreamPref.pairs(s, s"$b/pref"), "q_preference_pairs"))

  /** Batches admitted before the measured window opens. */
  val WarmBatches = 2

  /** Batches the window admits at least: with the warm-up's, enough batch
    * directories that a compaction has more than one to absorb. */
  val MinBatches = 3

  /** The logs IngestHub's maintainers auto-compact past
    * DeltaLog.CompactThreshold batch directories. */
  val CompactingLogs = Seq("vocab/log", "exactdedup/log", "index/postings",
    "index/stats")

  def run(a: Args): Map[String, Any] = {
    val hub = s"${a.work}/hub"
    val spark = session(a)
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val slices = Files.list(Paths.get(hub, "slices")).iterator.asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val src = Paths.get(hub, "src")
    Files.createDirectories(src)
    val base = s"$hub/base"
    val schema = spark.read.parquet(slices.head).schema
    val q = IngestHub.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      base, Trigger.ProcessingTime(0L))
    val reads = Seq.newBuilder[Map[String, Any]]
    val compactions = Seq.newBuilder[Map[String, Any]]
    var failed = 0
    val results = s"$hub/readouts"
    // a reader's poll of the six readouts; a measured poll's results are
    // kept for the output check
    def poll(measured: Boolean): Unit = readouts.foreach {
        case (name, readout, twin) =>
      val t = now()
      try {
        val df = readout(spark, base)
        val rows = df.collect()
        val secs = now() - t
        if (measured) {
          trace.foreach(_.addSpan(s"readout_$name", "hub",
            (t * 1000).toLong, ((t + secs) * 1000).toLong))
          reads += Map("name" -> name, "s" -> secs)
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.parquet(s"$results/$twin")
        }
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] readout $name: ${e.getMessage}")
        failed += 1
      }
      // the program's caller protocol (graft.Tables.eager): clear the cache
      // between queries. The ablate and mix readouts persist their folded
      // log and never release it; without this, a second poll in the same
      // session would read the first poll's fold.
      spark.catalog.clearCache()
    }
    // admit slice k and wait for its batch to commit (closed loop)
    def admit(k: Int): Unit = {
      val f = Paths.get(slices(k))
      Files.move(f, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      waitFor(s"hub batch $k", 120) {
        if (q.exception.isDefined) throw q.exception.get
        // the file source's offset counts the file batches it admitted
        Option(q.lastProgress).exists(p =>
          endOffset(p) >= k && p.durationMs.containsKey("addBatch"))
      }
    }
    // compact a log between batches, as DeltaLog.maybeCompact does past
    // its threshold (a 10 s window reaches too few batch directories for
    // the program to do it on its own); the stream is idle here, since no
    // slice is waiting
    def compact(log: String): Unit = {
      val t = now()
      try {
        val (before, after) = Compaction.compactLog(spark, s"$base/$log")
        val secs = now() - t
        trace.foreach(_.addSpan(s"compact_$log", "hub",
          (t * 1000).toLong, ((t + secs) * 1000).toLong))
        compactions += Map("log" -> log, "s" -> secs, "dirs_before" -> before,
          "dirs_after" -> after)
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] compaction $log: ${e.getMessage}")
        failed += 1
      }
    }
    var admitted = 0
    var setupS = 0.0
    try {
      // warm-up, outside the window: a first poll of the readouts (on the
      // empty hub; a long-running hub's reader has polled before), then the
      // first batches (the batch after a poll runs slower)
      poll(measured = false)
      (0 until WarmBatches).foreach(admit)
      admitted = WarmBatches
      setupS = setUpDone(a)
      val t0 = now()
      while (admitted < slices.size &&
          (admitted < WarmBatches + MinBatches || now() - t0 < a.seconds)) {
        admit(admitted)
        admitted += 1
      }
      phase(a, s"window closed after $admitted slices")
      CompactingLogs.foreach(compact)
      poll(measured = true)
      phase(a, "readouts done")
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] hub stream failed: ${e.getMessage}")
      failed += 1
    }
    q.stop()
    phase(a, "hub stopped")
    val bs = batches(q).filter(_("end_offset").asInstanceOf[Long] >= WarmBatches)
    val traced = trace.map { t =>
      t.drain()
      val per = bs.map { b =>
        val s = b("start_ms").asInstanceOf[Long]
        val e = s + b("dur_ms").asInstanceOf[Long]
        t.addSpan(s"batch_${b("id")}", "hub", s, e)
        b("id").toString -> batchLayers(t.within(s, e), e - s)
      }.toMap
      val r = Map("batches" -> per, "spans" -> t.spanRecords)
      t.close(); r
    }
    // output check input: the admitted documents, for the batch twins'
    // DuckDB oracles (run.py compares the final readouts against them)
    val ingested = s"$hub/ingested"
    spark.read.parquet(src.toString).coalesce(1).write
      .parquet(s"$ingested/documents.parquet")
    Files.writeString(Paths.get(results, "oracle_sql.json"), toJson(
      readouts.flatMap { case (_, _, twin) =>
        Queries.byName(twin).oracle.map(twin -> _) }.toMap))
    val docs = spark.read.parquet(s"$ingested/documents.parquet").count()
    Map("setup_s" -> setupS, "batches" -> bs, "slices" -> admitted,
      "docs" -> docs, "readouts" -> reads.result(),
      "compactions" -> compactions.result(), "failed_ops" -> failed,
      "base" -> base, "data" -> ingested, "check_dir" -> results,
      "twins" -> readouts.map(_._3), "trace" -> traced)
  }

  /** Per-layer split of one hub batch: delta writes by maintainer and the
    * rest of the trigger. */
  def batchLayers(w: Trace.Window, durMs: Long): Map[String, Any] = {
    def secs(xs: Seq[Trace.Action]) = xs.map(x => x.end - x.start).sum / 1000.0
    Map(
      "batch_s" -> durMs / 1000.0,
      "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
      "task_cpu_s" -> w.cpuS,
      "driver_s" -> (durMs / 1000.0 - secs(w.actions)),
      "actions" -> actionRecords(w)) ++
      Seq("vocab", "exactdedup", "index", "ablate", "mix", "pref").map(m =>
        s"write_s.$m" -> secs(w.actions.filter(_.path.contains(s"/base/$m/"))))
  }
}

/** A fixed sample of the batch query surface, one query at a time. */
object BatchSample {
  import Main._

  def run(a: Args): Map[String, Any] = {
    val data = s"${a.work}/data"
    val order = Files.readAllLines(Paths.get(a.work, "queries.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val spark = session(a)
    // output check pass: each query's result for the DuckDB oracle compare;
    // it is each query's first execution, so it is also the warm-up
    val check = s"${a.work}/check"
    var failed = 0
    order.foreach { n =>
      try Queries.byName(n).run(spark, data).coalesce(1).write
        .mode("overwrite").parquet(s"$check/$n")
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        failed += 1
      } finally spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(check, "oracle_sql.json"), toJson(
      order.flatMap(n => Queries.byName(n).oracle.map(n -> _)).toMap))
    def execute(n: String): (Boolean, Double) = timed {
      try {
        Queries.byName(n).run(spark, data).write.format("noop")
          .mode("overwrite").save()
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        false
      } finally spark.catalog.clearCache()
    }
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val setupS = setUpDone(a)
    // timed: the whole passes over the seeded order that fit the window (at
    // least one), so every query runs the same number of times, and a pass
    // that ends just inside the window does not add another
    val runs = Seq.newBuilder[Map[String, Any]]
    val t0 = now()
    var pass = 0
    var passS = 0.0
    while (pass == 0 || now() - t0 + passS <= a.seconds) {
      val p0 = now()
      for (n <- order) {
        val start = now()
        val (ok, secs) = execute(n)
        if (!ok) failed += 1
        trace.foreach(_.addSpan(s"query_$n", "suite", (start * 1000).toLong,
          ((start + secs) * 1000).toLong))
        runs += Map("query" -> n, "s" -> secs, "ok" -> ok, "pass" -> pass)
      }
      passS = now() - p0
      pass += 1
    }
    phase(a, s"window closed after $pass passes")
    val rs = runs.result()
    val traced = trace.map { t =>
      t.drain()
      // per query: its first timed execution's stage counters
      val per = rs.filter(_("pass") == 0).map { r =>
        val n = r("query").toString
        val sp = t.spanRecords.find(_("name") == s"query_$n").get
        val w = t.within(sp("start_ms").asInstanceOf[Long],
          sp("end_ms").asInstanceOf[Long])
        n -> Map("s" -> r("s"), "jobs" -> w.jobs, "stages" -> w.stages,
          "tasks" -> w.tasks, "task_cpu_s" -> w.cpuS,
          "shuffle_bytes" -> w.shuffleBytes, "input_bytes" -> w.inputBytes,
          "spill_bytes" -> w.spillBytes)
      }.toMap
      val r = Map("queries" -> per, "spans" -> t.spanRecords)
      t.close(); r
    }
    Map("setup_s" -> setupS, "runs" -> rs, "failed_ops" -> failed,
      "check_dir" -> check, "data" -> data, "trace" -> traced)
  }
}
