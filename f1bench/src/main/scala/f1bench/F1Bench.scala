package f1bench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.analytics.Dashboard
import graft.sinks.{ManifestMergeEngine, MergeEngine}
import graft.sources.EventSource
import graft.streaming.F1Pipeline

/** The F1 workload: the unified streaming pipeline
  * (`F1Pipeline.startUnified`) over a capture directory with the manifest
  * merge engine; tables are read only through `engine.read`.
  */
object F1Bench {

  /** The eight derived tables and the timestamp column the dashboard panel
    * reads from each; `drivers` has none, so the panel counts its rows only.
    */
  val Tables: Seq[(String, Option[String])] = Seq(
    "sessions" -> Some("date"), "drivers" -> None, "lap_data" -> Some("timestamp"),
    "positions" -> Some("timestamp"), "telemetry" -> Some("timestamp"),
    "car_positions" -> Some("timestamp"), "race_control" -> Some("timestamp"),
    "weather" -> Some("timestamp"))

  // The backlog: 16,000 lines (two thirds of the reference's full-session
  // capture of 24,010 lines) in 25 files, drained in one unpaced trigger.
  val BacklogFiles = 25
  val BacklogLinesPerFile = 640
  // The live feed replays the reference capture's measured rate, 24,010
  // lines in 10,933.8 s (2.196 lines/s), sped up 20x: 9-line files every
  // 205 ms, 43.9 lines/s. A file needs at least 8 lines (a keyframe and a
  // lap completion fit), and about five files a second give the lag
  // distribution five samples a second; 8 lines x 5 files/s is 18x the
  // reference rate, rounded up to 20x.
  val ReferenceLinesPerS = 24010 / 10933.8
  val LiveSpeedUp = 20
  val LiveLinesPerFile = 9
  val LiveFileMs: Long = math.round(LiveLinesPerFile * 1000.0 / (ReferenceLinesPerS * LiveSpeedUp))
  // The dashboard runs the reference dashboard's loop (poll, render, sleep
  // 5 s), a closed loop, with the sleep sped up like the feed: 250 ms, so a
  // poll sees as much new data as one on the real feed would. It runs in
  // its own fair-scheduler pool, as an interactive reader sharing an
  // application with a streaming query would.
  val LivePauseMs: Long = 5000L / LiveSpeedUp
  val LiveSearches = 16

  /** One pipeline deployment under `root`: the watched capture directory
    * (files are written to a staging directory, then renamed in), the
    * tables and the query's checkpoint.
    */
  final class Pipeline(env: Env, root: String) {
    val src: String = mkdir(env, s"$root/src")
    val tables: String = mkdir(env, s"$root/tables")
    val ckpt: String = env.dir(s"$root/ckpt")
    private val staging = mkdir(env, "staging")
    val tracing: Option[TracingEngine] =
      if (env.args.trace) Some(new TracingEngine(new ManifestMergeEngine(), env.tracer)) else None
    val engine: MergeEngine = tracing.getOrElse(new ManifestMergeEngine())

    def start(): StreamingQuery =
      F1Pipeline.startUnified(env.spark, src, tables, ckpt, engine = engine)

    def land(f: CaptureFile): Unit = {
      val staged = Paths.get(staging, f.name)
      Files.write(staged, f.bytes)
      Files.move(staged, Paths.get(src, f.name), StandardCopyOption.ATOMIC_MOVE)
    }

    def read(table: String): DataFrame = engine.read(env.spark, s"$tables/$table")
      .getOrElse(throw new IllegalStateException(s"table $table does not exist"))

    /** One dashboard poll: `Dashboard.allStats` over the eight tables, with
      * `now` at the capture's event time. Rows per table.
      */
    def poll(nowOffsetMs: Long): Map[String, Long] = {
      val inputs = pollInputs
      val now = lit(java.sql.Timestamp.from(Capture.Epoch.plusMillis(nowOffsetMs)))
      Dashboard.allStats(inputs, now).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    def pollInputs: Seq[(String, DataFrame, String)] = Tables.map { case (t, ts) =>
      val df = read(t)
      ts.fold((t, df.withColumn("_ts", lit(null).cast("timestamp")), "_ts"))(c => (t, df, c))
    }

    /** Drill-down search: one driver's laps, read through the engine with a
      * filter on the table's partition column.
      */
    def lookup(driver: Int): Int =
      read("lap_data").filter(col("driver_number") === driver).orderBy("lap_number")
        .collect().length

    /** Which micro-batch read each file, from the checkpoint's source log. */
    def fileBatches(): Map[String, Long] = {
      val dir = Paths.get(ckpt, "sources", "0")
      val PathRe = "\"path\":\"([^\"]+)\"".r
      val BatchRe = "\"batchId\":(\\d+)".r
      if (!Files.isDirectory(dir)) Map.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.toSeq
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          .flatMap(p => Files.readAllLines(p).asScala.drop(1))
          .flatMap { l =>
            for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
              yield p.group(1).substring(p.group(1).lastIndexOf('/') + 1) -> b.group(1).toLong
          }.toMap
        finally s.close()
      }
    }

    def bytesOnDisk: Long = Disk.bytesUnder(Paths.get(tables))
  }

  private def mkdir(env: Env, name: String): String = {
    val p = Paths.get(env.dir(name)); Files.createDirectories(p); p.toString
  }

  private def sleepUntil(ms: Double): Unit = {
    val d = ms - Clock.nowMs
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Progress events reach the listener asynchronously; wait until every
    * batch that read a file has reported (bounded).
    */
  private def triggersFor(env: Env, sinceMs: Double, batches: Set[Long]): Seq[Trigger] = {
    val deadline = Clock.nowMs + 10000
    def got = env.streamLog.all.filter(_.startMs >= sinceMs - 1)
    while (!batches.subsetOf(got.map(_.batchId).toSet) && Clock.nowMs < deadline) Thread.sleep(20)
    got
  }

  /** The drivers a drill-down search asks for: those with laps, in turn,
    * so every search reads a partition.
    */
  final case class DrillDown(lapsByDriver: Map[Int, Int]) {
    private val drivers = lapsByDriver.toSeq.sorted
    def pick(i: Int): (Int, Int) = drivers(i % drivers.size)
  }

  /** What one timed pass measured. `triggers` are the data triggers; the
    * live phase runs from `liveStartMs` to the end of its last data trigger,
    * `endMs`.
    */
  final case class Pass(lags: Seq[Double], polls: Seq[Double], searches: Seq[Double],
      triggers: Seq[Trigger], startMs: Double, liveStartMs: Double, endMs: Double,
      backlogMax: Int)

  /** Ingest lag of each file: from when it was due to the end of the
    * trigger that committed it. A file no batch read is a failed landing.
    */
  private def fileLags(env: Env, due: Seq[(String, Double)], triggers: Seq[Trigger],
      batches: Map[String, Long]): Seq[Double] = {
    val byBatch = triggers.map(t => t.batchId -> t).toMap
    due.flatMap { case (name, d) =>
      val end = batches.get(name).flatMap(byBatch.get).map(_.endMs)
      env.report.attempt("land", failed = end.isEmpty)
      end.map(_ - d)
    }
  }

  /** f1_live: a pipeline that comes up behind the feed. It first drains the
    * backlog landed while it was down (one unpaced trigger, timed to
    * `processAllAvailable`), then follows the live feed: an open-loop
    * generator lands files on a fixed schedule while one dashboard client
    * polls in a closed loop. A `--trace 1` run traces both phases, repeats them
    * untraced in a fresh deployment, then drains the backlog on one core.
    */
  def live(env: Env): Unit = {
    val a = env.args
    // the capture is generated while the session starts
    val generated = scala.concurrent.Future {
      val capture = new Capture(a.seed)
      val backlog = IndexedSeq.fill(BacklogFiles)(
        capture.next(BacklogLinesPerFile, 1000L))
      val backlogExpected = capture.expected
      val feed = IndexedSeq.fill((a.seconds * 1000 / LiveFileMs).toInt)(
        capture.next(LiveLinesPerFile, LiveFileMs))
      (backlog, backlogExpected, feed, capture.expected)
    }(scala.concurrent.ExecutionContext.global)
    env.startSession(env.cores)
    val (backlog, backlogExpected, feed, expected) =
      scala.concurrent.Await.result(generated, scala.concurrent.duration.Duration.Inf)
    env.phase("session")
    // the reference load runs beside the streaming warm-up; together they
    // warm the decode, the transforms and the sinks' first writes
    val reference = scala.concurrent.Future(batchLoad(env, backlog ++ feed))(
      scala.concurrent.ExecutionContext.global)
    warmUp(env)
    val referenceTables = scala.concurrent.Await.result(reference,
      scala.concurrent.duration.Duration.Inf)
    env.phase("warm_up")
    val p = new Pipeline(env, "run")
    backlog.foreach(p.land)
    env.report.metric("setup_s", (Clock.nowMs - env.processStartMs) / 1000.0, "s")
    env.phase("setup")

    val polled = collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    val drill = DrillDown(expected.lapsByDriver)
    // a traced run traces the pass an untraced run measures: the first one
    val counters = if (a.trace) Some(env.traceOn()) else None
    val before = counters.map(_.snapshot)
    val (rate, first) = session(env, p, backlog, feed, polled, drill)
    env.traceOff()
    env.phase("timed")
    polled += p.poll(feed.last.offsetMs)
    checkPolls(env, expected, polled.toSeq)
    env.report.metric("space_amp",
      p.bytesOnDisk.toDouble / (backlog ++ feed).map(_.bytes.length.toLong).sum, "ratio")
    checkReference(env, p, referenceTables)
    env.phase("checks")
    counters match {
      case None =>
        env.report.latency("ingest_lag", first.lags)
        env.report.latency("poll", first.polls)
        env.report.latency("search", first.searches)
        env.report.metric("backfill_lines_per_s", rate, "lines/s")
        env.report.metric("grow_p50_ms", Stats.median(first.triggers
          .filter(_.startMs >= first.liveStartMs)
          .map(_.durations.getOrElse("addBatch", 0L).toDouble)), "ms")
      case Some(c) =>
        tracedLayers(env, p, c, before.get, first)
        // the same work untraced in a fresh deployment; it runs second, on a
        // warmer JIT, so the share is an upper bound on the overhead
        val p2 = new Pipeline(env, "untraced")
        backlog.foreach(p2.land)
        val (_, second) =
          session(env, p2, backlog, feed, collection.mutable.ArrayBuffer.empty, drill)
        env.report.metric("trace.overhead_share",
          Stats.median(first.lags) / Stats.median(second.lags) - 1.0, "ratio")
        f1Layers(env, p.src, expected)
        env.phase("untraced")
        // the single-threaded baseline of the same backlog drain
        env.stopSession()
        env.startSession(1)
        val p3 = new Pipeline(env, "single")
        backlog.foreach(p3.land)
        env.traceOn()
        val one = drain(env, p3, backlog)
        env.traceOff()
        env.report.check("single_core_tables_match_generator",
          p3.poll(backlog.last.offsetMs) == backlogExpected.tables, "single-core backlog drain")
        env.report.metric("backfill.parallel_speedup", rate / one, "ratio")
        env.phase("single_core")
    }
    env.report.metric("gen.late_ms_max", env.lateMs, "ms")
  }

  /** A throwaway deployment fed two small files, two triggers (table
    * creation, then merges), one poll and one search: the JIT and the code
    * generator warm up before anything is timed.
    */
  private def warmUp(env: Env): Unit = {
    val w = new Pipeline(env, "warm")
    val q = w.start()
    try Capture.generate(env.args.seed ^ 0x5eedL, 2, 150, 1000L)._1.foreach { f =>
      w.land(f); q.processAllAvailable()
    } finally q.stop()
    w.poll(0L)
    w.lookup(Capture.Drivers.head)
    Disk.delete(env.args.tmp.resolve("warm"))
  }

  /** Start the query over a landed backlog and time it, from query start
    * to drained; returns lines per second.
    */
  private def drain(env: Env, p: Pipeline, backlog: Seq[CaptureFile]): Double = {
    val t0 = Clock.nowMs
    val q = p.start()
    try { q.processAllAvailable(); linesPerS(backlog, t0) } finally q.stop()
  }

  private def linesPerS(backlog: Seq[CaptureFile], t0: Double): Double =
    backlog.map(_.lines.length).sum / ((Clock.nowMs - t0) / 1000.0)

  /** Both phases on one query: the backlog drain, then the live feed. */
  private def session(env: Env, p: Pipeline, backlog: Seq[CaptureFile], feed: Seq[CaptureFile],
      polled: collection.mutable.ArrayBuffer[Map[String, Long]], drill: DrillDown): (Double, Pass) = {
    val t0 = Clock.nowMs
    val q = p.start()
    try {
      q.processAllAvailable()
      val rate = linesPerS(backlog, t0)
      val backfillTriggers = triggersFor(env, t0, p.fileBatches().values.toSet)
      val live = livePass(env, p, q, feed, polled, drill)
      (rate, live.copy(triggers = backfillTriggers.filter(_.inputRows > 0) ++ live.triggers,
        startMs = t0))
    } finally q.stop()
  }

  private def livePass(env: Env, p: Pipeline, q: StreamingQuery, files: Seq[CaptureFile],
      polled: collection.mutable.ArrayBuffer[Map[String, Long]], drill: DrillDown): Pass = {
    val seconds = env.args.seconds
    val t0 = Clock.nowMs + 100
    val base = files.head.offsetMs
    val due = files.map(f => f.name -> (t0 + f.offsetMs - base))
    val landedAt = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val gen = thread("f1bench-generator") {
      files.zip(due).foreach { case (f, (_, d)) =>
        sleepUntil(d)
        env.late(Clock.nowMs - d)
        p.land(f)
        landedAt.put(f.name, Clock.nowMs)
      }
    }
    val pollMs = collection.mutable.ArrayBuffer.empty[Double]
    val searchMs = collection.mutable.ArrayBuffer.empty[Double]
    val poller = thread("f1bench-dashboard") {
      env.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "dashboard")
      var due = t0 + LivePauseMs
      while (due < t0 + seconds * 1000.0) {
        sleepUntil(due)
        env.late(Clock.nowMs - due)
        env.attempt("poll", "analytics")(p.poll(base + (due - t0).toLong)).foreach { case (c, _) =>
          polled.synchronized(polled += c)
          pollMs += Clock.nowMs - due
        }
        due = Clock.nowMs + LivePauseMs
      }
    }
    gen.join()
    poller.join()
    q.processAllAvailable()
    // drill-down searches once the feed has drained: the read path alone
    (0 until LiveSearches).foreach { i =>
      val (driver, laps) = drill.pick(i)
      env.attempt("search", "analytics")(p.lookup(driver)).foreach { case (rows, ms) =>
        searchMs += ms
        env.report.check("search_finds_every_lap", rows == laps,
          s"driver $driver: search returned $rows laps, generator made $laps")
      }
    }
    val batches = p.fileBatches()
    val triggers = triggersFor(env, t0, due.flatMap(d => batches.get(d._1)).toSet)
    val lags = fileLags(env, due, triggers, batches)
    val data = triggers.filter(_.inputRows > 0)
    val backlog = data.map { t =>
      due.count { case (n, _) =>
        Option(landedAt.get(n)).exists(_ <= t.startMs) && batches.get(n).exists(_ >= t.batchId)
      }
    }
    Pass(lags, pollMs.toSeq, searchMs.toSeq, data, t0, t0,
      if (data.isEmpty) t0 else data.map(_.endMs).max, if (backlog.isEmpty) 0 else backlog.max)
  }

  /** Per-layer metrics of a traced pass: streaming phases (live triggers),
    * Spark counters and sink calls (both phases), the dashboard's reads.
    */
  private def tracedLayers(env: Env, p: Pipeline, c: SparkCounters,
      before: Map[String, Double], pass: Pass): Unit = {
    val r = env.report
    val data = pass.triggers.filter(_.startMs >= pass.liveStartMs)
    def p50(key: String) = if (data.isEmpty) 0.0
      else Stats.median(data.map(_.durations.getOrElse(key, 0L).toDouble))
    r.metric("streaming.triggers", data.size.toDouble, "count")
    r.metric("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
    r.metric("streaming.latest_offset_ms_p50", p50("latestOffset"), "ms")
    r.metric("streaming.add_batch_ms_p50", p50("addBatch"), "ms")
    r.metric("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms")
    r.metric("streaming.wal_commit_ms_p50", p50("walCommit"), "ms")
    r.metric("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
    val busy = data.map(_.durations.getOrElse("triggerExecution", 0L).toDouble).sum
    r.metric("streaming.idle_share",
      math.max(0.0, 1.0 - busy / math.max(1.0, pass.endMs - pass.liveStartMs)), "ratio")
    r.metric("streaming.backlog_files_max", pass.backlogMax.toDouble, "count")
    pass.triggers.foreach(t => env.tracer.record("trigger", "streaming", t.startMs, t.endMs))

    val jobs = sparkLayer(env, c, before)
    r.metric("spark.jobs_per_trigger",
      if (pass.triggers.isEmpty) 0.0
      else jobs.count(!_.layer.contains("analytics")).toDouble / pass.triggers.size, "count")
    val pollSpans = env.tracer.spans.filter(s => s.name == "poll" && s.startMs >= pass.startMs)
      .map(_.id).toSet
    r.metric("analytics.poll_jobs", c.jobsOf(pollSpans).toDouble / math.max(1, pollSpans.size),
      "count")
    r.metric("analytics.poll_files_read",
      if (pollSpans.isEmpty) 0.0 else p.pollInputs.map(_._2.inputFiles.length).sum.toDouble,
      "count")

    val calls = p.tracing.map(_.all).getOrElse(Nil).filter(_.startMs >= pass.startMs)
    val writes = calls.filter(_.op != "read")
    Seq("upsert", "coalescing_upsert", "partitioned_coalescing_upsert", "append",
      "dedup_append", "read").foreach { op =>
      val ms = calls.filter(_.op == op).map(_.ms)
      r.metric(s"sinks.${op}_ms_p50", if (ms.isEmpty) 0.0 else Stats.median(ms), "ms")
    }
    r.metric("sinks.calls", calls.size.toDouble, "count")
    r.metric("sinks.failed_calls", calls.count(_.failed).toDouble, "count")
    r.metric("sinks.files_written", writes.map(_.files).sum.toDouble, "count")
    r.metric("sinks.bytes_written", writes.map(_.bytes).sum.toDouble, "bytes")
    val slowest = pass.triggers.flatMap { t =>
      val in = writes.filter(w => w.startMs >= t.startMs && w.startMs <= t.endMs)
      if (in.isEmpty) None else Some(in.map(_.ms).max)
    }
    r.metric("sinks.slowest_table_ms_p50", if (slowest.isEmpty) 0.0 else Stats.median(slowest), "ms")
  }

  /** Spark counters since `before`, with jobs charged to modules. */
  def sparkLayer(env: Env, c: SparkCounters, before: Map[String, Double]): Seq[SparkCounters.Job] = {
    c.snapshot.foreach { case (k, v) =>
      env.report.metric(s"spark.$k", v - before(k),
        if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else "count")
    }
    val jobs = c.allJobs.sortBy(_.id).drop(before("jobs").toInt)
    SparkCounters.Modules.foreach { m =>
      env.report.metric(s"spark.jobs.$m", jobs.count(_.module == m).toDouble, "count")
    }
    jobs
  }

  /** The decode and transform layers measured on their own: a timed
    * `EventSource.readBatch` of the capture through the noop sink, then
    * each table's transform over the cached events.
    */
  private def f1Layers(env: Env, src: String, expected: Expected): Unit = {
    val spark = env.spark
    val r = env.report
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val parse = (1 to 3).map { _ =>
      val t0 = Clock.nowMs
      env.tracer.span("sources.readBatch", "sources")(noop(EventSource.readBatch(spark, src)))
      Clock.nowMs - t0
    }
    r.metric("sources.parse_us_per_line", Stats.median(parse) * 1000.0 / expected.lines, "us/line")
    val events = EventSource.readBatch(spark, src).cache()
    try {
      val corrupt = EventSource.corruptCount(events).head().getLong(0)
      r.metric("sources.corrupt_lines", corrupt.toDouble, "count")
      r.check("corrupt_lines_match_generator", corrupt == expected.corrupt,
        s"source counted $corrupt malformed lines, generator made ${expected.corrupt}")
      F1Pipeline.tableSinks.foreach { case (name, _, transform, _) =>
        val t0 = Clock.nowMs
        env.tracer.span(s"f1transforms.$name", "operators")(noop(transform(events)))
        r.metric(s"f1transforms.${name}_ms", Clock.nowMs - t0, "ms")
        val rows = transform(events).count()
        r.metric(s"f1transforms.${name}_rows_out", rows.toDouble, "count")
        r.check(s"transform_rows_$name", rows == expected.transformRows(name),
          s"$name transform emitted $rows rows, generator made ${expected.transformRows(name)}")
      }
    } finally events.unpersist()
  }

  /** The final poll saw what the generator made, and polled counts never
    * decreased on the way there.
    */
  private def checkPolls(env: Env, expected: Expected, polls: Seq[Map[String, Long]]): Unit = {
    env.report.check("tables_match_generator", polls.last == expected.tables,
      s"tables hold ${polls.last}, generator made ${expected.tables}")
    val decreasing = Tables.map(_._1).filter { t =>
      polls.map(_.getOrElse(t, 0L)).sliding(2).exists(w => w.length == 2 && w(1) < w(0))
    }
    env.report.check("polls_never_decrease", decreasing.isEmpty,
      s"polled counts decreased for ${decreasing.mkString(", ")}")
  }

  /** One `F1Pipeline.loadBatch` of the whole capture, read as one file in
    * landing order: the reference the streamed tables must equal.
    */
  private def batchLoad(env: Env, files: Seq[CaptureFile]): Map[String, DataFrame] = {
    val spark = env.spark
    val capture = Paths.get(mkdir(env, "reference"), "capture.txt")
    val out = Files.newOutputStream(capture)
    try files.foreach(f => out.write(f.bytes)) finally out.close()
    val engine = new ManifestMergeEngine()
    val tables = mkdir(env, "reference/tables")
    F1Pipeline.loadBatch(spark, EventSource.readBatch(spark, capture.toString), tables, 0L, engine)
    Tables.map { case (t, _) =>
      t -> engine.read(spark, s"$tables/$t")
        .getOrElse(throw new IllegalStateException(s"reference table $t missing"))
    }.toMap
  }

  /** The streamed tables equal the batch load, ignoring the arrival-order
    * columns: same columns, row count and order-independent row digest.
    */
  private def checkReference(env: Env, p: Pipeline, reference: Map[String, DataFrame]): Unit = {
    val streamed = digests(Tables.map { case (t, _) => t -> p.read(t) })
    val batch = digests(Tables.map { case (t, _) => t -> reference(t) })
    val diffs = Tables.map(_._1).filter(t => streamed(t) != batch(t))
      .map(t => s"$t: streamed ${streamed(t)} vs batch ${batch(t)}")
    env.report.check("stream_equals_batch_load", diffs.isEmpty, diffs.mkString("; "))
  }

  /** Per table: its columns less the arrival-order ones, its row count and
    * the sum of its rows' hashes, in one job over all tables.
    */
  private def digests(tables: Seq[(String, DataFrame)]): Map[String, (Seq[String], Long, String)] = {
    val cols = tables.map { case (t, df) => t -> df.columns.filterNot(Set("_batch", "_line")).sorted.toSeq }.toMap
    tables.map { case (t, df) =>
      df.select(lit(t).as("t"), xxhash64(cols(t).map(col): _*).cast("decimal(38,0)").as("h"))
    }.reduce(_ union _).groupBy("t").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> ((cols(r.getString(0)), r.getLong(1), String.valueOf(r.get(2)))))
      .toMap.withDefault(t => (cols(t), 0L, "null"))
  }
}
