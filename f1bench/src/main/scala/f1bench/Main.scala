package f1bench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments, as `run.py` passes them. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    checkout: Path, tmp: Path, spans: Option[Path])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("checkout")), Paths.get(need("tmp")),
      kv.get("spans").map(Paths.get(_)))
  }
}

/** State shared by a run's phases: the session, the run's report, the span
  * recorder and the listeners. Tracing is switched on only for the traced
  * pass of a `--trace 1` run; the end-to-end numbers of both runs come from
  * untraced passes.
  */
final class Env(val args: Args) {
  val report = new Report
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** Process start, from the JVM's own record: set-up time starts here. */
  val processStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  @volatile var spark: SparkSession = _
  val tracer = new Tracer(false, spark)
  val streamLog = new StreamLog
  @volatile var counters: Option[SparkCounters] = None
  private val moduleOf = SparkCounters.programModules(args.checkout.resolve("src/main/scala"))
  @volatile var lateMs: Double = 0.0

  /** Work directories live under the run's temporary root. */
  def dir(name: String): String = {
    val p = args.tmp.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  def startSession(threads: Int): Unit = {
    spark = Env.session(threads, args.tmp)
    spark.streams.addListener(streamLog)
  }

  def stopSession(): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Register the listeners and switch spans on. */
  def traceOn(): SparkCounters = {
    val c = new SparkCounters(moduleOf)
    spark.sparkContext.addSparkListener(c)
    counters = Some(c)
    tracer.enabled = true
    c
  }

  def traceOff(): Unit = {
    tracer.enabled = false
    counters.foreach(spark.sparkContext.removeSparkListener)
  }

  def late(ms: Double): Unit = synchronized { lateMs = math.max(lateMs, ms) }

  /** Note when a phase of the run ends, in seconds since process start. */
  def phase(name: String): Unit =
    report.note(f"phase $name ends at ${(Clock.nowMs - processStartMs) / 1000.0}%.1f s")

  /** Time `body` and record it as one attempt of `op`; a throw is a failed
    * attempt and yields None.
    */
  def attempt[T](op: String, layer: String)(body: => T): Option[(T, Double)] = {
    val t0 = Clock.nowMs
    try {
      val r = tracer.span(op, layer)(body)
      report.attempt(op, failed = false)
      Some((r, Clock.nowMs - t0))
    } catch {
      case e: Exception =>
        report.attempt(op, failed = true)
        report.note(s"$op failed: ${e.toString.take(300)}")
        None
    }
  }
}

object Env {
  /** The deployment the benchmark measures: local mode over every core, the
    * program's session extension, and the same adaptive-execution and
    * listing settings the program's own harness uses. Fair scheduling lets
    * a reader's jobs run in their own pool beside the pipeline's.
    */
  def session(threads: Int, tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("f1bench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Entry point: `f1bench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --checkout <dir> --tmp <dir> [--spans <file>]`. Prints
  * human-readable `#` lines, then the one-line JSON result.
  */
object Main {
  val Workloads: Map[String, Env => Unit] = Map(
    "f1_live" -> F1Bench.live, "index_serve" -> IndexBench.serve)

  val EndToEnd: Seq[String] = Seq("setup_s", "ingest_lag_p50_ms", "poll_p50_ms",
    "backfill_lines_per_s", "search_p50_ms", "grow_p50_ms", "space_amp")

  val PerLayer: Seq[String] =
    Seq("triggers", "trigger_ms_p50", "latest_offset_ms_p50", "add_batch_ms_p50",
      "query_planning_ms_p50", "wal_commit_ms_p50", "commit_offsets_ms_p50", "idle_share",
      "backlog_files_max").map("streaming." + _) ++
    Seq("jobs", "jobs_per_trigger", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
      "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes").map("spark." + _) ++
    SparkCounters.Modules.map("spark.jobs." + _) ++
    Seq("upsert_ms_p50", "coalescing_upsert_ms_p50", "partitioned_coalescing_upsert_ms_p50",
      "append_ms_p50", "dedup_append_ms_p50", "read_ms_p50", "calls", "failed_calls",
      "slowest_table_ms_p50", "files_written", "bytes_written").map("sinks." + _) ++
    Seq("sources.parse_us_per_line", "sources.corrupt_lines") ++
    graft.streaming.F1Pipeline.tableSinks.map(_._1)
      .flatMap(t => Seq(s"f1transforms.${t}_ms", s"f1transforms.${t}_rows_out")) ++
    Seq("analytics.poll_jobs", "analytics.poll_files_read") ++
    Seq("grow_ms_p50", "grow_jobs", "search_ms_p50", "search_jobs", "store_files")
      .map("lex." + _) ++
    Seq("load_ms_p50", "grow_ms_p50", "grow_jobs", "search_ms_p50", "search_jobs",
      "store_files").map("ann." + _) ++
    Seq("backfill.parallel_speedup", "gen.late_ms_max", "trace.overhead_share")

  private def perLayerUnit(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("share") || k.endsWith("speedup")) "ratio"
    else if (k.endsWith("per_line")) "us/line"
    else "count"

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val run = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; " +
        s"known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val env = new Env(args)
    try run(env)
    finally if (env.spark != null) env.stopSession()
    val keys = if (args.trace) PerLayer else EndToEnd
    // a traced run reports every layer; one its workload does not exercise reads 0
    if (args.trace) {
      val idle = keys.filterNot(env.report.has)
      idle.foreach(k => env.report.metric(k, 0.0, perLayerUnit(k)))
      if (idle.nonEmpty) env.report.note(s"not exercised by ${args.workload}: ${idle.mkString(" ")}")
    }
    if (args.trace) {
      val out = args.spans.map(p => new java.io.PrintStream(Files.newOutputStream(p)))
        .getOrElse(System.err)
      try env.tracer.dump(out, "trigger") finally if (out ne System.err) out.close()
    }
    env.report.render(keys).foreach(println)
    if (!env.report.correct) sys.exit(3)
  }
}

/** Sizes and clean-up of work directories. */
object Disk {
  def filesUnder(p: Path): Long = walk(p)(_.count(Files.isRegularFile(_)).toLong)

  def bytesUnder(p: Path): Long =
    walk(p)(_.filter(Files.isRegularFile(_)).map(Files.size).sum)

  private def walk[T](p: Path)(f: Iterator[Path] => T): T =
    if (!Files.exists(p)) f(Iterator.empty)
    else {
      val s = Files.walk(p)
      try f(s.iterator().asScala) finally s.close()
    }

  /** Remove a work directory and everything under it. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) walk(p)(_.toSeq.sortBy(-_.getNameCount).foreach(Files.delete))
}
