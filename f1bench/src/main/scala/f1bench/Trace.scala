package f1bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sinks.MergeEngine

/** A timed interval at a layer boundary. `parent` is the span that caused
  * it (0 for a root); times are epoch milliseconds with a fraction.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Disabled, [[span]] only runs its body: the
  * untraced run pays one branch per call. Spans opened on a thread nest
  * under the span open on that thread; the span id also rides the Spark
  * job properties ([[SpanProperty]]) so jobs can be charged to the span
  * that submitted them.
  */
final class Tracer(@volatile var enabled: Boolean, spark: => SparkSession) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val sc = spark.sparkContext
      val prevSpan = sc.getLocalProperty(Tracer.SpanProperty)
      val prevLayer = sc.getLocalProperty(Tracer.LayerProperty)
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      sc.setLocalProperty(Tracer.LayerProperty, layer)
      val t0 = Clock.nowMs
      try body
      finally {
        done.add(Span(id, stack.headOption.getOrElse(0L), name, layer, t0, Clock.nowMs))
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanProperty, prevSpan)
        sc.setLocalProperty(Tracer.LayerProperty, prevLayer)
      }
    }

  /** Record an interval measured elsewhere (a trigger from its progress event). */
  def record(name: String, layer: String, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    done.add(Span(id, 0L, name, layer, startMs, endMs))
    id
  }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Spans with orphans re-parented onto the recorded interval that covers
    * their start (sink calls on the pipeline's pool threads belong to the
    * trigger that ran them), and each span's self time: its duration less
    * the part its children cover.
    */
  def resolved(adoptUnder: String): Seq[(Span, Double)] = {
    val all = spans
    val hosts = all.filter(_.name == adoptUnder).sortBy(_.startMs)
    val fixed = all.map { s =>
      if (s.parent != 0L || s.name == adoptUnder) s
      else hosts.find(h => h.startMs <= s.startMs && s.startMs <= h.endMs)
        .fold(s)(h => s.copy(parent = h.id))
    }
    val children = fixed.groupBy(_.parent)
    fixed.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      (s, s.ms - covered)
    }
  }

  /** Spans as JSON lines, each with its causing span and self time. */
  def dump(out: java.io.PrintStream, adoptUnder: String): Unit =
    resolved(adoptUnder).sortBy(_._1.startMs).foreach { case (s, self) =>
      out.println(s"""{"span": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""layer": ${Json.str(s.layer)}, "start_ms": ${Json.num(s.startMs)}, """ +
        s""""ms": ${Json.num(s.ms)}, "self_ms": ${Json.num(self)}}""")
    }
}

object Tracer {
  val SpanProperty = "f1bench.span"
  val LayerProperty = "f1bench.layer"
}

object Clock {
  /** Wall-clock epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}

/** Job, stage, task, shuffle, spill and GC counters, registered from
  * outside the program. Each job is charged to a module: the program source
  * file in its call site (the result stage's name, e.g. `collect at
  * F1Pipeline.scala:129`) names it; a job whose call site is not in the
  * program takes the layer of the benchmark span that submitted it; a job
  * the streaming engine runs by itself counts as `streaming`.
  */
final class SparkCounters(moduleOf: String => Option[String]) extends SparkListener {
  import SparkCounters.Job
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val file = site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
    val module = moduleOf(file)
      .orElse(prop(Tracer.LayerProperty))
      .orElse(prop("sql.streaming.queryId").map(_ => "streaming"))
      .getOrElse("other")
    jobs.add(Job(e.jobId, module, prop(Tracer.SpanProperty).map(_.toLong).getOrElse(0L),
      prop(Tracer.LayerProperty)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def allJobs: Seq[Job] = jobs.asScala.toSeq
  def jobsOf(spanIds: Set[Long]): Int = allJobs.count(j => spanIds.contains(j.span))

  /** A snapshot of the counters, so a phase can report its own share. */
  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.size.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "executor_run_ms" -> runMs.get.toDouble,
    "executor_cpu_ms" -> cpuNs.get / 1e6, "gc_ms" -> gcMs.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble, "spill_bytes" -> spill.get.toDouble)
}

object SparkCounters {
  final case class Job(id: Int, module: String, span: Long, layer: Option[String])

  val Modules: Seq[String] =
    Seq("sources", "functions", "operators", "streaming", "sinks", "analytics", "other")

  /** Map from program source file name to its module (the directory under
    * `graft/`), read from the checkout's source tree. Files outside the
    * modules the benchmark reports on count as `other`.
    */
  def programModules(srcRoot: java.nio.file.Path): String => Option[String] = {
    val graft = srcRoot.resolve("graft")
    val m = java.nio.file.Files.walk(graft).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val rel = graft.relativize(p)
        val module = if (rel.getNameCount > 1) rel.getName(0).toString else "other"
        p.getFileName.toString -> (if (Modules.contains(module)) module else "other")
      }.toMap
    m.get
  }
}

/** One trigger of a streaming query, from its progress event. */
final case class Trigger(batchId: Long, startMs: Double, durations: Map[String, Long],
    inputRows: Long) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Keeps every progress event with its full `durationMs` map. Registered on
  * every run: trigger ends are part of the ingest-lag measurement.
  */
final class StreamLog extends StreamingQueryListener {
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    triggers.add(Trigger(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
  def all: Seq[Trigger] = triggers.asScala.toSeq.sortBy(_.startMs)
}

/** A [[MergeEngine]] decorator that times every call the pipeline makes into
  * the sink layer, charges it to a span, and counts the data files each
  * write leaves in the table directory.
  */
final class TracingEngine(inner: MergeEngine, tracer: Tracer) extends MergeEngine {
  import TracingEngine.Call
  private val calls = new ConcurrentLinkedQueue[Call]()

  def all: Seq[Call] = calls.asScala.toSeq

  private def dataFiles(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString -> p.toFile.length).toMap
      finally s.close()
    }
  }

  private def timed[T](op: String, path: String, writes: Boolean)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val before = if (writes) dataFiles(path) else Map.empty[String, Long]
      val t0 = Clock.nowMs
      var failed = true
      try {
        val r = tracer.span(s"sink.$op", "sinks")(body)
        failed = false
        r
      } finally {
        val ms = Clock.nowMs - t0
        val fresh = if (writes) dataFiles(path).filter { case (f, _) => !before.contains(f) }
          else Map.empty[String, Long]
        calls.add(Call(op, path.substring(path.lastIndexOf('/') + 1), t0, ms, failed,
          fresh.size, fresh.values.sum))
      }
    }

  def upsert(spark: SparkSession, path: String, batch: DataFrame, keys: Seq[String]): Unit =
    timed("upsert", path, writes = true)(inner.upsert(spark, path, batch, keys))
  def coalescingUpsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit =
    timed("coalescing_upsert", path, writes = true)(
      inner.coalescingUpsert(spark, path, batch, keys))
  def partitionedCoalescingUpsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String], partCol: String): Unit =
    timed("partitioned_coalescing_upsert", path, writes = true)(
      inner.partitionedCoalescingUpsert(spark, path, batch, keys, partCol))
  def append(path: String, batch: DataFrame): Unit =
    timed("append", path, writes = true)(inner.append(path, batch))
  def appendPartitioned(path: String, batch: DataFrame, partCol: String): Unit =
    timed("append_partitioned", path, writes = true)(
      inner.appendPartitioned(path, batch, partCol))
  def dedupAppend(spark: SparkSession, path: String, batch: DataFrame, key: String): Unit =
    timed("dedup_append", path, writes = true)(inner.dedupAppend(spark, path, batch, key))
  def compact(spark: SparkSession, path: String, targetBytes: Long): Unit =
    timed("compact", path, writes = true)(inner.compact(spark, path, targetBytes))
  def replacePartitions(spark: SparkSession, path: String, batch: DataFrame,
      partCol: String, partitions: Seq[Any]): Unit =
    timed("replace_partitions", path, writes = true)(
      inner.replacePartitions(spark, path, batch, partCol, partitions))
  def overwrite(spark: SparkSession, path: String, batch: DataFrame): Unit =
    timed("overwrite", path, writes = true)(inner.overwrite(spark, path, batch))
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    timed("read", path, writes = false)(inner.read(spark, path))
}

object TracingEngine {
  final case class Call(op: String, table: String, startMs: Double, ms: Double,
      failed: Boolean, files: Int, bytes: Long)
}
