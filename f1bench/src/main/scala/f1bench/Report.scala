package f1bench

import scala.collection.mutable

/** Percentiles over a run's samples. */
object Stats {
  /** Linear-interpolated percentile (`p` in 0..100) of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50.0)
}

/** Everything one run reports: metrics with units, per-operation
  * accounting, output checks and free-form notes. Operations and checks are
  * recorded from several threads.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val ops = mutable.LinkedHashMap.empty[String, Array[Long]]
  /** Per check: times it ran, times it failed, the first failure's detail. */
  private val checks = mutable.LinkedHashMap.empty[String, (Int, Int, String)]
  private val notes = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }

  def has(name: String): Boolean = synchronized(metrics.contains(name))

  /** The median of `samples` as `<prefix>_p50_<unit>`, noting the sample
    * count.
    */
  def latency(prefix: String, samples: Seq[Double], unit: String = "ms"): Unit = {
    metric(s"${prefix}_p50_$unit", Stats.median(samples), unit)
    note(s"$prefix p50 over ${samples.length} samples")
  }

  def attempt(op: String, failed: Boolean): Unit = synchronized {
    val a = ops.getOrElseUpdate(op, Array(0L, 0L))
    a(0) += 1
    if (failed) a(1) += 1
  }

  def attempted: Long = synchronized(ops.values.map(_(0)).sum)
  def failed: Long = synchronized(ops.values.map(_(1)).sum)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    val (n, bad, first) = checks.getOrElse(name, (0, 0, ""))
    checks(name) = (n + 1, if (ok) bad else bad + 1, if (ok || bad > 0) first else detail)
  }

  def correct: Boolean = synchronized(checks.nonEmpty && checks.values.forall(_._2 == 0))

  def note(s: String): Unit = synchronized(notes += s)

  /** Human-readable lines, then the one-line JSON result (last line). */
  def render(keys: Seq[String]): Seq[String] = synchronized {
    val human = notes.map("# " + _) ++
      ops.map { case (op, a) =>
        f"# op $op%-16s attempted=${a(0)}%-6d failed=${a(1)}%-4d failed_ratio=${a(1).toDouble / math.max(1L, a(0))}%.4f"
      } ++
      checks.map { case (name, (n, bad, first)) =>
        s"# check $name: " + (if (bad == 0) s"ok ($n)" else s"FAILED $bad of $n: $first")
      } ++
      metrics.map { case (n, (v, u)) => f"# metric $n%-40s $v%.6g $u" }
    val missing = keys.filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val body = keys.map { k =>
      val (v, u) = metrics(k)
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    human.toSeq :+
      s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {$body}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
