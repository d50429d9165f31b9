package f1bench

import org.scalatest.funsuite.AnyFunSuite

class CaptureSpec extends AnyFunSuite {
  private def bytes(seed: Long): Seq[Seq[Byte]] =
    Capture.generate(seed, 6, 200, 250L)._1.map(_.bytes.toSeq)

  test("the same seed gives identical bytes; another seed gives different bytes") {
    assert(bytes(7) == bytes(7))
    assert(bytes(7) != bytes(8))
  }

  test("every derived table receives rows, and malformed lines are counted") {
    val (files, expected) = Capture.generate(3, 120, 250, 1000L)
    assert(expected.tables.values.forall(_ > 0), expected.tables)
    assert(expected.corrupt > 0)
    assert(expected.lines == files.map(_.lines.length).sum)
    val lines = files.flatMap(_.lines)
    val compressed = lines.count(l => l.startsWith("['CarData.z'") || l.startsWith("['Position.z'"))
    assert(compressed * 2 > lines.length, "compressed topics are the majority")
    assert(lines.exists(_.contains("'Messages': [")) && lines.exists(_.contains("'Messages': {'")),
      "both race-control payload shapes")
    assert(expected.transformRows("race_control") > expected.tables("race_control"),
      "some race-control messages are re-sent")
    val stamps = lines.flatMap(l => "'(2025-[^']+Z)'\\]$".r.findFirstMatchIn(l).map(_.group(1)))
    assert(stamps.sliding(2).exists { case Seq(a, b) => b < a; case _ => false },
      "some timestamps arrive late")
  }
}
