package f1bench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import scala.collection.mutable

import graft.f1.Fixtures

/** One capture file: its name, when it is due relative to the capture
  * start, and its lines in landing order.
  */
final case class CaptureFile(name: String, offsetMs: Long, lines: IndexedSeq[String]) {
  def bytes: Array[Byte] = lines.mkString("", "\n", "\n").getBytes(UTF_8)
}

/** What a capture must produce, tallied while it is generated — never read
  * back from the program. `tables` is the final row count of each derived
  * table after the whole capture is ingested; `transformRows` is what each
  * [[graft.operators.F1Transforms]] transform emits over the whole capture
  * in one batch (race control before its cross-batch dedup);
  * `lapsByDriver` counts the laps each driver has completed.
  */
final case class Expected(lines: Long, corrupt: Long, tables: Map[String, Long],
    transformRows: Map[String, Long], lapsByDriver: Map[Int, Int])

/** Seeded generator of a live-timing capture in the py-literal wire format
  * (`['Topic', payload, 'ts']`), shaped like the reference capture:
  *
  *  - compressed topics are the majority (`CarData.z` and `Position.z`
  *    fill every line the sparse topics leave; 20 cars per message). The
  *    sparse topics run on an event-time schedule dense enough that every
  *    micro-batch of a live feed (about 3 s) touches all eight tables, so
  *    triggers do comparable work: a position update every 0.2-0.6 s, a lap
  *    completion, a race-control message every 1-2 s, weather every
  *    1.5-2.5 s, a SessionInfo + DriverList keyframe every 2 s;
  *  - every one of the eight derived tables receives rows: SessionInfo and
  *    DriverList keyframes, TimingData position updates and lap
  *    completions (with their TimingAppData speed-trap line), weather,
  *    both RaceControlMessages payload shapes (list and dict), car data and
  *    car positions;
  *  - race-control messages are re-sent identically now and then (repeated
  *    message ids), weather carries junk values, about 0.5% of lines are
  *    malformed, and about 2% of lines carry a timestamp that is late
  *    against its neighbours;
  *  - keyed values are final once published, as on the live feed: a
  *    keyframe repeat is byte-identical, a lap's TimingData and
  *    TimingAppData lines sit in the same file, and a re-sent race-control
  *    message is identical. So the final tables do not depend on how files
  *    are grouped into micro-batches.
  *
  * Event timestamps are a fixed epoch plus each line's scheduled offset, so
  * a seed gives byte-identical files whatever the wall clock. Files must be
  * taken in order ([[next]]); the generator is stateful across files.
  */
final class Capture(seed: Long) {
  import Capture._

  private val rnd = new scala.util.Random(seed)
  private var fileIndex = 0
  private var lineCount = 0L
  private var corrupt = 0L
  private var telemetry = 0L
  private var carPositions = 0L
  private var positions = 0L
  private var weather = 0L
  private var laps = 0L
  private var rcMessages = 0L
  private val rcIds = mutable.HashSet.empty[String]
  private val rcSent = mutable.ArrayBuffer.empty[String]
  private var rcSeq = 0
  private val lapsDone = Array.fill(Drivers.length)(0)
  private var nextLapDriver = 0
  private val sessionKey = 9000 + (seed & 0x3ff).toInt

  // event-time schedule of the sparse topics; car data and positions fill
  // every other slot, as on the live feed
  private var nextKeyframeAt = 0L
  private var nextLapAt = 0L
  private var nextTimingAt = 0L
  private var nextWeatherAt = 0L
  private var nextRaceControlAt = 0L

  private var clockMs = 0L

  /** The next file: `linesPerFile` lines spread over `fileIntervalMs` of
    * event time, due when the previous file's interval ends.
    */
  def next(linesPerFile: Int, fileIntervalMs: Long): CaptureFile = {
    require(linesPerFile >= 8, "a file needs room for its header lines")
    val i = fileIndex
    fileIndex += 1
    val base = clockMs
    clockMs += fileIntervalMs
    val out = mutable.ArrayBuffer.empty[String]
    def at(): Long = base + out.length * fileIntervalMs / linesPerFile
    // the first two files carry every topic, so a warm-up on them touches
    // every table
    if (base >= nextKeyframeAt) {
      out += sessionInfo(); out += driverList(); nextKeyframeAt = base + KeyframeMs
    }
    if (i < 2) {
      out += weatherLine(at()); out += raceControlLine(at()); out ++= lapCompletion(at())
    }
    while (out.length < linesPerFile) {
      val t = at()
      if (t >= nextLapAt && out.length + 2 <= linesPerFile) {
        out ++= lapCompletion(t); nextLapAt = t + 1000 + rnd.nextInt(1000)
      } else if (t >= nextTimingAt) {
        out += timingPositions(t); nextTimingAt = t + 200 + rnd.nextInt(400)
      } else if (t >= nextWeatherAt) {
        out += weatherLine(t); nextWeatherAt = t + 1500 + rnd.nextInt(1000)
      } else if (t >= nextRaceControlAt) {
        out += raceControlLine(t); nextRaceControlAt = t + 1000 + rnd.nextInt(1000)
      } else {
        val r = rnd.nextDouble()
        if (r < 0.005) out += malformed()
        else if (r < 0.5) out += carData(t)
        else out += positionZ(t)
      }
    }
    lineCount += out.length
    CaptureFile(f"c$i%06d.txt", base, out.toIndexedSeq)
  }

  /** Tallies over every file taken so far. */
  def expected: Expected = {
    val tables = Map(
      "sessions" -> 1L, "drivers" -> Drivers.length.toLong, "lap_data" -> laps,
      "positions" -> positions, "telemetry" -> telemetry,
      "car_positions" -> carPositions, "race_control" -> rcIds.size.toLong,
      "weather" -> weather)
    Expected(lineCount, corrupt, tables, tables.updated("race_control", rcMessages),
      Drivers.zip(lapsDone).filter(_._2 > 0).toMap)
  }

  private def line(topic: String, payload: String, offsetMs: Long): String = {
    // a late event: its own timestamp trails its neighbours by 0.5-3 s
    val ts = if (rnd.nextDouble() < 0.02) offsetMs - 500 - rnd.nextInt(2500) else offsetMs
    s"['$topic', $payload, '${stamp(ts)}']"
  }

  private val sessionInfoLine =
    s"['SessionInfo', {'Meeting': {'Key': ${sessionKey / 10}, 'Name': 'Bench Grand Prix', " +
      "'Location': 'Benchville', 'Country': {'Key': 7, 'Code': 'BEN', 'Name': 'Benchland'}, " +
      s"'Circuit': {'Key': 3, 'ShortName': 'Bench Ring'}}, 'Key': $sessionKey, " +
      "'Type': 'Race', 'Name': 'Race', 'StartDate': '2025-05-25T13:00:00', " +
      s"'EndDate': '2025-05-25T15:00:00', 'GmtOffset': '02:00:00', '_kf': True}, '${stamp(0)}']"

  private val driverListLine = Drivers.zipWithIndex.map { case (d, i) =>
    s"'$d': {'RacingNumber': '$d', 'Tla': '${tla(i)}', 'Name': '${tla(i)} DRIVER$d', " +
      s"'FirstName': 'First$d', 'LastName': 'Driver$d', 'TeamName': 'Team ${i / 2}', " +
      s"'TeamColour': '${f"${(i * 1234567) & 0xffffff}%06X"}', 'Line': ${i + 1}}"
  }.mkString("['DriverList', {", ", ", s"}, '${stamp(0)}']")

  // keyframes are byte-identical repeats: a later copy changes nothing
  private def sessionInfo(): String = sessionInfoLine
  private def driverList(): String = driverListLine

  private def carData(t: Long): String = {
    val n = 1 + rnd.nextInt(2)
    telemetry += n.toLong * Drivers.length
    val entries = (0 until n).map { e =>
      Drivers.map { d =>
        s""""$d": {"Channels": {"0": ${8000 + rnd.nextInt(4500)}, "2": ${80 + rnd.nextInt(260)}, """ +
          s""""3": ${1 + rnd.nextInt(8)}, "4": ${rnd.nextInt(101)}, "5": ${if (rnd.nextInt(5) == 0) 100 else 0}, """ +
          s""""45": ${if (rnd.nextInt(4) == 0) 12 else 8}}}"""
      }.mkString(s"""{"Utc": "${stamp(t + e * 120)}", "Cars": {""", ", ", "}}")
    }.mkString("""{"Entries": [""", ", ", "]}")
    line("CarData.z", s"'${Fixtures.deflateB64(entries)}'", t)
  }

  private def positionZ(t: Long): String = {
    val snaps = 1 + rnd.nextInt(2)
    carPositions += snaps.toLong * Drivers.length
    val body = (0 until snaps).map { s =>
      Drivers.map { d =>
        val status = if (rnd.nextInt(40) == 0) "InPit" else "OnTrack"
        s""""$d": {"Status": "$status", "X": ${rnd.nextInt(16000) - 8000}, """ +
          s""""Y": ${rnd.nextInt(16000) - 8000}, "Z": ${rnd.nextInt(200)}}"""
      }.mkString(s"""{"Timestamp": "${stamp(t + s * 220)}", "Entries": {""", ", ", "}}")
    }.mkString("""{"Position": [""", ", ", "]}")
    line("Position.z", s"'${Fixtures.deflateB64(body)}'", t)
  }

  private def timingPositions(t: Long): String = {
    val n = 1 + rnd.nextInt(3)
    positions += n
    val start = rnd.nextInt(Drivers.length)
    val lines = (0 until n).map { k =>
      val d = Drivers((start + k) % Drivers.length)
      s"'$d': {'Position': '${1 + rnd.nextInt(Drivers.length)}'}"
    }
    line("TimingData", lines.mkString("{'Lines': {", ", ", "}}"), t)
  }

  /** A lap completion: the TimingData delta and the TimingAppData line for
    * the same (driver, lap), adjacent in one file.
    */
  private def lapCompletion(t: Long): Seq[String] = {
    val di = nextLapDriver
    nextLapDriver = (nextLapDriver + 1) % Drivers.length
    lapsDone(di) += 1
    laps += 1
    positions += 1
    val d = Drivers(di)
    val lap = lapsDone(di)
    def sector: String = f"${25 + rnd.nextInt(10)}.${rnd.nextInt(1000)}%03d"
    val speed = 290 + rnd.nextInt(45)
    val timing = s"{'Lines': {'$d': {'Position': '${1 + di}', 'NumberOfLaps': $lap, " +
      s"'InPit': False, 'Sector1Time': {'Value': '$sector'}, 'Sector2Time': {'Value': '$sector'}, " +
      s"'Sector3Time': {'Value': '$sector'}, " +
      s"'LastLapTime': {'Value': '1:${f"${30 + rnd.nextInt(10)}%02d.${rnd.nextInt(1000)}%03d"}', " +
      s"'PersonalFastest': ${rnd.nextBoolean().toString.capitalize}}, " +
      s"'BestSpeed': {'Value': '$speed'}}}}"
    val app = s"{'Lines': {'$d': {'NumberOfLaps': $lap, 'SpeedTrap': {'Value': '$speed'}}}}"
    Seq(line("TimingData", timing, t), line("TimingAppData", app, t))
  }

  private def weatherLine(t: Long): String = {
    weather += 1
    def num(lo: Int, span: Int): String = f"${lo + rnd.nextInt(span * 10) / 10.0}%.1f"
    val air = if (rnd.nextInt(20) == 0) "" else num(18, 12)
    val humidity = if (rnd.nextInt(20) == 0) "n/a" else num(30, 40)
    val rain = if (rnd.nextInt(10) == 0) "true" else "0"
    line("WeatherData", s"{'AirTemp': '$air', 'Humidity': '$humidity', " +
      s"'Pressure': '${num(1002, 10)}', 'Rainfall': '$rain', 'TrackTemp': '${num(30, 20)}', " +
      s"'WindDirection': '${rnd.nextInt(360)}', 'WindSpeed': '${num(0, 5)}'}", t)
  }

  private def raceControlLine(t: Long): String = {
    rcMessages += 1
    if (rcSent.nonEmpty && rnd.nextInt(4) == 0)
      // re-sent message: identical payload, so identical id
      return line("RaceControlMessages", rcSent(rnd.nextInt(rcSent.length)), t)
    rcSeq += 1
    val utc = stampSeconds(t)
    val d = Drivers(rnd.nextInt(Drivers.length))
    val payload =
      if (rnd.nextBoolean()) {
        val sector = 1 + rnd.nextInt(20)
        val msg = s"YELLOW IN TRACK SECTOR $sector"
        rcIds += s"$utc|$msg"
        s"{'Messages': [{'Utc': '$utc', 'Category': 'Flag', 'Flag': 'YELLOW', " +
          s"'Scope': 'Sector', 'Sector': $sector, 'Message': '$msg'}]}"
      } else {
        val id = rcSeq.toString
        rcIds += id
        s"{'Messages': {'$id': {'Utc': '$utc', 'Category': 'Other', 'Scope': 'Driver', " +
          s"'Message': 'CAR $d TRACK LIMITS AT TURN ${1 + rnd.nextInt(19)}', " +
          s"'RacingNumber': '$d', 'Lap': ${1 + rnd.nextInt(70)}}}}"
      }
    rcSent += payload
    line("RaceControlMessages", payload, t)
  }

  private def malformed(): String = {
    corrupt += 1
    if (rnd.nextBoolean()) s"['WeatherData', {'AirTemp': '${rnd.nextInt(40)}."
    else s"this is not an event line ${rnd.nextInt(1000000)}"
  }
}

object Capture {
  val KeyframeMs = 2000L

  /** Event-time origin of every capture. */
  val Epoch: Instant = Instant.parse("2025-05-25T13:00:00Z")

  val Drivers: IndexedSeq[Int] =
    IndexedSeq(1, 4, 10, 11, 14, 16, 18, 22, 23, 24, 27, 31, 44, 55, 63, 77, 81, 2, 3, 20)

  private def tla(i: Int): String =
    Seq(('A' + i).toChar, ('A' + (i * 7) % 26).toChar, ('A' + (i * 11) % 26).toChar).mkString

  private val millisFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  private val secondsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  def stamp(offsetMs: Long): String = millisFormat.format(Epoch.plusMillis(offsetMs))
  private def stampSeconds(offsetMs: Long): String = secondsFormat.format(Epoch.plusMillis(offsetMs))

  /** The first `nFiles` files of the capture for `seed`, and their tallies. */
  def generate(seed: Long, nFiles: Int, linesPerFile: Int,
      fileIntervalMs: Long): (IndexedSeq[CaptureFile], Expected) = {
    val c = new Capture(seed)
    val files = IndexedSeq.fill(nFiles)(c.next(linesPerFile, fileIntervalMs))
    (files, c.expected)
  }
}
