package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.analytics.Alerts
import graft.format.{AlertMessage, ConsoleAlertSink, Json}
import graft.format.AlertMessage.Violator

/** The reference's 13 alert unit tests ported 1:1
  * (/root/reference/tests/test_alerts.py:39-174), same fixtures, same
  * expectations, driven through the DataFrame analytics instead of Python
  * dict lists.
  */
class AlertsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("rehearsal_date", StringType),
    StructField("chorister_id", StringType),
    StructField("full_name", StringType),
    StructField("voice_part", StringType),
    StructField("tgid", StringType),
    StructField("missed_flag", IntegerType),
    StructField("attended_flag", IntegerType),
    StructField("available_flag", IntegerType),
    StructField("is_active", IntegerType)))

  /** Mirror of tests/test_alerts.py:15-36 `_mart_row`. */
  private def martRow(
      rehearsalDate: String,
      choristerId: String,
      fullName: String,
      voicePart: String,
      missedFlag: Int,
      attendedFlag: Int,
      availableFlag: Int = 1,
      isActive: Int = 1,
      tgid: String = ""): Row =
    Row(rehearsalDate, choristerId, fullName, voicePart, tgid,
      missedFlag, attendedFlag, availableFlag, isActive)

  private def mart(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(4, rows.size))), schema)

  private def weeksAgo(w: Int): LocalDate = LocalDate.now().minusDays(7L * w)

  // -- compute_current_missed_streak (test_alerts.py:39-110) -----------------

  test("empty mart returns empty") {
    val out = Alerts.currentMissedStreaks(mart(Seq.empty), 12, 3)
    assert(out.count() === 0)
  }

  test("3+ misses at end, active: included with streak and dates") {
    val base = weeksAgo(4)
    val rows = (0 until 5).map(i =>
      martRow(base.plusWeeks(i).toString, "c1", "Иван", "Bass", 1, 0))
    val out = Alerts.currentMissedStreaks(mart(rows), 12, 3).collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("full_name") === "Иван")
    assert(out(0).getAs[Long]("streak_len") === 5L)
    assert(out(0).getAs[Seq[String]]("missed_dates").length === 5)
  }

  test("attended at last rehearsal: not included") {
    val base = weeksAgo(4)
    val rows = (0 until 5).map { i =>
      val missed = if (i < 4) 1 else 0
      val attended = if (i < 4) 0 else 1
      martRow(base.plusWeeks(i).toString, "c1", "Иван", "Bass", missed, attended)
    }
    assert(Alerts.currentMissedStreaks(mart(rows), 12, 3).count() === 0)
  }

  test("inactive chorister: not included") {
    val base = weeksAgo(2)
    val rows = (0 until 4).map(i =>
      martRow(base.plusWeeks(i).toString, "c1", "Иван", "Bass", 1, 0,
        availableFlag = 1, isActive = 0))
    assert(Alerts.currentMissedStreaks(mart(rows), 12, 3).count() === 0)
  }

  test("available_flag=0 rows ignored: streak shortens 6 -> 4") {
    val base = weeksAgo(2)
    val rows = (0 until 6).map { i =>
      val avail = if (i < 2) 0 else 1
      martRow(base.plusWeeks(i).toString, "c1", "Иван", "Bass", 1, 0, avail)
    }
    val out = Alerts.currentMissedStreaks(mart(rows), 12, 3).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("streak_len") === 4L)
  }

  test("missed_dates capped at 10 while streak_len counts all 12") {
    val base = weeksAgo(12)
    val rows = (0 until 12).map(i =>
      martRow(base.plusWeeks(i).toString, "c1", "Иван", "Bass", 1, 0))
    val out = Alerts.currentMissedStreaks(mart(rows), 12, 3).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("streak_len") === 12L)
    assert(out(0).getAs[Seq[String]]("missed_dates").length === 10)
  }

  // -- compute_attendance_rate (test_alerts.py:113-133) ----------------------

  test("rate: empty returns None") {
    assert(Alerts.attendanceRate(mart(Seq.empty), 5) === None)
  }

  test("rate in window: 8/12") {
    val base = weeksAgo(3)
    val rows = for {
      i <- 0 until 4
      (cid, attended) <- Seq(("c1", 1), ("c2", 1), ("c3", 0))
    } yield martRow(base.plusWeeks(i).toString, cid, "", "", 1 - attended, attended)
    val rate = Alerts.attendanceRate(mart(rows), 5)
    assert(rate.isDefined)
    assert(math.abs(rate.get - 8.0 / 12.0) < 1e-9)
  }

  // -- format_alert_message (test_alerts.py:136-174) -------------------------

  test("no violators: success message") {
    val msg = AlertMessage.format(Seq.empty, lookbackWeeks = 12, streakThreshold = 3)
    assert(msg.contains("Нет хористов"))
    assert(msg.contains("3+ подряд"))
    assert(msg.contains("12 недел"))
  }

  test("violators: numbered list with part, streak, last attendance, mention") {
    val violators = Seq(Violator(
      fullName = "Иван", voicePart = "Bass", streakLen = 4,
      missedDates = Seq.empty, lastAttendedDate = Some("2025-02-01"),
      tgid = "ivan_choir"))
    val msg = AlertMessage.format(violators, lookbackWeeks = 12, streakThreshold = 3)
    assert(msg.contains("3+ пропусками"))
    assert(msg.contains("1. Иван (Bass)"))
    assert(msg.contains("пропусков: 4"))
    assert(msg.contains("последняя явка: 2025-02-01"))
    assert(msg.contains("@ivan_choir"))
  }

  test("attendance rate in message: 85% green") {
    val msg = AlertMessage.format(Seq.empty, lookbackWeeks = 5,
      streakThreshold = 3, attendanceRate = Some(0.85))
    assert(msg.contains("Доходимость до репетиций"))
    assert(msg.contains("85%"))
    assert(msg.contains("🟢"))
  }

  test("attendance rate in message: 0% red") {
    val msg = AlertMessage.format(
      Seq(Violator("X", "Y", 3)), lookbackWeeks = 5,
      streakThreshold = 3, attendanceRate = Some(0.0))
    assert(msg.contains("Доходимость до репетиций"))
    assert(msg.contains("0%"))
    assert(msg.contains("🔴"))
  }

  // -- end-to-end bridge ------------------------------------------------------

  test("collectViolators round-trips the streak frame") {
    val base = weeksAgo(4)
    val rows = (0 until 5).map(i =>
      martRow(base.plusWeeks(i).toString, "c1", "Иван", "Bass", 1, 0,
        tgid = "@ivan"))
    val vs = AlertMessage.collectViolators(
      Alerts.currentMissedStreaks(mart(rows), 12, 3))
    assert(vs === Seq(Violator("Иван", "Bass", 5L,
      (0 until 5).map(i => base.plusWeeks(4 - i).toString),
      None, "@ivan")))
    val msg = AlertMessage.format(vs, 12, 3, Some(0.6))
    assert(msg.contains("🟡") && msg.contains("1. Иван (Bass)") && msg.contains("@ivan"))
  }

  // -- building blocks --------------------------------------------------------

  test("flagOf dispatches on the column type: boolean, numeric non-zero, string 1/TRUE/YES") {
    import spark.implicits._
    val df = Seq[(Boolean, Option[Int], Double, String)](
      (true, Some(-3), 0.5, " yes "),
      (false, Some(0), 0.0, "2"),
      (false, None, 2.0, null)).toDF("b", "i", "d", "s")
    val got = df.select(Seq("b", "i", "d", "s").map(Alerts.flagOf(df, _)): _*).collect()
      .map(r => (0 until 4).map(r.getInt)).toSeq
    assert(got === Seq(Seq(1, 1, 1, 1), Seq(0, 0, 0, 0), Seq(0, 0, 1, 0)))
  }

  test("normalizeAvailable: unavailable and date-less rows dropped, dates sliced, strings trimmed") {
    val rows = Seq(
      Row(" 2024-06-16T19:00 ", " c1 ", " Анна ", " Alto ", null, 1, 0, 1, 1),
      Row("2024-06-23", "c1", "Анна", "Alto", "", 0, 1, 0, 1),
      Row("", "c2", "Иван", "Bass", "", 1, 0, 1, 0),
      Row(null, "c3", "Пётр", "Tenor", "", 1, 0, 1, 1))
    val got = Alerts.normalizeAvailable(mart(rows)).collect()
    assert(got.toSeq === Seq(
      Row("2024-06-16", "c1", "Анна", "Alto", "", 1, 0, true)))
  }

  test("attendanceRateFrame: no row for an empty window, else counts and their ratio") {
    assert(Alerts.attendanceRateFrame(mart(Seq.empty), 5).count() === 0L)
    val base = weeksAgo(2)
    val rows = Seq(
      martRow(base.toString, "c1", "", "", 0, 1),
      martRow(base.toString, "c2", "", "", 1, 0),
      martRow(base.plusWeeks(1).toString, "c1", "", "", 0, 1),
      martRow(base.plusWeeks(1).toString, "c2", "", "", 0, 1, availableFlag = 0),
      // 10 weeks before the newest date: outside a 5-week lookback
      martRow(base.minusWeeks(9).toString, "c2", "", "", 0, 1))
    val frame = Alerts.attendanceRateFrame(mart(rows), 5)
    assert(frame.columns.toSeq === Seq("n_available", "n_attended", "rate"))
    assert(frame.collect().toSeq === Seq(Row(3L, 2L, 2.0 / 3)))
  }

  test("ConsoleAlertSink prints the message between dry-run markers") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(
      ConsoleAlertSink.send("1. Иван (Bass)"))
    assert(out.toString("UTF-8").linesIterator.toSeq ===
      Seq("--- Alert message ---", "1. Иван (Bass)", "---"))
  }

  test("Json.escape: quotes, backslashes and every control character below 0x20 are escaped") {
    assert(Json.escape("a\"b\\c") === "a\\\"b\\\\c")
    assert(Json.escape("\n\r\t") === "\\n\\r\\t")
    assert(Json.escape(s"${1.toChar}${0x1f.toChar}") === "\\u0001\\u001f")
    // DEL and non-ASCII text pass through unchanged
    val plain = s"Привет ✓ ${0x7f.toChar}"
    assert(Json.escape(plain) === plain)
    assert(Json.str("x") === "\"x\"")
  }

  test("Json.str round-trips every ASCII character and non-ASCII text through a JSON parser") {
    val all = (0 until 128).map(_.toChar).mkString + "Привет, хор! ✓"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Json.str(all), classOf[String])
    assert(parsed === all)
  }
}
