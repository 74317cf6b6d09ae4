package graft.format

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side alert formatting and delivery — capability source
  * /root/reference/etl/alerts.py:177-230 (X4 + S8). The analytics stay
  * distributed ([[graft.analytics.Alerts.summary]]); the collected summary,
  * at most one row per chorister, becomes the violator list and the rate
  * here.
  */
object AlertMessage {

  /** One violator, as in a row of Alerts.currentMissedStreaks. */
  final case class Violator(
      fullName: String,
      voicePart: String,
      streakLen: Long,
      missedDates: Seq[String] = Seq.empty,
      lastAttendedDate: Option[String] = None,
      tgid: String = "")

  val DashboardUrl: String =
    "https://lookerstudio.google.com/reporting/0a0ee2af-cb64-42ca-bc16-c312a3d27f1e" +
      "/page/p_v5isym300d/edit?s=hs0hEMSZUdg"

  /** The violators among collected [[graft.analytics.Alerts.summary]] rows
    * (active, streak >= threshold) in chorister_id order — Spark's binary
    * string order, as Alerts.currentMissedStreaks sorts — and the
    * attendance rate over all of them (None when no row is in the window). */
  def fromSummary(rows: Seq[Row], streakThreshold: Int): (Seq[Violator], Option[Double]) = {
    val violators = rows
      .filter(r => Option(r.getAs[java.lang.Boolean]("is_active")).contains(true) &&
        r.getAs[Long]("streak_len") >= streakThreshold)
      .sortBy(r => UTF8String.fromString(r.getAs[String]("chorister_id")))
      .map { r =>
        Violator(
          fullName = r.getAs[String]("full_name"),
          voicePart = r.getAs[String]("voice_part"),
          streakLen = r.getAs[Long]("streak_len"),
          missedDates = r.getSeq[String](r.fieldIndex("missed_dates")),
          lastAttendedDate = Option(r.getAs[String]("last_attended_date")),
          tgid = r.getAs[String]("tgid"))
      }
    val available = rows.map(_.getAs[Long]("n_available")).sum
    val attended = rows.map(_.getAs[Long]("n_attended")).sum
    (violators, if (available > 0) Some(attended.toDouble / available) else None)
  }

  /** Reference `format_alert_message` (alerts.py:177-214), 1:1 including the
    * Russian text, emoji thresholds (🔴 < 50%, 🟡 <= 65%, 🟢 else), numbered
    * violator lines with `@tgid` mentions, and the dashboard link. Percent
    * uses banker's rounding like Python's round().
    */
  def format(
      violators: Seq[Violator],
      lookbackWeeks: Int,
      streakThreshold: Int = 3,
      attendanceRate: Option[Double] = None): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    attendanceRate.foreach { rate =>
      val pct = BigDecimal(rate * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toInt
      val icon = if (pct < 50) "🔴" else if (pct <= 65) "🟡" else "🟢"
      parts += s"$icon Доходимость до репетиций (за последние $lookbackWeeks недели): $pct%"
      parts += ""
    }
    if (violators.isEmpty) {
      parts += s"✅ Нет хористов с пропусками $streakThreshold+ подряд (за последние $lookbackWeeks недели)."
    } else {
      parts += s"⚠️ Хористы с $streakThreshold+ пропусками подряд (за последние $lookbackWeeks недели):"
      parts += ""
      violators.zipWithIndex.foreach { case (v, i) =>
        val name = if (v.fullName.isEmpty) "—" else v.fullName
        val part = if (v.voicePart.isEmpty) "—" else v.voicePart
        val lastAtt = v.lastAttendedDate.filter(_.nonEmpty).getOrElse("—")
        val tgid = v.tgid.trim.dropWhile(_ == '@')
        val mention = if (tgid.nonEmpty) s"@$tgid" else "—"
        parts += s"${i + 1}. $name ($part) — пропусков: ${v.streakLen}, последняя явка: $lastAtt, $mention"
      }
    }
    parts += ""
    parts += s"""<a href="$DashboardUrl">Ссылка на дашборд</a>"""
    parts.mkString("\n")
  }
}
