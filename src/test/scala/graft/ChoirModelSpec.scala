package graft

import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, current_timestamp}

import graft.analytics.Alerts
import graft.etl.{DimChorister, DimSong, FactAttendance, FactSongTime, Marts, RawSheet}
import graft.format.AlertMessage

/** A plain-Scala recount of the choir pipeline's order-dependent rules —
  * D1-D5, the X1 override emission, the as-of assignment pick and the alert
  * streak and rate — compared with the engine on seeded random sheets. The
  * sheets repeat names and (name, joined) keys, spell override names
  * differently, have empty-titled songs and mix d.m.yy, d.m.yyyy, ISO and
  * serial headers with a non-date column. Cells come from small
  * vocabularies whose trimming and number parsing agree between Scala and
  * Spark, so the model needs no Spark semantics beyond the rules themselves.
  */
class ChoirModelSpec extends SparkSpec {

  private val Names = Seq("Anna A", " Anna A", "Boris B", "Иван И", "Ольга О",
    "Мария Дидуренко", "мария  дидуренко", "ПОЛИНА КАЛАЧ", "Митя Чернаков!")
  private val Tags = Seq("Alto", "Soprano", "Tenor", "Bass", "exTenor", "ex-Alto", "EX_bass")
  private val Titles = Seq("Gloria", "Ave", "", "Gloria", " Ave ", "Credo")
  private val Hours = Seq("", "", "1", "2,5", "1.5", "0")
  private val Minutes = Seq("", "", "10", "2,5", "x", "30")

  final case class Sheet(header: Seq[String], rows: Seq[Seq[String]], dates: Seq[(String, LocalDate)])

  private def dmyy(d: LocalDate) = f"${d.getDayOfMonth}%d.${d.getMonthValue}%d.${d.getYear % 100}%02d"

  private def sheet(rnd: Random): Sheet = {
    val base = LocalDate.of(2024, 6, 2).plusWeeks(rnd.nextInt(20).toLong)
    val days = (0 until 2 + rnd.nextInt(4)).map(i => base.plusWeeks(i.toLong))
    val headers = days.map { d =>
      rnd.nextInt(4) match {
        case 0 => dmyy(d)
        case 1 => f"${d.getDayOfMonth}%d.${d.getMonthValue}%d.${d.getYear}%d"
        case 2 => d.toString
        case _ => (d.toEpochDay - LocalDate.of(1899, 12, 30).toEpochDay).toString
      }
    }
    val notes = if (rnd.nextBoolean()) Seq("notes") else Nil
    val joinedPool = "" +: Seq(-1, 0, 1, 2).map(w => dmyy(base.plusWeeks(w.toLong)))
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    val rows = (0 until 4 + rnd.nextInt(10)).map { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => Seq("Song", "", "", pick(Titles)) ++ (headers ++ notes).map(_ => pick(Minutes))
        case 3 => Seq(pick(Seq("", "Alto")), "", "", pick(Seq("", "Ghost"))) ++ (headers ++ notes).map(_ => "1")
        case _ => Seq(pick(Tags), pick(joinedPool), pick(Seq("", "@t")), pick(Names)) ++
            headers.map(_ => pick(Hours)) ++ notes.map(_ => "n")
      }
    }
    Sheet(Seq("Tag", "Joined", "tgid", "Who") ++ headers ++ notes, rows, headers.zip(days))
  }

  // ---- the model -------------------------------------------------------------

  private def trim(s: String) = if (s == null) "" else s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
  private def norm(s: String) =
    trim(s).toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", "_").replaceAll("[^\\p{L}\\p{N}_]+", "")
  private def voicePart(tag: String) = {
    val t = trim(tag)
    val v = if (t.toLowerCase.startsWith("ex")) t.substring(2).replaceAll("^[ \\-_]+", "") else t
    trim(v).toLowerCase
  }
  private def num(s: String): Option[Double] =
    if (trim(s).isEmpty) None else scala.util.Try(trim(s).replace(',', '.').toDouble).toOption
  private def iso(dmy: String): String =
    if (dmy.isEmpty) "" else {
      val Array(d, m, y) = dmy.split("\\.").map(_.toInt)
      LocalDate.of(2000 + y, m, d).toString
    }

  final case class Chor(idx: Long, tag: String, joined: String, tgid: String, name: String,
      cells: Seq[String]) {
    val norm: String = ChoirModelSpec.this.norm(name)
  }
  final case class Asg(id: String, cid: String, part: String, active: String, from: String,
      to: String, ord: Long)

  final class Model(s: Sheet) {
    private val rows = s.rows.zipWithIndex.map { case (r, i) => (i.toLong, r) }
    val chors: Seq[Chor] = rows.collect {
      case (i, r) if trim(r(0)).nonEmpty && trim(r(0)) != "Song" && trim(r(3)).nonEmpty =>
        Chor(i, trim(r(0)), trim(r(1)), trim(r(2)), trim(r(3)), r.drop(4))
    }
    // D1: the k-th row of a name (k > 1) is "name | joined"
    val id: Map[Long, String] = chors.groupBy(_.name).values.flatMap { g =>
      g.sortBy(_.idx).zipWithIndex.map { case (c, k) =>
        c.idx -> (if (k == 0) c.name else s"${c.name} | ${c.joined}")
      }
    }.toMap
    // D4: the last row of a (name, joined) key names the key
    val keyed: Map[(String, String), String] =
      chors.groupBy(c => (c.name, c.joined)).map { case (k, g) => k -> id(g.maxBy(_.idx).idx) }
    // D3: the first row of a normalized name
    val normId: Map[String, String] = chors.groupBy(_.norm).map { case (n, g) => n -> id(g.minBy(_.idx).idx) }

    val dimChorister: Seq[Seq[Any]] = chors.map(c => Seq(id(c.idx), c.tgid, c.name, c.joined))

    // X1: an override history replaces the derived row of every row of its name
    val assignments: Seq[Asg] = chors.flatMap { c =>
      val hist = DimChorister.Overrides.filter(_._1 == c.norm)
      if (hist.isEmpty) {
        val cid = keyed((c.name, c.joined))
        Seq(Asg(s"$cid | ${voicePart(c.tag)} | ${c.joined}", cid, voicePart(c.tag),
          if (c.tag.toLowerCase.startsWith("ex")) "FALSE" else "TRUE", c.joined, "", c.idx * 10))
      } else hist.map { case (_, ord, part, from, to) =>
        val cid = normId(c.norm)
        Asg(s"$cid | $part | $from", cid, part, "TRUE", from, to, c.idx * 10 + ord)
      }
    }

    // D2 + D5: titled Song rows get suffixed ids; the k-th Song row (titled
    // or not) takes the k-th id
    private val songs = rows.filter(r => trim(r._2(0)) == "Song")
    val dimSong: Seq[Seq[Any]] = {
      val titled = songs.filter(r => trim(r._2(3)).nonEmpty)
      titled.zipWithIndex.map { case ((i, r), k) =>
        val title = trim(r(3))
        val n = titled.take(k + 1).count(x => trim(x._2(3)) == title)
        Seq(if (n == 1) title else s"$title ($n)", title, k + 1, i)
      }
    }
    val factSongTime: Seq[Seq[Any]] = {
      val heads = s.header.drop(4).zipWithIndex.filter(_._1.trim.nonEmpty)
      songs.zip(dimSong.map(_.head)).flatMap { case ((_, r), sid) =>
        heads.flatMap { case (h, j) => num(r(4 + j)).map(m => Seq(h, sid, m)) }
      }
    }
    val factAttendance: Seq[Seq[Any]] = chors.flatMap { c =>
      s.dates.zipWithIndex.map { case ((_, day), j) =>
        val cell = trim(c.cells(j))
        if (cell.isEmpty) Seq(day.toString, keyed((c.name, c.joined)), 0.0, 1)
        else Seq(day.toString, keyed((c.name, c.joined)), num(cell).get, 0)
      }
    }

    /** The as-of pick: valid on `date`, then latest valid_from, lowest
      * ordinal, voice part, valid_to. */
    def asOf(cid: String, date: String, withOrd: Boolean): Option[Asg] = {
      def key(a: Asg) = (iso(a.from), if (withOrd) a.ord else 0L, a.part, iso(a.to))
      assignments.filter(a => trim(a.cid) == cid && iso(a.from) != "" && date >= iso(a.from) &&
          !(a.to != "" && iso(a.to) != "" && date > iso(a.to)))
        .sortWith { (a, b) =>
          val ((fa, oa, pa, ta), (fb, ob, pb, tb)) = (key(a), key(b))
          if (fa != fb) fa > fb else if (oa != ob) oa < ob else if (pa != pb) pa < pb else ta < tb
        }
        .headOption
    }

    /** mart_attendance as (date, cid, full_name, joined, voice, tgid, active,
      * hours, attended, missed, available). */
    def mart(withOrd: Boolean): Seq[Seq[Any]] = factAttendance.map {
      case Seq(date: String, keyedId: String, hours: Double, missed: Int) =>
        // the marts read ids trimmed: "name | " of an empty joined date
        val cid = trim(keyedId)
        // the last stored row of the id; without ordinals, the greatest
        val dim = chors.filter(c => trim(id(c.idx)) == cid)
          .maxByOption(c => if (withOrd) (c.idx, "", "", "") else (0L, c.name, c.tgid, c.joined))
        val joined = dim.map(c => iso(c.joined)).getOrElse("")
        val a = asOf(cid, date, withOrd)
        Seq(date, cid, dim.map(_.name).getOrElse(""), joined, a.map(_.part).getOrElse(""),
          dim.map(_.tgid).getOrElse(""), a.exists(_.active == "TRUE"), hours,
          if (hours > 0) 1 else 0, missed, if (joined != "" && date >= joined) 1 else 0)
    }
  }

  /** The alert of a mart: violators (cid, name, voice, tgid, last attended,
    * streak, missed dates) in id order and the rate. */
  private def alertModel(mart: Seq[Seq[Any]], weeks: Int, threshold: Int)
      : (Seq[Seq[Any]], Option[Double]) = {
    val avail = mart.filter(_(10) == 1)
    if (avail.isEmpty) return (Nil, None)
    val start = LocalDate.parse(avail.map(_(0).toString).max).minusDays(7L * weeks).toString
    val inWin = avail.filter(_(0).toString >= start)
    val violators = inWin.groupBy(_(1).toString).toSeq.sortBy(_._1).flatMap { case (cid, rs) =>
      val desc = rs.sortBy(_(0).toString).reverse
      val streak = desc.takeWhile(r => !(r(8) == 1 || r(9) == 0))
      val latest = desc.head
      val last = avail.filter(r => r(1) == cid && r(8) == 1).map(_(0).toString).maxOption
      def dash(v: Any) = if (v == "") "—" else v
      if (latest(6) == true && streak.size >= threshold)
        Some(Seq(cid, dash(latest(2)), dash(latest(4)), latest(5), last.orNull,
          streak.size.toLong, streak.take(10).map(_(0).toString)))
      else None
    }
    (violators, Some(inWin.count(_(8) == 1).toDouble / inWin.size))
  }

  private def rowsOf(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))
  private def sorted(xs: Seq[Seq[Any]]) = xs.sortBy(_.mkString("\u0001"))

  test("the engine equals the plain-Scala recount on 24 seeded random sheets") {
    val now = current_timestamp()
    for (seed <- 1 to 24) {
      val rnd = new Random(seed)
      val s = sheet(rnd)
      val m = new Model(s)
      val raw = RawSheet.fromRows(spark, s.header, s.rows)
      val dim = DimChorister.build(raw, now)
      val asg = DimChorister.buildAssignments(raw)
      val facts = FactAttendance.build(raw, now)
      val clue = s"seed $seed: ${s.header} ${s.rows}"
      assert(rowsOf(dim, "chorister_id", "tgid", "full_name", "joined_date") ===
        sorted(m.dimChorister), s"dim_chorister, $clue")
      assert(rowsOf(asg, "assignment_id", "chorister_id", "voice_part", "is_active",
          "valid_from", "valid_to", "asg_ord") ===
        sorted(m.assignments.map(a => Seq(a.id, a.cid, a.part, a.active, a.from, a.to, a.ord))),
        s"dim_chorister_assignment, $clue")
      assert(rowsOf(DimSong.build(raw, now), "song_id", "song_name", "seq_idx", "src_ord") ===
        sorted(m.dimSong), s"dim_song, $clue")
      assert(rowsOf(facts, "rehearsal_date", "chorister_id", "hours_attended", "missed_flag") ===
        sorted(m.factAttendance), s"fact_attendance, $clue")
      assert(rowsOf(FactSongTime.build(raw, now), "rehearsal_date", "song_id", "minutes_spent") ===
        sorted(m.factSongTime), s"fact_song_time, $clue")

      val martCols = Seq("rehearsal_date", "chorister_id", "full_name", "joined_date",
        "voice_part", "tgid", "is_active", "hours_attended", "attended_flag", "missed_flag",
        "available_flag")
      val martAll = Marts.martAttendance(dim, asg, facts)
      assert(rowsOf(martAll, martCols: _*) === sorted(m.mart(withOrd = true)), s"mart_attendance, $clue")
      // frames without the stored ordinals: equal valid_from ties fall
      // through to voice part and valid_to
      // through to voice part and valid_to (is_active is left out: rows equal
      // in all four keys may differ in it, and then either may win)
      assert(rowsOf(Marts.martAttendance(dim.drop("src_ord"), asg.drop("asg_ord"), facts),
          martCols.filterNot(_ == "is_active"): _*) ===
        sorted(m.mart(withOrd = false).map(r => r.take(6) ++ r.drop(7))),
        s"mart without ordinals, $clue")

      // the alerts over choristers with one row per date: rows that share a
      // (chorister, date) (two rows of one key) have no order among them
      val modelMart = m.mart(withOrd = true)
      val single = modelMart.groupBy(_(1)).collect {
        case (cid, rs) if rs.map(_(0)).distinct.size == rs.size => cid.toString
      }.toSeq
      val mart = martAll.filter(col("chorister_id").isin(single: _*))
      val weeks = 1 + rnd.nextInt(3)
      val threshold = 1 + rnd.nextInt(3)
      val (violators, rate) =
        alertModel(modelMart.filter(r => single.contains(r(1))), weeks, threshold)
      val streaks = Alerts.currentMissedStreaks(mart, weeks, threshold).collect()
        .map(r => r.toSeq.init :+ r.getSeq[String](6)).toSeq
      assert(streaks === violators, s"streaks, weeks $weeks, threshold $threshold, $clue")
      val rateRows = Alerts.attendanceRateFrame(mart, weeks).collect()
      assert(rateRows.headOption.map(_.getAs[Double]("rate")) === rate, s"rate, $clue")
      val (vs, r) = AlertMessage.fromSummary(Alerts.summary(mart, weeks).collect().toSeq, threshold)
      assert(r === rate, s"summary rate, $clue")
      assert(vs.map(v => (v.fullName, v.streakLen, v.missedDates, v.lastAttendedDate)) ===
        violators.map(v => (v(1), v(5), v(6), Option(v(4)))), s"summary violators, $clue")
    }
  }
}
