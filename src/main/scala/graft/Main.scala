package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Alerts
import graft.etl.{DimChorister, DimSong, FactAttendance, FactSongTime, Marts, RawSheet}
import graft.format.{AlertMessage, AlertSink, ConsoleAlertSink}
import graft.io.TableStore

/** The full ETL lifecycle — capability source /root/reference/etl/main.py:
  * RAW → five curated tables → (read-back barrier) → three marts → optional
  * alerts, with fail-fast-but-always-log semantics (X2/X3, A1):
  *
  *  - each table is written as soon as it is built, sequentially, so a
  *    failure mid-run leaves earlier tables updated exactly like the
  *    reference (main.py:195-282);
  *  - marts re-READ the five written tables instead of reusing the in-memory
  *    frames (main.py:73-108) — a real materialization barrier;
  *  - any failure flips status to "failed" with the first 500 chars of the
  *    error (main.py:295-299); the etl_log row is appended ALWAYS
  *    (main.py:301-347).
  */
object Main {

  final case class AlertConfig(
      enabled: Boolean = false,
      lookbackWeeks: Int = 3,
      streakThreshold: Int = 3,
      sink: AlertSink = ConsoleAlertSink)

  final case class RunResult(
      status: String,
      errorMessage: String,
      counts: Map[String, Long])

  /** The five curated tables in write order, each with its builder over RAW;
    * also the order of the `rows_<name>` columns of `etl_log`. */
  private[graft] val CuratedTables: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dim_chorister" -> DimChorister.build,
    "dim_chorister_assignment" -> DimChorister.buildAssignments,
    "dim_song" -> DimSong.build,
    "fact_attendance" -> (raw => FactAttendance.build(raw, DimChorister.idByKey(raw))),
    "fact_song_time" -> (raw => FactSongTime.build(raw, DimSong.withSeq(raw))))

  /** Build + write the five curated tables, then marts, then alerts.
    * Mirrors main.py:182-299; the etl_log append happens here too, so a
    * single call is one complete reference run. */
  def run(
      spark: SparkSession,
      raw: DataFrame,
      store: TableStore,
      alerts: AlertConfig = AlertConfig()): RunResult = {
    var status = "success"
    var error = ""
    val counts = scala.collection.mutable.LinkedHashMap(
      CuratedTables.map(_._1 -> 0L): _*)

    try {
      CuratedTables.foreach { case (name, build) =>
        counts(name) = store.overwrite(name, build(raw))
      }

      buildMarts(spark, store)

      if (alerts.enabled) runAlerts(spark, store, alerts)
    } catch {
      case NonFatal(e) =>
        status = "failed"
        error = Option(e.getMessage).getOrElse(e.toString).take(500)
    }

    appendLog(spark, store, status, error, counts.toMap)
    RunResult(status, error, counts.toMap)
  }

  /** Mart rebuild from the WRITTEN tables (entry point 2, main.py:73-108).
    * Raises if any required table is missing, like the reference's
    * precondition check. */
  def buildMarts(spark: SparkSession, store: TableStore): Unit = {
    val missing = CuratedTables.map(_._1).filterNot(store.exists)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"Cannot build marts; missing tables: ${missing.mkString(", ")}")
    val dimChorister = store.read("dim_chorister")
    val assignments = store.read("dim_chorister_assignment")
    val dimSong = store.read("dim_song")
    val factAttendance = store.read("fact_attendance")
    val factSongTime = store.read("fact_song_time")
    store.overwrite("mart_attendance",
      Marts.martAttendance(dimChorister, assignments, factAttendance))
    store.overwrite("mart_song_rehearsal",
      Marts.martSongRehearsal(dimSong, factSongTime))
    store.overwrite("mart_chorister_song",
      Marts.martChoristerSong(dimChorister, assignments, dimSong,
        factAttendance, factSongTime))
  }

  /** Entry point 3 (main.py:111-143): mart_attendance → streaks + rate →
    * formatted message → sink. */
  def runAlerts(spark: SparkSession, store: TableStore, cfg: AlertConfig): Unit = {
    val mart = store.read("mart_attendance")
    val violators = AlertMessage.collectViolators(
      Alerts.currentMissedStreaks(mart, cfg.lookbackWeeks, cfg.streakThreshold))
    val rate = Alerts.attendanceRate(mart, cfg.lookbackWeeks)
    cfg.sink.send(AlertMessage.format(
      violators, cfg.lookbackWeeks, cfg.streakThreshold, rate))
  }

  /** X3/A1: append-only audit row, written on success AND failure
    * (main.py:301-347). */
  private def appendLog(
      spark: SparkSession,
      store: TableStore,
      status: String,
      error: String,
      counts: Map[String, Long]): Unit = {
    val cols = Seq(current_timestamp().as("run_ts"), lit(status).as("status")) ++
      CuratedTables.map { case (name, _) => lit(counts(name)).as(s"rows_$name") } :+
      lit(error).as("error_message")
    val row = spark.sql("SELECT 1").select(cols: _*)
    store.append("etl_log", row)
  }

  /** Alert/delivery config from an environment map (an optional `.env` file
    * layered OVER the process env — file wins; see [[EnvFile]]). Split out
    * of `main` so the
    * parse rules are unit-testable without forking a JVM. A non-numeric
    * integer knob is a CONFIG error raised before any ETL work, with the
    * variable named — never a raw NumberFormatException mid-startup. */
  private[graft] def alertConfigFrom(environ: Map[String, String]): AlertConfig = {
    def env(k: String): Option[String] = environ.get(k).map(_.trim).filter(_.nonEmpty)
    def envInt(k: String, default: Int): Int = env(k) match {
      case None => default
      case Some(v) => v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"Config error: $k must be an integer (got '$v')"))
    }
    val token = env("TELEGRAM_BOT_TOKEN")
    val chat = env("TELEGRAM_CHAT_ID")
    val dryRun = env("ALERTS_DRY_RUN").contains("1")
    // the reference always prints the message and ALSO posts when configured
    // and not dry-run (main.py:136-143) — so Telegram tees through console
    val sink: AlertSink = (token, chat) match {
      case (Some(t), Some(c)) if !dryRun =>
        val tg = new graft.format.TelegramAlertSink(t, c)
        (text: String) => { ConsoleAlertSink.send(text); tg.send(text) }
      case _ => ConsoleAlertSink
    }
    AlertConfig(
      enabled = env("ALERTS_ENABLED").contains("1"),
      lookbackWeeks = envInt("ALERTS_LOOKBACK_WEEKS", 3),
      streakThreshold = envInt("ALERTS_STREAK_THRESHOLD", 3),
      sink = sink)
  }

  /** CLI: `Main <raw.csv> <store-root> [env-file]`; alert knobs via the
    * reference's env vars (main.py:111-143): ALERTS_ENABLED gates,
    * ALERTS_LOOKBACK_WEEKS / ALERTS_STREAK_THRESHOLD tune, and delivery goes
    * to Telegram when TELEGRAM_BOT_TOKEN + TELEGRAM_CHAT_ID are set and
    * ALERTS_DRY_RUN is not "1" — otherwise the console sink (the reference
    * prints the message either way; the console sink is our print). Knobs
    * come from `.env` (or the explicit third-arg file) FIRST, with the
    * process environment filling the gaps — the reference loads the project
    * .env with override=True (main.py:152-166), so the file wins. */
  def main(args: Array[String]): Unit = {
    val Array(rawCsv, outRoot) = args.take(2)
    // an EXPLICITLY named env file must exist (a typo'd path silently running
    // with defaults is the config error this round exists to surface); the
    // implicit cwd `.env` default is optional, like the reference's
    val envFile = java.nio.file.Paths.get(args.lift(2).getOrElse(".env"))
    if (args.lift(2).isDefined && !java.nio.file.Files.exists(envFile))
      throw new IllegalArgumentException(s"Config error: env file '$envFile' does not exist")
    val environ = EnvFile.withProcessEnv(envFile)
    val cfg = alertConfigFrom(environ) // config errors surface before Spark starts
    val cores = environ.get("SPARK_GRAFT_CPUS") match {
      case None => 4
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"Config error: SPARK_GRAFT_CPUS must be a positive integer (got '$v')"))
    }
    val spark = Sessions.local(cores = cores)
    val result = run(spark, RawSheet.fromCsv(spark, rawCsv),
      new TableStore(spark, outRoot), cfg)
    println(s"ETL ${result.status}" +
      (if (result.errorMessage.nonEmpty) s": ${result.errorMessage}" else "") +
      s"; counts=${result.counts}")
    spark.stop()
    if (result.status != "success") sys.exit(1)
  }
}
