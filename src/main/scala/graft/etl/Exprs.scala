package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Scalar expression library for the choir-ETL semantics.
  *
  * Every function here is a composition of built-in (codegen'd) Catalyst
  * expressions — no UDFs — so filters/projections using them stay inside
  * WholeStageCodegen and push down where Catalyst allows.
  *
  * Semantics mirror the reference implementation exactly:
  *  - safeStr       /root/reference/etl/dim_chorister.py:23-27 (P2)
  *  - normalizeName /root/reference/etl/dim_chorister.py:30-36 (P5)
  *  - voicePart*    /root/reference/etl/dim_chorister.py:157-177 (P6)
  *  - normalizeDateToIso /root/reference/etl/fact_attendance.py:20-45 (P7)
  *  - parseNum*     /root/reference/etl/fact_attendance.py:59-92,
  *                  /root/reference/etl/fact_song_time.py:28-40,
  *                  /root/reference/etl/marts.py:39-47 (P8/P9)
  *  - flag*         /root/reference/etl/alerts.py:15-28, etl/marts.py:93-102 (P10)
  *  - dateSlice     /root/reference/etl/alerts.py:31-37 (P14)
  *
  * All parsing is written with `try_cast`/`try_to_date` so it is safe under
  * Spark 4's default ANSI mode (a raw cast of a garbage string would abort the
  * whole job instead of yielding null).
  */
object Exprs {

  /** Null-safe trimmed string: null → "", else trim(str(v)). (P2) */
  def safeStr(c: Column): Column = coalesce(trim(c.cast("string")), lit(""))

  /** Name normalization for ID generation: trim, lower, whitespace→`_`, then
    * drop everything that is not a Unicode letter/digit/underscore. (P5)
    * `[\p{L}\p{N}_]` is the portable spelling of Python's Unicode `\w` — it
    * means the same thing in Java regex (Spark) and RE2 (DuckDB oracle).
    */
  def normalizeName(c: Column): Column =
    regexp_replace(
      regexp_replace(lower(trim(c.cast("string"))), "\\s+", "_"),
      "[^\\p{L}\\p{N}_]+", "")

  /** Voice part from a Tag: `ex`-prefixed (case-insensitive) tags drop the
    * prefix and any ` -_` separators; everything is lowercased. (P6) */
  def voicePart(tag: Column): Column = {
    val t = trim(tag.cast("string"))
    lower(trim(when(lower(t).startsWith("ex"),
      regexp_replace(substring(t, 3, Int.MaxValue), "^[ \\-_]+", ""))
      .otherwise(t)))
  }

  /** Active flag from a Tag: false iff the trimmed tag starts with `ex`
    * (case-insensitive). (P6) */
  def isActiveFromTag(tag: Column): Column =
    !lower(trim(tag.cast("string"))).startsWith("ex")

  /** Sheets serial-number epoch (Lotus 1-2-3 compatible). */
  private val SerialEpoch = "1899-12-30"
  // Python datetime supports years 1..9999; serial offsets outside this range
  // raised OverflowError in the reference and normalized to "". The epoch's
  // ordinal is 693594, so the smallest ACCEPTED serial is -693593
  // (0001-01-01); -693594 itself overflowed in Python.
  private val SerialMin = -693593L // 0001-01-01
  private val SerialMax = 2958465L // 9999-12-31

  /** Date normalization to an ISO `YYYY-MM-DD` *string* ("" if unparseable),
    * matching the reference exactly (P7):
    *  1. numeric value → Sheets serial day count from 1899-12-30 (fractions
    *     truncated toward zero, out-of-range → "");
    *  2. `^\d{4}-\d{2}-\d{2}` prefix → first 10 chars verbatim (the reference
    *     does NOT validate the calendar here);
    *  3. `d.m.yy[yy]` → two-digit years pivot at 50 (<50 → 20xx, else 19xx),
    *     impossible calendar dates → "";
    *  4. anything else → "".
    * Strings are the reference's transport type for dates (ISO strings compare
    * correctly lexicographically).
    */
  def normalizeDateToIso(c: Column): Column = {
    val s = trim(c.cast("string"))
    val serial = s.try_cast("double").try_cast("long") // int(float(v)): truncates
    val dmy = "^(\\d{1,2})\\.(\\d{1,2})\\.(\\d{2,4})$"
    val d = regexp_extract(s, dmy, 1).try_cast("int")
    val m = regexp_extract(s, dmy, 2).try_cast("int")
    val yRaw = regexp_extract(s, dmy, 3).try_cast("int")
    val y = when(yRaw < 100, yRaw + when(yRaw < 50, 2000).otherwise(1900)).otherwise(yRaw)
    when(s.isNull || s === "", lit(""))
      .when(s.rlike("^-?\\d+(\\.\\d+)?$"),
        when(serial.between(SerialMin, SerialMax),
          date_format(date_add(to_date(lit(SerialEpoch)), serial.cast("int")), "yyyy-MM-dd"))
          .otherwise(lit("")))
      .when(s.rlike("^\\d{4}-\\d{2}-\\d{2}"), substring(s, 1, 10))
      .when(s.rlike(dmy),
        coalesce(date_format(try_to_date(format_string("%04d-%02d-%02d", y, m, d), "yyyy-MM-dd"), "yyyy-MM-dd"), lit("")))
      .otherwise(lit(""))
  }

  /** Lenient numeric parse: comma decimals accepted, empty/garbage → null. (P9) */
  def parseNumLenient(c: Column): Column = {
    val s = trim(c.cast("string"))
    when(s.isNull || s === "", lit(null).cast(DoubleType))
      .otherwise(regexp_replace(s, ",", ".").try_cast("double"))
  }

  /** Lenient numeric parse with default: empty/garbage → `default`. (P9) */
  def parseNumDefault(c: Column, default: Double = 0.0): Column =
    coalesce(parseNumLenient(c), lit(default))

  /** Strict hours parse (P8): comma decimals accepted; empty, unparseable or
    * negative values abort the job via `raise_error` with the same contextual
    * message shape as the reference (chorister, date, raw value).
    */
  def parseHoursStrict(c: Column, choristerId: Column, rehearsalDate: Column): Column = {
    val s = trim(c.cast("string"))
    val parsed = regexp_replace(s, ",", ".").try_cast("double")
    when(s.isNull || s === "",
      raise_error(format_string(
        "Expected numeric hours for chorister_id='%s', rehearsal_date='%s': got empty value (use missed_flag=1 row instead).",
        choristerId, rehearsalDate)).cast(DoubleType))
      .when(parsed.isNull,
        raise_error(format_string(
          "Cannot parse hours_attended for chorister_id='%s', rehearsal_date='%s', raw_value='%s'",
          choristerId, rehearsalDate, s)).cast(DoubleType))
      .when(parsed < 0,
        raise_error(format_string(
          "hours_attended must be >= 0 for chorister_id='%s', rehearsal_date='%s': raw_value='%s'",
          choristerId, rehearsalDate, s)).cast(DoubleType))
      .otherwise(parsed)
  }

  /** Flag normalization for *string-typed* inputs: {1, TRUE, YES} (trimmed,
    * case-insensitive) → 1, anything else (incl. "2", "0", null) → 0. (P10) */
  def flagFromString(c: Column): Column =
    when(upper(trim(c.cast("string"))).isin("1", "TRUE", "YES"), 1).otherwise(0)

  /** Flag normalization for *numeric-typed* inputs: non-zero → 1. (P10) */
  def flagFromNumeric(c: Column): Column =
    when(c.isNotNull && c =!= 0, 1).otherwise(lit(0)).cast(IntegerType)

  /** Boolean form of [[flagFromString]] (marts' is_active). */
  def boolFromString(c: Column): Column =
    upper(trim(c.cast("string"))).isin("TRUE", "1", "YES")

  /** First 10 chars of the trimmed string (ISO date slice). (P14) */
  def dateSlice(c: Column): Column = substring(trim(c.cast("string")), 1, 10)
}
