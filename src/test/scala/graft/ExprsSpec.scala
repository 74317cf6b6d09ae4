package graft

import org.apache.spark.sql.functions._

import graft.etl.{Exprs, IsoDate}

/** Corpus tests for the choir-ETL scalar semantics (SURVEY §2 P5-P10, P7 being
  * the riskiest) plus the IsoDate (driver) ↔ Exprs (Column) lockstep property.
  */
class ExprsSpec extends SparkSpec {

  private def evalStr(c: org.apache.spark.sql.Column): String =
    spark.range(1).select(c.cast("string")).collect()(0).getString(0)

  private def normDate(raw: String): String =
    spark.range(1).select(Exprs.normalizeDateToIso(lit(raw))).collect()(0).getString(0)

  test("P7 date normalization corpus (serial / ISO / d.m.yy pivot / garbage)") {
    val cases = Seq(
      "45000" -> "2023-03-15",          // Sheets serial
      "45000.75" -> "2023-03-15",       // fraction truncates toward zero
      "0" -> "1899-12-30",              // epoch
      "-1" -> "1899-12-29",             // negative serial
      "99999999" -> "",                 // overflow -> ""
      "-99999999" -> "",                // underflow -> ""
      "-693593" -> "0001-01-01",        // smallest serial Python accepted
      "-693594" -> "",                  // Python OverflowError boundary
      "2958465" -> "9999-12-31",        // largest serial Python accepted
      "2958466" -> "",                  // one past the max
      "2024-06-16" -> "2024-06-16",     // ISO
      "2024-06-16T10:00:00" -> "2024-06-16", // ISO prefix sliced
      "2024-99-99" -> "2024-99-99",     // non-calendar ISO prefix passes (reference quirk)
      "16.06.24" -> "2024-06-16",       // d.m.yy, <50 -> 20xx
      "16.06.49" -> "2049-06-16",       // pivot boundary low
      "16.06.50" -> "1950-06-16",       // pivot boundary high
      "1.2.99" -> "1999-02-01",         // single digits
      "16.06.2024" -> "2024-06-16",     // d.m.yyyy
      "31.02.24" -> "",                 // impossible calendar date
      "16/06/24" -> "",                 // wrong separator
      "abc" -> "",
      "" -> "",
      "  2024-06-16  " -> "2024-06-16") // trimmed
    for ((raw, want) <- cases)
      assert(normDate(raw) === want, s"input '$raw'")
  }

  test("IsoDate (driver) and normalizeDateToIso (Column) stay in lockstep") {
    val rnd = new scala.util.Random(42)
    val inputs: Seq[String] =
      (1 to 120).map(_ => (rnd.nextLong() % 3200000L).toString) ++        // serials
      (1 to 120).map(_ => s"${1 + rnd.nextInt(40)}.${1 + rnd.nextInt(14)}.${rnd.nextInt(2101)}") ++
      (1 to 60).map(_ => rnd.alphanumeric.take(rnd.nextInt(12)).mkString) ++
      Seq("2024-02-30", "2024-02-30T05:00", "00012.5", " 7.7.77 ", "5,5")
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      inputs.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("raw",
          org.apache.spark.sql.types.StringType))))
    val got = df.select(col("raw"), Exprs.normalizeDateToIso(col("raw"))).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    for (in <- inputs)
      assert(got(in) === IsoDate.normalize(in), s"lockstep diverged on '$in'")
  }

  test("P5 name normalization: lower, spaces to _, strip non-word, Unicode kept") {
    val cases = Seq(
      "  Мария  Дидуренко " -> "мария_дидуренко",
      "Anna-Lise O'Neil" -> "annalise_oneil",
      "JOHN   SMITH" -> "john_smith",
      "x!@#y" -> "xy")
    for ((raw, want) <- cases)
      assert(evalStr(Exprs.normalizeName(lit(raw))) === want, s"input '$raw'")
  }

  test("P6 voice part and active flag from Tag") {
    val cases = Seq(
      ("Alto", "alto", true),
      ("exTenor", "tenor", false),
      ("ex Tenor", "tenor", false),
      ("ex-Alto", "alto", false),
      ("EX_Bass", "bass", false),
      ("Soprano ", "soprano", true))
    for ((raw, wantPart, wantActive) <- cases) {
      assert(evalStr(Exprs.voicePart(lit(raw))) === wantPart, s"part of '$raw'")
      assert(evalStr(Exprs.isActiveFromTag(lit(raw))) === wantActive.toString, s"active of '$raw'")
    }
  }

  test("P9 lenient parse: comma decimals, garbage to null, default fill") {
    val df = spark.sql("SELECT 1").select(
      Exprs.parseNumLenient(lit("2,5")).as("a"),
      Exprs.parseNumLenient(lit(" 3.25 ")).as("b"),
      Exprs.parseNumLenient(lit("abc")).as("c"),
      Exprs.parseNumLenient(lit("")).as("d"),
      Exprs.parseNumDefault(lit("x"), 0.0).as("e"))
    val r = df.collect()(0)
    assert(r.getDouble(0) === 2.5 && r.getDouble(1) === 3.25)
    assert(r.isNullAt(2) && r.isNullAt(3))
    assert(r.getDouble(4) === 0.0)
  }

  test("P8 strict parse: raises with chorister/date context on bad input") {
    val ok = spark.range(1).select(
      Exprs.parseHoursStrict(lit("2,5"), lit("c1"), lit("2024-06-16"))).collect()(0)
    assert(ok.getDouble(0) === 2.5)
    val e = intercept[Exception] {
      spark.range(1).select(
        Exprs.parseHoursStrict(lit("abc"), lit("c1"), lit("2024-06-16"))).collect()
    }
    assert(e.getMessage.contains("c1") && e.getMessage.contains("2024-06-16")
      && e.getMessage.contains("abc"))
    val neg = intercept[Exception] {
      spark.range(1).select(
        Exprs.parseHoursStrict(lit("-1"), lit("c2"), lit("2024-06-17"))).collect()
    }
    assert(neg.getMessage.contains(">= 0") && neg.getMessage.contains("c2"))
  }

  test("P10 flag normalization: strings and numerics") {
    val r = spark.range(1).select(
      Exprs.flagFromString(lit(" true ")).as("a"),
      Exprs.flagFromString(lit("YES")).as("b"),
      Exprs.flagFromString(lit("1")).as("c"),
      Exprs.flagFromString(lit("2")).as("d"),   // string "2" -> 0 (reference quirk)
      Exprs.flagFromNumeric(lit(2.0)).as("e"),  // numeric 2.0 -> 1
      Exprs.flagFromNumeric(lit(0)).as("f")).collect()(0)
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      === ((1, 1, 1, 0, 1, 0)))
  }

  test("P2 safeStr: null becomes empty, strings are trimmed, numbers are stringified") {
    import spark.implicits._
    val df = Seq[(String, Option[Int])](("  Anna ", Some(7)), (null, None)).toDF("s", "n")
    val got = df.select(Exprs.safeStr(col("s")), Exprs.safeStr(col("n"))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("Anna", "7"), ("", "")))
  }

  test("boolFromString: TRUE / 1 / YES in any case and padding are true, other values false") {
    val cases = Seq(" true " -> true, "Yes" -> true, "1" -> true,
      "2" -> false, "0" -> false, "no" -> false, "" -> false)
    for ((raw, want) <- cases)
      assert(evalStr(Exprs.boolFromString(lit(raw))) === want.toString, s"input '$raw'")
  }

  test("P14 dateSlice: the first ten characters of the trimmed text") {
    val cases = Seq(
      "  2024-06-16T19:00:00 " -> "2024-06-16",
      "2024-06-16" -> "2024-06-16",
      "2024-06" -> "2024-06",
      "   " -> "")
    for ((raw, want) <- cases)
      assert(evalStr(Exprs.dateSlice(lit(raw))) === want, s"input '$raw'")
    assert(spark.range(1).select(Exprs.dateSlice(lit(null).cast("string")))
      .collect()(0).isNullAt(0))
  }
}
