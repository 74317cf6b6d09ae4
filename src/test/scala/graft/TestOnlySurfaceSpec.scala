package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` free of definitions that only tests reach: every public
  * or `private[graft]` def must be named somewhere in main code beyond its
  * own `def` header (comments stripped; string literals count, so SQL
  * registration and reflection by name are uses). A reference
  * implementation that specs compare against belongs in test sources.
  * JVM entry points (`main`) are exempt; otherwise the only exceptions are
  * [[TestOnlySurfaceSpec.Allowed]]. */
class TestOnlySurfaceSpec extends AnyFunSuite {
  import TestOnlySurfaceSpec._

  private val root = Paths.get("src/main/scala/graft")

  /** Every main source file with its comments stripped. */
  private lazy val code: List[(Path, String)] = {
    assert(Files.isDirectory(root), s"main sources not found under ${root.toAbsolutePath}")
    val s = Files.walk(root)
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.size > 50, s"scanned only ${files.size} files")
    files.map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
  }

  /** (name, file:line) of every def visible outside its own package. */
  private lazy val publicDefs: List[(String, String)] = for {
    (p, c) <- code
    m <- Def.findAllMatchIn(c)
    mods = c.substring(c.lastIndexOf('\n', m.start) + 1, m.start)
    if !mods.contains("override") && Hidden.findFirstIn(mods).isEmpty
  } yield (m.group(1), s"${root.relativize(p)}:${c.substring(0, m.start).count(_ == '\n') + 1}")

  test("every public main definition has a caller in main code") {
    val uses = code.iterator.flatMap { case (_, c) => Word.findAllIn(c) }
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val headers = publicDefs.groupBy(_._1).view.mapValues(_.size).toMap
    val testOnly = publicDefs.filter { case (name, _) =>
      name != "main" && !Allowed.contains(name) && uses(name) <= headers(name)
    }
    if (testOnly.nonEmpty)
      fail("defined in src/main but called only from tests (delete it, move it into " +
        "test sources, or add it to TestOnlySurfaceSpec.Allowed with a reason):\n" +
        testOnly.map { case (name, at) => s"$at: $name" }.mkString("\n"))
  }

  test("every allowed name is still a public main definition") {
    val stale = Allowed.keySet -- publicDefs.map(_._1)
    assert(stale.isEmpty, s"allowed but no longer defined; drop from Allowed: $stale")
  }
}

object TestOnlySurfaceSpec {

  /** Main definitions with no caller in main code, and why each stays. */
  val Allowed: Map[String, String] = Map(
    "entry" -> "SparkEntry.entry: the driver contract, called by reflection",
    "readTable" -> "GSheets: the paper's source; needs the network",
    "overwriteTable" -> "GSheets: the paper's sink; needs the network",
    "appendRows" -> "GSheets: the paper's append sink; needs the network",
    "fromOrdinal" -> "RawSheet.fromOrdinal: the ingest entry named in docs/data_contract.md",
    "checkGenerationParity" -> "CuratePipeline: the read-time integrity check for a curated corpus")

  private val Word = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Def = "\\bdef\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  /** Modifiers before `def` on its line that hide it from other packages. */
  private val Hidden = "\\b(private(?!\\[graft\\])|protected)\\b".r

  /** `src` with `//` and (nested) block comments blanked; newlines, string
    * and char literals kept. A string ends at its closing quote or at the
    * end of its line, so a misread interpolation cannot swallow later code. */
  def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def skipTo(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var done = false
        while (i < n && !done) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2; done = depth == 0 }
          else { if (src(i) == '\n') out.append('\n'); i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && src(end) == '"') end += 1
        skipTo(end)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        skipTo(math.min(n, j + 1))
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\') {
        val close = src.indexOf('\'', i + 3)
        skipTo(if (close < 0) n else close + 1)
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        skipTo(i + 3)
      } else {
        out.append(src(i)); i += 1
      }
    }
    out.toString
  }
}
