package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps checkpoint storage on one path: outside `operators/Loops.scala`
  * (and the `tools/` probe mains) no main source may call
  * `localCheckpoint(` or read `getPersistentRDDs` — checkpoints go through
  * `Loops.checkpoint`, releases through `Loops.free` and `Loops.scope`. */
class CheckpointGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  test("only Loops.scala reaches checkpoint storage directly") {
    assert(Files.isDirectory(root), s"main sources not found under ${root.toAbsolutePath}")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def allowed(p: Path): Boolean = {
      val rel = root.relativize(p).toString.replace('\\', '/')
      rel == "operators/Loops.scala" || rel.startsWith("tools/")
    }
    val hits = for {
      p <- files if !allowed(p)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.split("//", 2)(0).trim
      if !code.startsWith("*") && !code.startsWith("/*")
      if code.contains("localCheckpoint(") || code.contains("getPersistentRDDs")
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(files.size > 50, s"scanned only ${files.size} files")
    assert(hits.isEmpty,
      "use Loops.checkpoint / Loops.free / Loops.scope instead:\n" + hits.mkString("\n"))
  }
}
