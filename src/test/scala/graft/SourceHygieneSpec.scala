package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source files hold no raw C0 control bytes: a NUL or unit separator
  * pasted into a literal makes grep treat the whole file as binary and
  * silently skip it. Write `\u0000`-style escapes instead. Binary
  * fixtures under `src/{main,test}/resources` are data, not source, and
  * are not scanned. Sessions are built in one place only
  * ([[Sessions.local]]), so entry points cannot drift apart in config. */
class SourceHygieneSpec extends AnyFunSuite {

  private def isControl(c: Char) = c < 0x20 && c != '\t' && c != '\n' && c != '\r'

  test("no source file under src/ contains a C0 control byte other than tab, LF, CR") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !src.relativize(p).iterator().asScala.exists(_.toString == "resources"))
      .toSeq
    assert(files.exists(_.toString.endsWith(".scala")))
    val offenders = files.flatMap { p: Path =>
      val lines = new String(Files.readAllBytes(p), "ISO-8859-1").split("\n", -1)
      lines.indices.find(i => lines(i).exists(isControl)).map { i =>
        val bytes = lines(i).filter(isControl).map(c => f"0x${c.toInt}%02x").distinct
        s"$p:${i + 1} (${bytes.mkString(",")})"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("raw control bytes at:\n", "\n", ""))
  }

  test("src/main builds a SparkSession only in Sessions.scala") {
    val main = Paths.get("src/main")
    val builds = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("SparkSession.builder()") &&
            !Seq("//", "*", "/*").exists(l.trim.startsWith) => s"$p:${i + 1}"
        }
      }
    assert(builds.size == 1 && builds.head.startsWith(s"${main.resolve("scala/graft/Sessions.scala")}:"),
      builds.mkString("SparkSession.builder() outside Sessions.scala:\n", "\n", ""))
  }
}
