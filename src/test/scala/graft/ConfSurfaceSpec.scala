package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `graft.*` conf and every `SPARK_GRAFT_*` environment variable the
  * program reads is documented in USAGE.md ("Scale knobs" and
  * "Environment"), and neither table names one the program has dropped. */
class ConfSurfaceSpec extends AnyFunSuite with Matchers {

  private val confKey = "graft\\.[a-z]+\\.[A-Za-z]+"
  private val envName = "SPARK_GRAFT_[A-Z_]+"

  /** The string literals of `src/main` that match `pattern`. */
  private def read(pattern: String): Set[String] = {
    val sources = {
      val st = Files.walk(Paths.get("src/main"))
      try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    sources.flatMap { p: Path =>
      s"\"($pattern)\"".r.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
  }

  /** The `pattern` names in the first column of USAGE.md's table under
    * `## section`. */
  private def documented(section: String, pattern: String): Set[String] = {
    val table = Files.readAllLines(Paths.get("USAGE.md")).asScala
      .dropWhile(_ != s"## $section").drop(1)
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|"))
      .drop(2) // header and separator rows
    table.flatMap { row =>
      s"`($pattern)`".r.findAllMatchIn(row.split('|')(1)).map(_.group(1))
    }.toSet
  }

  test("the graft.* conf keys in src/main are exactly USAGE.md's Scale knobs") {
    val keys = read(confKey)
    keys should not be empty
    keys shouldBe documented("Scale knobs", confKey)
  }

  test("the SPARK_GRAFT_* env names in src/main are exactly USAGE.md's Environment table") {
    val names = read(envName)
    names should not be empty
    names shouldBe documented("Environment", envName)
  }
}
