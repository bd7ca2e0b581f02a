package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `graft.*` conf the program reads is documented in USAGE.md's
  * "Scale knobs" table, and the table names no conf the program has
  * dropped. */
class ConfSurfaceSpec extends AnyFunSuite with Matchers {

  private val confKey = "graft\\.[a-z]+\\.[A-Za-z]+"

  test("the graft.* conf keys in src/main are exactly USAGE.md's Scale knobs") {
    val sources = {
      val st = Files.walk(Paths.get("src/main"))
      try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val read = sources.flatMap { p: Path =>
      s"\"($confKey)\"".r.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    val table = Files.readAllLines(Paths.get("USAGE.md")).asScala
      .dropWhile(_ != "## Scale knobs").drop(1)
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|"))
      .drop(2) // header and separator rows
    val documented = table.flatMap { row =>
      s"`($confKey)`".r.findAllMatchIn(row.split('|')(1)).map(_.group(1))
    }.toSet
    read should not be empty
    read shouldBe documented
  }
}
