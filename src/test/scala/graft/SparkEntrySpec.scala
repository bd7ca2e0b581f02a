package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench and Verify run [[SparkEntry.queries]] in its iteration order, and
  * on a cold pass that order decides which query pays each shared memo
  * build — so it must be the modules' declaration order, with no name
  * shadowing another. */
class SparkEntrySpec extends AnyFunSuite with Matchers {

  private val declared = (operators.Relational.all ++
    operators.CooQueries.all ++ ml.MlQueries.all ++
    operators.TextQueries.all ++ operators.PipelineQueries.all ++
    operators.Graph.all).map(_.name)

  test("queries iterate in module declaration order") {
    SparkEntry.queries.keys.toSeq shouldBe declared
  }

  test("query names are distinct") {
    declared.distinct shouldBe declared
  }

  test("every oracle is a closed statement with its builders expanded") {
    // a builder slip (a fragment missing its `s` interpolator, a dropped
    // paren in a spliced CTE) otherwise shows only when DuckDB runs it
    val interp = """\$(\{|[A-Za-z_])""".r
    SparkEntry.oracleSql.size should be > 0
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      withClue(s"$name: ") {
        sql.trim should (startWith("WITH") or startWith("SELECT"))
        val depths = sql.scanLeft(0) {
          case (d, '(') => d + 1
          case (d, ')') => d - 1
          case (d, _)   => d
        }
        depths.min shouldBe 0
        depths.last shouldBe 0
        interp.findFirstIn(sql) shouldBe None
      }
    }
  }
}
