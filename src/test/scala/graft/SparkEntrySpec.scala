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
}
