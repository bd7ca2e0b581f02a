package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The summary line [[Bench.compactLine]] on a synthetic 150-query suite:
  * bounded, valid JSON, carrying the run figures and every failure; and
  * the argument selection [[Bench.selection]]. */
class BenchSpec extends AnyFunSuite with Matchers {

  private val failedNames = Seq(7, 42, 99, 149).map(i => f"q_synthetic_$i%03d")

  private val timings = (0 until 150).map { i =>
    val name = f"q_synthetic_$i%03d"
    if (failedNames.contains(name)) {
      if (i % 2 == 0) Bench.Timing(name, -1.0, Seq(-1.0, -1.0, -1.0), 0.1,
        Seq(0.1, 0.1, 0.1))
      else Bench.Timing(name, 1.5, Seq(0.4, -1.0, 0.5), 2.0, Seq(0.6, 0.1, 0.7))
    } else Bench.Timing(name, 0.5 + i * 0.123, Seq(0.3, 0.1 + i * 0.01, 0.2),
      1.0 + i, Seq(0.9, 0.5, 0.7))
  }

  private val run = Bench.Run(setupSec = 6.789, coldE2eSec = 1234.567,
    memoEvictions = 0, memoRebuilds = 0, memoRebuildSec = 0.0,
    sf = "/data/sf0.1")

  private val line = Bench.compactLine(timings, run)
  private val json = new ObjectMapper().readTree(line)

  test("the compact line fits the 1800-character tail window and parses") {
    line.length should be <= 1800
    json.get("metric").asText() shouldBe "cold_e2e"
    json.get("value").asDouble() shouldBe 1234.57
  }

  test("the compact line carries the run figures") {
    json.get("cold_e2e_sec").asDouble() shouldBe 1234.57
    json.get("setup_sec").asDouble() shouldBe 6.79
    json.get("nqueries").asInt() shouldBe 150
    // warm medians of the successful queries; the four failed ones are out
    val warm = timings.filterNot(_.failed).map(_.warm).sum
    json.get("warm_total_sec").asDouble() shouldBe math.rint(warm * 100) / 100
  }

  test("the compact line names every failed query though query slots are cut") {
    val slots = json.get("cold_sec")
    slots.size() should be > 0
    slots.size() should be < timings.size
    val failed = (0 until json.get("failed").size())
      .map(json.get("failed").get(_).asText())
    failed shouldBe failedNames
    // slots go to the slowest cold calls first
    slots.fieldNames().next() shouldBe "q_synthetic_148"
  }

  test("the full line keeps every query's cold, warm and warm calls") {
    val full = new ObjectMapper().readTree(Bench.fullLine(timings, run))
    full.get("queries").size() shouldBe 150
    val q = full.get("queries").get("q_synthetic_010")
    q.get("cold").asDouble() shouldBe 0.5 + 10 * 0.123
    q.get("warm").asDouble() shouldBe 0.2 +- 1e-9
    q.get("warm_calls").size() shouldBe Bench.warmPasses
    full.get("queries").get("q_synthetic_099").get("warm").asDouble() shouldBe
      -1.0
    // CPU seconds next to the wall figures: the cold call's and the
    // median warm call's
    q.get("cold_cpu").asDouble() shouldBe 11.0
    q.get("warm_cpu").asDouble() shouldBe 0.7
  }

  test("the selection keeps suite order, takes named queries once in argument order, and lists every unknown name") {
    val all = scala.collection.immutable.VectorMap(
      "q_a" -> 1, "q_b" -> 2, "q_c" -> 3)
    Bench.selection(all, Nil) shouldBe
      Right(Seq("q_a" -> 1, "q_b" -> 2, "q_c" -> 3))
    Bench.selection(all, Seq("q_c", "q_a", "q_c")) shouldBe
      Right(Seq("q_c" -> 3, "q_a" -> 1))
    Bench.selection(all, Seq("q_a", "q_x", "q_y", "q_x")) shouldBe
      Left(Seq("q_x", "q_y"))
  }
}
