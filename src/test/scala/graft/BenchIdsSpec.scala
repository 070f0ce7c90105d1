package graft

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** Permanent query ids: a name keeps its qN across additions and removals,
  * and the stdout line keeps every time in its id's field.
  */
class BenchIdsSpec extends AnyFunSuite {

  private val base = Seq("b_two", "c_three", "d_four")
  private val seeded = Bench.assignIds(Map.empty, base)

  test("ids are assigned in name order, and later changes never move one") {
    assert(seeded == Map("b_two" -> 0, "c_three" -> 1, "d_four" -> 2))
    val cases = Seq(
      // (declared names, expected new ids beyond the existing ones)
      (base :+ "a0_new", Map("a0_new" -> 3)),               // sorts first
      (base :+ "z_new", Map("z_new" -> 3)),                 // sorts last
      (base :+ "z_new" :+ "a0_new", Map("a0_new" -> 3, "z_new" -> 4)),
      (Seq("b_two", "d_four"), Map.empty[String, Int]),     // c_three retired
      (Seq("b_two", "d_four", "e_five"), Map("e_five" -> 3)) // gap not reused
    )
    for ((names, added) <- cases) {
      val ids = Bench.assignIds(seeded, names)
      assert(ids == seeded ++ added, names)
    }
  }

  test("a removed name's id stays a gap after the next addition") {
    val retired = Bench.assignIds(seeded, Seq("b_two", "d_four"))
    val next = Bench.assignIds(retired, Seq("b_two", "d_four", "c_again"))
    assert(next("c_again") == 3 && next("c_three") == 1)
    assert(Bench.line(1.0, "sf", next, Map("b_two" -> 0.5, "d_four" -> 0.5, "c_again" -> 0.01))
      .contains("\"queries\":\"0.5,,0.5,0.01\""))
  }

  test("the line is JSON of at most 1600 chars at 262 queries, a failure reads -1") {
    val names = (0 until 262).map(i => f"n$i%03d")
    val ids = Bench.assignIds(Map.empty, names)
    // 9.99 s is the widest time below 10 s
    val times = names.map(_ -> 9.99).toMap + (names(7) -> -1.0)
    val line = Bench.line(times.values.sum, "sf0.1", ids, times)
    assert(line.length <= 1600, line.length)
    val json = org.json4s.jackson.JsonMethods.parse(line)
    assert((json \ "metric") == JString("total") && (json \ "unit") == JString("sec"))
    assert((json \ "sf") == JString("sf0.1"))
    val JString(csv) = json \ "queries"
    val fields = csv.split(",", -1)
    assert(fields.length == 262 && fields(7) == "-1" && fields(8) == "9.99")
  }

  test("a subset run keeps every field in its id position") {
    val ids = Bench.assignIds(Map.empty, Seq("a", "b", "c", "d"))
    assert(Bench.line(3.7, "sf", ids, Map("b" -> 1.5, "d" -> 2.2)) ==
      """{"metric":"total","value":3.700,"unit":"sec","sf":"sf","queries":",1.5,,2.2"}""")
  }

  test("times print at 2 dp with trailing zeros stripped") {
    assert(Seq(0.6, 1.0, 12.345, 0.004, 0.0, -1.0, 10.0).map(Bench.fmt2) ==
      Seq("0.6", "1", "12.35", "0", "0", "-1", "10"))
  }
}
