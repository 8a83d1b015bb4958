package graft

import org.scalatest.funsuite.AnyFunSuite

/** The small-session routing rule [[Routing.routesSmall]] that Bench and
  * QTime share — a pure function of the previous artifact. */
class RoutingSpec extends AnyFunSuite {
  private val sf = "/data/sf0.1"
  private val duck = Map("tiny" -> 0.1, "low_band" -> 0.27, "high_band" -> 0.32,
    "heavy" -> 0.35, "qX_opq" -> 0.01)

  test("thresholds: < 0.25 small, >= 0.35 and unannotated stay on the full session") {
    val prior = Routing.Prior(duck, Set.empty, Some(sf))
    assert(Routing.routesSmall("tiny", prior, sf))
    assert(!Routing.routesSmall("heavy", prior, sf))
    assert(!Routing.routesSmall("unannotated", prior, sf))
  }

  test("an SF-dir mismatch routes nothing; an unrecorded dir routes") {
    val prior = Routing.Prior(duck, Set("tiny", "low_band"), Some(sf))
    assert(duck.keys.forall(!Routing.routesSmall(_, prior, "/data/sf1000")))
    assert(Routing.routesSmall("tiny", prior.copy(sf = None), "/data/sf1000"))
  }

  test("ComputeDense gates are never routed small") {
    assert(Routing.ComputeDense("qX_opq"))
    for (routed <- Seq(Set.empty[String], Set("qX_opq")))
      assert(!Routing.routesSmall("qX_opq", Routing.Prior(duck, routed, Some(sf)), sf))
  }

  test("the 0.25-0.35 band keeps the previous side, else splits at 0.3") {
    val kept = Routing.Prior(duck, Set("high_band", "tiny"), Some(sf))
    assert(Routing.routesSmall("high_band", kept, sf))
    assert(!Routing.routesSmall("low_band", kept, sf))
    val fresh = kept.copy(routedSmall = Set.empty)
    assert(Routing.routesSmall("low_band", fresh, sf))
    assert(!Routing.routesSmall("high_band", fresh, sf))
  }

  test("Prior.of reads the artifact's duck map, routing and SF dir") {
    val json = org.json4s.jackson.JsonMethods.parse(
      s"""{"sf":"$sf","routed_small":["a"],"duckdb":{"a":0.1,"b":2,"c":0.30}}""")
    assert(Routing.Prior.of(json) ==
      Routing.Prior(Map("a" -> 0.1, "b" -> 2.0, "c" -> 0.3), Set("a"), Some(sf)))
    assert(Routing.Prior.of(org.json4s.JNothing) == Routing.Prior(Map.empty, Set.empty, None))
  }
}
