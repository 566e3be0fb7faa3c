package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's window verdict ([[Bench.adjudicate]]): pure, no session. */
class BenchSpec extends AnyFunSuite {

  private val saved = Map("q1" -> 0.20, "q2" -> 0.30, "q3" -> 0.50)

  test("no comparator in this window: no duck_drift, verdict rests on ext_p90") {
    val w = Bench.adjudicate(extP90 = 0.4, cpus = 4, duckNow = None, duckPrev = saved)
    assert(w.duckDrift.isEmpty)
    assert(w.clean)
    assert(!w.json.contains("duck_drift"))
    assert(w.json == ""","ext_p90":0.400,"clean_window":true""")
    assert(!Bench.adjudicate(extP90 = 2.0, cpus = 4, duckNow = None, duckPrev = saved).clean)
  }

  test("comparator drift out of band makes the window unclean") {
    // 1.5x the saved total over the shared queries; q9 is new and ignored
    val now = saved.map { case (k, v) => k -> v * 1.5 } + ("q9" -> 100.0)
    val w = Bench.adjudicate(extP90 = 0.4, cpus = 4, duckNow = Some(now), duckPrev = saved)
    assert(w.duckDrift.exists(d => math.abs(d - 1.5) < 1e-9))
    assert(!w.clean)
    assert(w.json.contains(""""duck_drift":1.500"""))
    assert(w.json.endsWith(""""clean_window":false"""))
  }

  test("comparator within band and a quiet host give a clean window") {
    val now = saved.map { case (k, v) => k -> v * 1.1 }
    val w = Bench.adjudicate(extP90 = 1.2, cpus = 4, duckNow = Some(now), duckPrev = saved)
    assert(w.duckDrift.exists(d => math.abs(d - 1.1) < 1e-9))
    assert(w.clean)
    assert(w.json == ""","ext_p90":1.200,"duck_drift":1.100,"clean_window":true""")
  }
}
