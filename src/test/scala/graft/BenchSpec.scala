package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests of Bench's pure statistics: the per-entry across-pass
  * statistic and the headline total built from it.
  */
class BenchSpec extends AnyFunSuite {
  test("median: true median, even sizes average the middle pair") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
    assert(Bench.median(Seq(5.0)) == 5.0)
  }

  test("stat: trimmed mean at >=4 passes, median below") {
    // 5 samples: drop 1.0 and 100.0, mean(2,3,4) = 3
    assert(Bench.stat(Seq(100.0, 2.0, 3.0, 4.0, 1.0)) == 3.0)
    // 3 samples: median — two noisy of three CAN move it (why 5 passes)
    assert(Bench.stat(Seq(1.0, 8.0, 9.0)) == 8.0)
  }

  test("summarize: value sums plan queries and shared builds; side-effect and errored entries stay out") {
    val side = "q90_csv_roundtrip"
    assert(Bench.SideEffectQueries(side))
    // five passes per entry; each entry's trimmed mean is its middle value
    def entry(mid: Double) = Seq(mid - 1, mid, mid, mid, mid + 50)
    val per = Map("shared:idx" -> entry(4.0), "q01" -> entry(2.0),
      "q02" -> entry(3.0), side -> entry(40.0), "q03_broken" -> entry(0.5))
    val timings = (0 until 5).map(i => per.map { case (n, xs) => n -> xs(i) })
    val s = Bench.summarize(timings,
      Seq("shared:idx", "q01", "q02", side, "q03_broken"), Set("q03_broken"))
    assert(s.value == 4.0 + 2.0 + 3.0)
    assert(s.valueMin == 3.0 + 1.0 + 2.0)
    assert(s.queries == Seq("q01" -> 2.0, "q02" -> 3.0))
    assert(s.queriesMin == Seq("q01" -> 1.0, "q02" -> 2.0))
    assert(s.queriesSpread == Seq("q01" -> 51.0, "q02" -> 51.0))
    assert(s.sharedBuilds == Seq("shared:idx" -> 4.0))
    assert(s.sideEffects == Seq(side -> 40.0))
  }
}
