package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests of Bench's pure statistics (the per-entry across-pass
  * statistic and the headline total built from it) and of the pure
  * Harness helpers every main shares.
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

  test("Harness.str: JSON strings round-trip quotes, backslashes and control chars") {
    // the oracle_sql.json contract: Verify writes {str(name): str(sql)}
    // and the checker's json.load must read back the exact SQL text
    val sql = "select \"a\\b\"\n\r\t\u0001 from t"
    val json = s"{${Harness.str("q1")}: ${Harness.str(sql)}}"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]])
    assert(parsed.size == 1 && parsed.get("q1") == sql)
  }

  test("Harness.only: prefix filter; a shared build runs only when a prefix matches it") {
    val all = Harness.only(Map.empty)
    assert(all("q61_top") && all("shared:x"))
    val q61 = Harness.only(Map("SPARK_GRAFT_ONLY" -> "q61"))
    assert(q61("q61_top") && q61("q61_other") && !q61("q62_top"))
    assert(!q61("shared:x") && !q61("shared:y"))
    val optIn = Harness.only(Map("SPARK_GRAFT_ONLY" -> "q61, shared:x"))
    assert(optIn("q61_top") && optIn("shared:x") && !optIn("shared:y"))
  }

  test("Harness.passes: default when unset, rejects 0 and non-integers") {
    assert(Harness.passes(5, Map.empty) == 5)
    assert(Harness.passes(5, Map("SPARK_GRAFT_PASSES" -> "2")) == 2)
    for (bad <- Seq("0", "-1", "x"))
      intercept[IllegalArgumentException](
        Harness.passes(5, Map("SPARK_GRAFT_PASSES" -> bad)))
  }
}
