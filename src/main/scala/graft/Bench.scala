package graft
import scala.util.control.NonFatal

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR,
  * prints the full {"metric","value","unit","queries",...} JSON line
  * (also written to SPARK_GRAFT_BENCH_OUT, default
  * /tmp/graft_bench.json), then — as the very last stdout line after
  * spark.stop() — a compact headline summary small enough to survive a
  * bounded tail capture intact.
  *
  * Harness rules (VERDICT r1 #5, r2 #5):
  *  - a WARMUP pass at sf0.001 first, so the timed passes measure plans,
  *    not JVM/codegen/session warmup;
  *  - FIVE timed passes per query (SPARK_GRAFT_PASSES overrides),
  *    reporting the per-query TRIMMED MEAN across passes — drop the
  *    fastest and the slowest pass, mean the middle — plus min in
  *    "queries_min" and max-min in "queries_spread": a single-shot
  *    timing cannot tell a 127x plan regression from one GC pause
  *    (r2's official 165 s vs its 37 s re-run), and a 3-pass median
  *    lets TWO noisy passes inflate an untouched query 2.3-4x (the
  *    round-12 reboot did exactly that to the graph family, q143 pass
  *    spread 13.2 s, while per-pass minima sat at the r11 medians).
  *    With 5 passes the statistic needs three bad passes to move.
  *    "value" = sum of the per-entry trimmed means over plan queries
  *    and shared builds (see [[summarize]]);
  *  - each pass is one [[Harness.pass]]: caches cleared first, so every
  *    pass pays identical cold-plan work; every entry materialized
  *    through the `noop` sink; failures REPORTED (per-query "errors"
  *    map + rc!=0), never swallowed; every entry metered —
  *    "executor_cpu_s", "shuffle_write_bytes" and "spill_bytes" (disk
  *    spill) carry the same across-pass statistic as "queries" for
  *    every timed entry.
  *
  * Host load is not corrected for here: a speed claim is a paired,
  * alternating parent/change run of the perfbench harness, not a
  * comparison of two Bench totals taken at different times.
  */
object Bench {
  /** Correctness entries whose evaluation does eager side-effecting
    * work by design (proof harnesses, not plans) — timed and reported,
    * but outside the headline total.
    */
  val SideEffectQueries: Set[String] =
    Set("ref_memo_resume", "q89_jsonl_roundtrip", "q90_csv_roundtrip",
      "q91_clustered_write", "q96_compacted_rewrite", "q125_orc_roundtrip",
      "q137_merge_schema", "q140_ivf_cells_layout", "q212_avro_roundtrip")

  /** True median: average of the two middle elements for even sizes
    * (upper-middle alone would report the SLOWER of 2 passes).
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Per-query across-pass statistic (VERDICT r12 #1a): at >=4 passes
    * the trimmed mean (drop fastest + slowest, mean the middle); the
    * true median below that (short dev runs). A 3-pass median moves
    * whenever 2 of 3 passes are noisy; the 5-pass trimmed mean needs
    * three.
    */
  private[graft] def stat(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size >= 4) s.slice(1, s.size - 1).sum / (s.size - 2)
    else median(xs)
  }

  /** The per-entry sections of the artifact and the headline totals.
    * `queries*` hold plan queries only; `value` and `valueMin` sum the
    * plan queries AND the shared builds (the shared work was always
    * part of the total — it used to hide inside its first consumer).
    */
  private[graft] final case class Summary(
      queries: Seq[(String, Double)], queriesMin: Seq[(String, Double)],
      queriesSpread: Seq[(String, Double)], sharedBuilds: Seq[(String, Double)],
      sideEffects: Seq[(String, Double)], value: Double, valueMin: Double)

  /** Summarize completed passes (one name -> seconds map per pass) over
    * `entries`. An errored entry's wall time is a fast-fail, not a
    * measurement (ADVICE r6), so it appears in no section and no total;
    * side-effect entries are reported but kept out of the totals.
    */
  private[graft] def summarize(timings: Seq[Map[String, Double]],
      entries: Seq[String], errors: Set[String]): Summary = {
    val timed = entries.filterNot(errors)
    def across(f: Seq[Double] => Double) = timed.map(n => n -> f(timings.map(_(n))))
    val stats = across(stat)
    val mins = across(_.min)
    // max - min across passes: lets a reader classify 1.3-1.6x
    // run-to-run drift as noise from the artifact alone (VERDICT r5 #6)
    val spread = across(xs => xs.max - xs.min)
    val isShared = (kv: (String, Double)) => kv._1.startsWith("shared:")
    val isSide = (kv: (String, Double)) => SideEffectQueries(kv._1)
    val isPlan = (kv: (String, Double)) => !isShared(kv) && !isSide(kv)
    Summary(stats.filter(isPlan), mins.filter(isPlan), spread.filter(isPlan),
      stats.filter(isShared), stats.filter(isSide),
      stats.filterNot(isSide).map(_._2).sum, mins.filterNot(isSide).map(_._2).sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val cpus = Harness.cpus
    val passes = Harness.passes(5)
    val spark = Harness.session(cpus)

    val keep = Harness.only()
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(keep)
    // Shared memoized builds (SessionCache.shared) are materialized
    // FIRST each pass under their own named timers, so the build cost
    // of a train-once-serve-many intermediate no longer lands on
    // whichever consumer query runs first in alphabetical order
    // (VERDICT r9 "what's wrong" #1: q84/q80-class numbers swung 3-10x
    // round-over-round purely from attribution).
    val shared = SparkEntry.sharedBuilds.filter(kv => keep(kv._1))
    val entries = shared ++ names.map(n => n -> SparkEntry.queries(n))
    if (warmDir.nonEmpty) Harness.pass(spark, warmDir, entries)

    val runs = (1 to passes).map(_ => Harness.pass(spark, sfDir, entries).toMap)
    val errors = entries.flatMap { case (n, _) =>
      runs.flatMap(_(n).error).headOption.map(n -> _) }.toMap
    val summary = summarize(runs.map(_.map { case (n, m) => n -> m.sec }),
      entries.map(_._1), errors.keySet)

    import Harness.{num, str}
    def jmap(m: Seq[(String, Double)], fmt: Double => String = num) =
      m.map { case (k, v) => str(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    // the meters of every timed entry, under the same across-pass
    // statistic as "queries": constructor seconds, Spark jobs started
    // (rounded), executor CPU seconds, shuffle-write and disk-spill bytes
    val timed = entries.map(_._1).filterNot(errors.contains)
    def meter(f: Harness.Measure => Double) = timed.map(n => n -> stat(runs.map(r => f(r(n)))))
    val whole = (v: Double) => BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toString
    val es = errors.map { case (k, v) => str(k) + ":" + str(v) }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${num(summary.value)},"value_min":${num(summary.valueMin)},"unit":"sec","passes":${runs.size},"cpus":$cpus,"queries":${jmap(summary.queries)},"queries_min":${jmap(summary.queriesMin)},"queries_spread":${jmap(summary.queriesSpread)},"shared_builds":${jmap(summary.sharedBuilds)},"side_effect_queries":${jmap(summary.sideEffects)},"constructor_s":${jmap(meter(_.ctorSec))},"jobs":${jmap(meter(_.jobs.toDouble), whole)},"executor_cpu_s":${jmap(meter(_.cpuSec))},"shuffle_write_bytes":${jmap(meter(_.shuffleWrite.toDouble), whole)},"spill_bytes":${jmap(meter(_.diskSpill.toDouble), whole)},"errors":$es,"sf":"$sfDir"}"""
    // The full per-query line outgrew the driver's 2000-char stdout tail
    // window at ~136 queries (r3/r4/r5 all recorded parsed:null because
    // the line's HEAD — "{"metric":... — fell outside the window). So:
    // the full JSON goes to a file + one human-readable print, and the
    // VERY LAST stdout line is a compact (<200 char) summary that is
    // guaranteed to sit, complete, inside any bounded tail capture.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    // /tmp is volatile across rounds; also persist the detail next to
    // the build (cwd = repo root under the driver's sbt fork) so the
    // full per-query map survives in-repo regardless of tail-capture
    // size (ADVICE r6). A reduced-core run (the driver's scaling
    // block) writes a cpu-suffixed file instead of clobbering the
    // canonical detail — the committed r15 BENCH_detail.json was the
    // c8 scaling run because the low-core invocation ran LAST
    // (VERDICT r15 #8); the full-core canonical run keeps the plain
    // name.
    val repoDetail = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPO_OUT",
      if (cpus == Runtime.getRuntime.availableProcessors()) "BENCH_detail.json"
      else s"BENCH_detail_c$cpus.json")
    for (p <- Seq(detailPath, repoDetail).distinct)
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      catch { case NonFatal(e) => System.err.println(s"bench detail write failed ($p): $e") }
    println(line)
    spark.stop()
    val compact = s"""{"metric":"total","value":${num(summary.value)},"unit":"sec","passes":${runs.size},"n_queries":${summary.queries.size},"n_errors":${errors.size},"sf":"$sfDir","detail":"$detailPath"}"""
    println(compact)
    if (errors.nonEmpty) sys.exit(1)
  }
}
