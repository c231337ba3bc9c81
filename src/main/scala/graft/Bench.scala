package graft
import org.apache.spark.sql.SparkSession
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
  *  - caches (Spark catalog + graft chunk-table memos + registered
  *    persisted intermediates) are cleared before EVERY pass, so each
  *    pass pays identical cold-plan work and passes are comparable;
  *  - every query is fully materialized through the `noop` sink — a
  *    `count()` would let Catalyst prune the projections being measured;
  *  - failures are REPORTED (per-query "errors" map + rc!=0), never
  *    swallowed; warmup ignores only NonFatal errors.
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The JVM-wide whole-stage-codegen class cache defaults to 100
      // entries; this catalog generates ~2,000 distinct codegen units
      // per pass, so at the default EVERY query re-Janino-compiles all
      // its generated classes on EVERY evaluation (PhaseProbe r15:
      // per-rep compile counts of 60/67/44 for q119/q166/q80 with the
      // identical source text, ~0.4-0.7 s per query per pass). Sizing
      // the cache to the workload turns repeat evaluations into cache
      // hits — a compiler-artifact cache keyed on generated SOURCE,
      // never on data or results (every pass still recomputes from
      // parquet; Bench's clearAll() wipes all data caches). Not a
      // local[32] tune: any driver serving a many-query workload needs
      // the same (the compiled-class footprint is a few hundred MB at
      // worst, driver-side only).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def clearAll(): Unit = {
      pipeline.Chunker.clearCaches() // unpersist + forget (not just unpersist)
      spark.catalog.clearCache()
    }

    // Dev aid: SPARK_GRAFT_ONLY=q61,q41 restricts the suite to queries
    // whose name starts with a listed prefix. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    if (warmDir.nonEmpty) {
      SparkEntry.sharedBuilds.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir)) catch { case NonFatal(_) => () } }
      names.foreach { n =>
        try materialize(SparkEntry.queries(n)(spark, warmDir))
        catch { case NonFatal(_) => () }
      }
    }

    var errors = Map.empty[String, String]
    def timeOne(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable =>
        if (!errors.contains(name))
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // Shared memoized builds (Chunker.sharedTable) are materialized
    // FIRST each pass under their own named timers, so the build cost
    // of a train-once-serve-many intermediate no longer lands on
    // whichever consumer query runs first in alphabetical order
    // (VERDICT r9 "what's wrong" #1: q84/q80-class numbers swung 3-10x
    // round-over-round purely from attribution). A filtered dev run
    // times its queries standalone.
    val shared = if (only.isEmpty) SparkEntry.sharedBuilds else Nil
    val timings = (1 to passes).map { _ =>
      clearAll()
      (shared.map { case (name, fn) => timeOne(name)(materialize(fn(spark, sfDir))) } ++
        names.map(n => timeOne(n)(materialize(SparkEntry.queries(n)(spark, sfDir))))).toMap
    }
    val summary = summarize(timings, shared.map(_._1) ++ names, errors.keySet)

    def jstr(s: String) = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Millisecond precision: 17-digit doubles made the r3/r4 one-line
    // JSON outgrow the driver's tail-capture window (parsed: null both
    // rounds); 130 queries at 3 decimals fit comfortably. Plain decimal
    // string, never scientific notation.
    def jnum(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(m: Seq[(String, Double)]) =
      m.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${jnum(summary.value)},"value_min":${jnum(summary.valueMin)},"unit":"sec","passes":${timings.size},"cpus":$cpus,"queries":${jmap(summary.queries)},"queries_min":${jmap(summary.queriesMin)},"queries_spread":${jmap(summary.queriesSpread)},"shared_builds":${jmap(summary.sharedBuilds)},"side_effect_queries":${jmap(summary.sideEffects)},"errors":$es,"sf":"$sfDir"}"""
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
      if (cpus.toInt == Runtime.getRuntime.availableProcessors()) "BENCH_detail.json"
      else s"BENCH_detail_c$cpus.json")
    for (p <- Seq(detailPath, repoDetail).distinct)
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      catch { case NonFatal(e) => System.err.println(s"bench detail write failed ($p): $e") }
    println(line)
    spark.stop()
    val compact = s"""{"metric":"total","value":${jnum(summary.value)},"unit":"sec","passes":${timings.size},"n_queries":${summary.queries.size},"n_errors":${errors.size},"sf":"$sfDir","detail":"$detailPath"}"""
    println(compact)
    if (errors.nonEmpty) sys.exit(1)
  }
}
