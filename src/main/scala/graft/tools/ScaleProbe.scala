package graft.tools

import graft.Harness

/** Empirical scale probe (VERDICT r7 #5, widened r9 #2/#3, widened to
  * the FULL catalog r10 #1): run catalog queries once at sf0.1 and once
  * per [[ScaleGen]] N× corpus, and record measured wall-time ratios
  * PLUS per-query shuffle-write and spill bytes in `SCALE.md` — turning
  * the catalog's "linear by construction" claims (bucket caps, prefix
  * filters, sublinear centroid sets, fact-independent graph
  * iterations) into observed data points, and surfacing the failure
  * mode that precedes a wall-time blowup: the q151 defect filled the
  * disk with sort spill before it showed up in seconds.
  *
  * Coverage: factors ≤ [[FullSweepMaxFactor]] sweep EVERY catalog
  * entry (the r9 verdict's top item — the operators most likely to
  * hide a q151-style blowup are precisely the ones never probed);
  * larger factors sweep the [[Headliners]]. Shared memoized builds
  * ([[graft.SparkEntry.sharedBuilds]]) are materialized first under
  * their own named timers, so per-query ratios measure the query, not
  * whichever consumer ran first.
  *
  * Flag rule: a query is FLAGGED when its per-unit cost ratio
  * (wall ratio ÷ input factor) exceeds [[PerUnitFlag]] AND its big-run
  * wall exceeds [[FlagFloorSec]] (constant overheads dominate sub-
  * second queries and would false-flag them; a sub-second query cannot
  * hide a scale cliff that matters).
  *
  * Method: a warmup pass at sf0.001, then each timed pass is one
  * [[graft.Harness.pass]], as in `graft.Bench` (caches cleared first,
  * noop-sink materialization, meters read after a listener-bus drain);
  * per query the MIN of `passes` wall (min, not median — the probe
  * asks "what does the plan cost", and the occasional GC pause is
  * noise the ratio must not absorb) and the MAX of the telemetry
  * counters (conservative for a spill flag).
  */
object ScaleProbe {

  /** Factors up to this sweep the whole catalog; beyond it, the
    * headliners (the 100× corpus exists only for docs-family tables at
    * full fidelity and a full sweep there would spend most of its wall
    * on queries whose inputs grow 100×). Round 13 raises the full
    * sweep 10 → 30 (VERDICT r12 #6): the full catalog now has measured
    * points one decade AND one half-decade up, so "the catalog scales"
    * is a measurement through 30×, not an extrapolation from 10×; 100×
    * stays headliner-only.
    */
  val FullSweepMaxFactor = 30

  /** Per-unit cost ratio (wall ratio ÷ input factor) above which a
    * query is flagged as scaling super-linearly.
    */
  val PerUnitFlag = 1.5

  /** Big-run wall (seconds) below which the flag is suppressed:
    * constant plan/scheduling overheads (~0.1 s) dominate sub-second
    * queries at BOTH scales and the ratio measures noise.
    */
  val FlagFloorSec = 1.0

  /** Documented EXACT evaluation baselines: their measured super-linear
    * growth IS the contract, not a defect — each is the exact arm of an
    * estimate-vs-exact pair whose approximate arm is the measured
    * serving path. They are exempt from the flag GATE but still
    * measured and printed (flag column `exact-baseline`), because the
    * honest number is the evidence that the substitution matters. Note
    * the fixture artifact that makes them O(N·Q) here: the query set is
    * the label-0 slice, a constant FRACTION of the corpus, so Q grows
    * 10× with a 10× replica (ratio ~100×); a production benchmark query
    * set is fixed-size, making these arms linear in N — measured, not
    * argued: `q200_topk_fixed_queries` is the SAME brute scan with Q
    * pinned to 64 and probes SUB-linear at every factor (per-unit 0.43
    * @10×, 0.38 @30×, 0.46 @100×, 0 spill — vs q38's ~9.6 @10×).
    */
  val ExactBaselines: Map[String, String] = Map(
    "q38_cosine_topk" -> ("the documented exact O(N·Q) serving baseline; " +
      "the scale path is q52 multi-probe / q62 IVF / q190 IVF-PQ (all " +
      "sub-linear per-unit above), quality deltas measured in " +
      "AnnRetrievalSubstitutionSpec (fused nDCG@10 0.928)"),
    "q168_hard_negatives" -> ("the exact mining arm; the ANN " +
      "substitution is measured on the real corpus in AnnSubstitutionSpec " +
      "(coverage 1.0, on-hit cosines bit-identical)"),
    "q170_ann_recall" -> ("recall@k eval — the truth arm is exact BY " +
      "DEFINITION; production runs it over a benchmark-sized query " +
      "slice, not a corpus-fraction query set"),
    "q197_ann_ndcg" -> ("nDCG@10 eval — same exact truth arm as q170, " +
      "same benchmark-slice production shape"),
    "shared:ann_eval_truth" -> ("the memoized exact truth arm q170/q197 " +
      "read (r16) — the SAME O(N·Q) brute scan those rows used to " +
      "rebuild inline, now built once and itemized; scoped with them"))

  /** Documented super-linear rows that are NOT exact baselines: the
    * growth decomposes into known, contracted components with a
    * measured sub-linear production twin. EMPTY since r12: the sole
    * r11 entry (q62's inline N·√N IVF build + corpus-fraction query
    * fixture) was retired STRUCTURALLY — the catalog row now serves
    * the q200-pattern fixed request from the persisted cell layout
    * (Similarity.sharedIvfServing), so the row measures the
    * production serving shape and the build is itemized under
    * `shared:ivf_serving` like every other train-once intermediate.
    */
  val DocumentedSuperlinear: Map[String, String] = Map.empty

  /** (probe family, query) — the scale-critical headliners probed at
    * every factor, families keep the tables readable.
    */
  val Headliners: Seq[(String, String)] = Seq(
    "dedup/ANN" -> "q41_dedup_near",
    "dedup/ANN" -> "q151_prefix_join",
    "dedup/ANN" -> "q160_semdedup",
    "dedup/ANN" -> "q62_ann_ivf",
    "dedup/ANN" -> "q190_ivfpq_serving",
    "dedup/ANN" -> "q200_topk_fixed_queries",
    "dedup/ANN" -> "q130_minhash_estimate",
    "dedup/ANN" -> "q179_containment_dedup",
    "dedup/ANN" -> "q188_dedup_recall",
    "dedup/ANN" -> "q205_bloom_decontaminate",
    "graph" -> "q119_pagerank",
    "graph" -> "q141_connected_components",
    "graph" -> "q143_cc_pointer_doubling",
    "graph" -> "q146_sssp",
    "graph" -> "q166_label_prop",
    "text" -> "q163_dup_spans",
    "text" -> "q167_bigram_nll",
    "text" -> "q174_inverted_index",
    "text" -> "q201_c4_line_removal",
    "text" -> "q203_exactsubstr_trim",
    // the multimodal dedup member rides the docs corpus like the text
    // family; added r11 with the native-expression phash (VERDICT r10
    // #7 asked for its 100x point)
    "text" -> "q209_media_phash_neardup",
    "events/rel" -> "q80_session_concurrency",
    "events/rel" -> "q124_winsorize")

  /** One entry's wall seconds (NaN when it failed) and meters. */
  final case class Measure(sec: Double, shuffleWrite: Long, memSpill: Long,
                           diskSpill: Long) {
    def merge(o: Measure): Measure = Measure(
      if (sec.isNaN) o.sec else if (o.sec.isNaN) sec else math.min(sec, o.sec),
      math.max(shuffleWrite, o.shuffleWrite),
      math.max(memSpill, o.memSpill),
      math.max(diskSpill, o.diskSpill))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(
      s"""$msg
         |usage: ScaleProbe [<baseDir>] [<outMd>] [<bigDir>:<factor> ...]
         |  defaults: baseDir=/root/testdata/sf0.1 outMd=/root/repo/SCALE.md
         |            bigs=/root/repo/scaleprobe/x10:10
         |env: SPARK_GRAFT_PASSES (default 2),
         |     SPARK_GRAFT_ONLY=q151,... (prefix filter),
         |     SPARK_GRAFT_SCALE_FULL=0 (headliners only at every factor)""".stripMargin)
    sys.exit(2)
  }

  /** `<dir>:<factor>` → pair, with a usage message instead of a raw
    * StringIndexOutOfBounds on a missing colon (ADVICE r9).
    */
  private def parseBig(a: String): (String, Int) = {
    val i = a.lastIndexOf(':')
    if (i <= 0 || i == a.length - 1) usage(s"bad <bigDir>:<factor> arg: $a")
    val f = a.substring(i + 1)
    if (!f.forall(_.isDigit)) usage(s"non-numeric factor in arg: $a")
    a.substring(0, i) -> f.toInt
  }

  def main(args: Array[String]): Unit = {
    val DefaultBase = "/root/testdata/sf0.1"
    val DefaultOut = "/root/repo/SCALE.md"
    val DefaultBigs = Seq("/root/repo/scaleprobe/x10" -> 10)
    // every arg count 0..n is handled explicitly (ADVICE r9: 1-/2-arg
    // calls silently fell through to the built-in defaults)
    val (baseDir, outMd, bigs) = args.toSeq match {
      case Seq() => (DefaultBase, DefaultOut, DefaultBigs)
      case Seq(b) => (b, DefaultOut, DefaultBigs)
      case Seq(b, out) => (b, out, DefaultBigs)
      case Seq(b, out, rest @ _*) => (b, out, rest.map(parseBig))
    }
    val passes = Harness.passes(2)
    val fullSweep = sys.env.getOrElse("SPARK_GRAFT_SCALE_FULL", "1") != "0"
    val spark = Harness.session(32)

    val keep = Harness.only()
    val headNames = Headliners.map(_._2).filter(keep)
    val allNames = graft.SparkEntry.queries.keys.toSeq.sorted.filter(keep)
    val shared = graft.SparkEntry.sharedBuilds.filter(kv => keep(kv._1))
    val needFull = fullSweep && bigs.exists(_._2 <= FullSweepMaxFactor)
    val warmNames = if (needFull) allNames else headNames

    // entries for one measured sweep: shared builds first (their own
    // rows — attribution), then the query set for this factor. The
    // four EXACT O(N·Q)/O(N²) eval baselines are measured through 10×
    // — where their documented super-linear contract numbers live
    // (q168 84× per-unit at 30× would spend ~34 min/pass and 6.5 GB
    // of spill re-measuring a contract the 10× row already pins) —
    // and excluded above it; their PRODUCTION twins (q52/q62/q190/
    // q200, the AnnSubstitutionSpec substitution) stay in every sweep.
    def entriesFor(factor: Int): Seq[Harness.Entry] = {
      val names0 = if (fullSweep && factor <= FullSweepMaxFactor) allNames else headNames
      val names = if (factor <= 10) names0
        else names0.filterNot(ExactBaselines.contains)
      // the exact-arm shared build is scoped out above 10× with its
      // consumers (same reasoning as the query-name exclusion)
      val sharedFor = if (factor <= 10) shared
        else shared.filterNot(kv => ExactBaselines.contains(kv._1))
      sharedFor ++ names.map(n => n -> graft.SparkEntry.queries(n))
    }

    // warm-up corpus: the sf0.001 fixture beside the default sf0.1 base
    val warmDir = java.nio.file.Paths.get(DefaultBase).resolveSibling("sf0.001").toString
    Harness.pass(spark, warmDir,
      shared ++ warmNames.map(n => n -> graft.SparkEntry.queries(n)))

    // a per-query failure (e.g. a disk-filling spill) must not lose the
    // other measurements — record it as NaN and keep probing.
    // Shuffle partitions scale with the corpus factor (32 per 10× —
    // SURVEY's own sizing rule: partitions sized so a task's slice
    // fits executor memory at the target SF; a fixed 32 at 30× put
    // ~30 MB×arrays per task into the pair aggregations and produced
    // the only observed spill). AQE coalesces the excess on the small
    // queries, so ratios stay comparable.
    def time(dir: String, factor: Int): Map[String, Measure] =
      (1 to passes).map { p =>
        spark.conf.set("spark.sql.shuffle.partitions",
          (32 * math.max(1, math.ceil(factor / 10.0).toInt)).toString)
        Harness.pass(spark, dir, entriesFor(factor), (n, m) => {
          m.error.foreach(e => System.err.println(s"SCALEPROBE FAIL $n @ $dir: $e"))
          System.err.println(f"SCALEPROBE $dir pass $p $n ${m.sec}%.2f s " +
            f"shufW=${m.shuffleWrite / 1e6}%.0f MB " +
            f"spill=${m.memSpill / 1e6}%.0f/${m.diskSpill / 1e6}%.0f MB")
        }).map { case (n, m) => n -> Measure(if (m.error.isEmpty) m.sec else Double.NaN,
          m.shuffleWrite, m.memSpill, m.diskSpill) }.toMap
      }.reduce((a, b) => a.map { case (k, v) => k -> v.merge(b(k)) })

    val base = time(baseDir, 1)
    val bigByFactor = bigs.map { case (dir, f) => (f, time(dir, f)) }
    spark.stop()

    val moduleOf = graft.SparkEntry.moduleOf
    val headFam = Headliners.map(_.swap).toMap // query -> probe family
    def familyOf(n: String): String =
      if (n.startsWith("shared:")) "shared"
      else if (graft.Bench.SideEffectQueries(n)) "side-effect"
      else headFam.getOrElse(n, moduleOf.getOrElse(n, "?"))

    def mb(v: Long): String = f"${v / 1e6}%.0f"
    final case class Row(name: String, fam: String, baseSec: Double,
                         bigSec: Double, factor: Int,
                         shufW: Long, memSp: Long, diskSp: Long) {
      def ratio: Double = bigSec / baseSec
      def perUnit: Double = ratio / factor
      def failed: Boolean = baseSec.isNaN || bigSec.isNaN
      def superLinear: Boolean =
        failed || (perUnit > PerUnitFlag && bigSec > FlagFloorSec)
      def exempt: Boolean = !failed &&
        (ExactBaselines.contains(name) || DocumentedSuperlinear.contains(name))
      def flagged: Boolean = superLinear && !exempt
    }
    def rowsFor(factor: Int, big: Map[String, Measure]): Seq[Row] =
      entriesFor(factor).map(_._1).flatMap { n =>
        (base.get(n), big.get(n)) match {
          case (Some(b), Some(g)) => Some(Row(n, familyOf(n), b.sec, g.sec,
            factor, g.shuffleWrite, g.memSpill, g.diskSpill))
          case _ => None
        }
      }
    // markdown tables are composed OUTSIDE the stripMargin templates:
    // rows begin with '|', which stripMargin would eat as a margin
    // marker (it mangled the first two generated tables)
    def tableOf(rows: Seq[Row]): String = {
      val f = rows.head.factor
      val body = rows.map { r =>
        val flag = if (r.failed) "FAIL"
          else if (r.flagged) "⚠"
          else if (r.exempt && r.superLinear) "exact-baseline"
          else ""
        f"| ${r.name} | ${r.fam} | ${r.baseSec}%.2f | ${r.bigSec}%.2f " +
          f"| ${r.ratio}%.1f× | ${r.perUnit}%.2f | ${mb(r.shufW)} " +
          f"| ${mb(r.memSp)} / ${mb(r.diskSp)} | $flag |"
      }
      (Seq(
        s"| query | family | sf0.1 (s) | ${f}× (s) | ratio | per-unit | ${f}× shuffle write (MB) | ${f}× spill mem/disk (MB) | flag |",
        "|---|---|---|---|---|---|---|---|---|") ++ body).mkString("\n")
    }

    val allRows = bigByFactor.map { case (f, big) => (f, rowsFor(f, big)) }
    val flagged = allRows.flatMap { case (f, rows) =>
      rows.filter(_.flagged).map(r => s"${r.name}@${f}×") }
    val exempted = allRows.flatMap { case (f, rows) =>
      rows.filter(r => r.exempt && r.superLinear).map(r => (f, r)) }
    val spilled = allRows.flatMap { case (f, rows) =>
      rows.filter(r => r.memSp + r.diskSp > 0).map(r => (f, r)) }
    val spillTotal = allRows.flatMap(_._2).map(r => r.memSp + r.diskSp).sum
    val factors = bigs.map(_._2).mkString("×, ") + "×"
    val flagLine =
      if (flagged.isEmpty)
        s"**Flag gate: 0 of ${allRows.map(_._2.size).sum} measured rows " +
          s"flagged** (per-unit cost ratio > $PerUnitFlag with big-run " +
          s"wall > $FlagFloorSec s, or a failed run)."
      else
        s"**Flag gate: ${flagged.size} flagged — ${flagged.mkString(", ")}** " +
          "(per-unit cost ratio = wall ratio ÷ input factor; investigate before scale-up)."
    val exemptPara =
      if (exempted.isEmpty) ""
      else "\n\nDocumented rows measured super-linear (EXEMPT from the " +
        "gate — the growth is the contract: exact O(N·Q) eval baselines " +
        "whose fixture query set grows with the corpus, and build arms " +
        "whose decomposition + measured sub-linear serving twin are " +
        "cited; scaladocs of `ExactBaselines`/`DocumentedSuperlinear`):\n\n" +
        exempted.map { case (f, r) =>
          f"- **${r.name}@${f}×** ${r.ratio}%.1f× (per-unit ${r.perUnit}%.2f): " +
            (ExactBaselines ++ DocumentedSuperlinear)(r.name) }.mkString("\n")
    val spillPara =
      if (spilled.isEmpty) ""
      else "\n\nRows with non-zero spill (wall must stay sub-linear for " +
        "this to read as graceful degradation rather than a cliff):\n\n" +
        spilled.map { case (f, r) =>
          f"- ${r.name}@${f}× spill ${mb(r.memSp)}/${mb(r.diskSp)} MB, " +
            f"wall ${r.bigSec}%.2f s, per-unit ${r.perUnit}%.2f" }
          .mkString("\n")
    val md =
      s"""# SCALE — measured scaling of the FULL catalog (10×) and the scale headliners ($factors)
         |
         |`graft.tools.ScaleGen` synthesizes $factors replicas of the
         |sf0.1 corpus — documents+embeddings (deterministic replicas
         |that preserve the exact-duplicate rate and same-length
         |near-dups while decorrelating replica shingles and growing
         |vocabulary per Heaps' law) AND, since round 9, the trade
         |facts + events (`generateFacts`: dimensions copied, orders/
         |lineitem replicated with orderkey offsets, events replicated
         |with fresh user ids over the same period) — and
         |`graft.tools.ScaleProbe` times the catalog on every corpus:
         |EVERY catalog entry at factors ≤ $FullSweepMaxFactor (round 10:
         |the full-catalog scale gate — 179 plan queries previously had
         |no measured scale point), the headliners beyond that (min of
         |$passes cache-cleared passes, noop sink, local[32], JVM heap
         |${Runtime.getRuntime.maxMemory / (1L << 30)} GiB, shuffle
         |partitions scaled 32-per-10× — both halves of the production
         |sizing rule: a task's slice must fit executor memory at the
         |target SF, and executor memory scales with the data; at 100×
         |the sf0.1 corpus the default 8 GiB fixture heap spills ~GBs in
         |the aggregate-heavy operators while wall time STAYS sub-linear
         |— graceful degradation — and a data-sized heap clears it).
         |Shared memoized builds (`SparkEntry.sharedBuilds`) are
         |materialized first under their own `shared:` rows, so per-query
         |ratios measure the query, not whichever consumer ran first.
         |Per-query SHUFFLE-WRITE and SPILL bytes come from the
         |stage-completed task metrics (max across passes), attributed
         |after a deterministic listener-bus drain. Reproduce:
         |
         |```
         |sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1 /root/repo/scaleprobe/x10 10"
         |SPARK_DRIVER_MEM=32g sbt "runMain graft.tools.ScaleProbe /root/testdata/sf0.1 /root/repo/SCALE.md /root/repo/scaleprobe/x10:10 /root/repo/scaleprobe/x30:30 /root/repo/scaleprobe/x100:100"
         |```
         |
         |$flagLine$exemptPara$spillPara
         |
         |""".stripMargin +
        allRows.map { case (f, rows) =>
          val title = if (fullSweep && f <= FullSweepMaxFactor)
            s"## ${f}× corpus — full catalog (${rows.size} rows)"
          else s"## ${f}× corpus — headliners"
          title + "\n\n" + tableOf(rows) }.mkString("\n\n") +
      s"""
         |
         |A wall ratio ≲ the input growth (plus constant overheads at
         |the small end) is the linearity the 100-TB designs claim:
         |banded LSH with bucket caps (q41), AllPairs/PPJoin
         |prefix+length+positional filtering (q151), k-means-blocked
         |SemDeDup (q160), √N-centroid IVF (q62), IVF-PQ ADC serving
         |(q190). The GRAPH family's inputs scale through the fact
         |tables while the nation graph keeps 25 nodes — the expected
         |shape is edge-build-linear with iteration cost flat, so
         |ratios well BELOW the input growth. The TEXT family (dup
         |spans, bigram NLL, inverted index) is explode+aggregate
         |shaped — at-or-below linear. Queries reading only the copied
         |dimension tables have ratio ≈ 1 (their input does not grow).
         |SPILL is the early-warning column: the r8 q151 defect filled
         |the disk with sort spill before it showed in wall time; total
         |spill observed this run across every row × factor:
         |${mb(spillTotal)} MB.
         |
         |## What the probe has caught so far
         |
         |The probe is not a formality — every widening found a real
         |defect. Round 8 (first run): q151's verify stage joined every
         |candidate pair back to both docs' exploded shingle ROWS
         |(|cands| × |shingles| ≈ 1B rows at 10×) and filled the disk
         |with sort spill; and the first 10× generator kept the source's
         |tiny CLOSED vocabulary, which saturates the 3-gram shingle
         |space (every shingle's df grows with corpus size → 132×
         |candidate growth at 10× input — the documented worst case for
         |exact similarity joins). Fixes, both measured above: (a) q151
         |now prunes candidates with the full AllPairs/PPJoin bundle
         |inside the pair aggregation and verifies via array_intersect
         |over per-doc shingle arrays (one row per candidate): 260 s →
         |~15 s at 10×, and ~1.8× faster at sf0.1, bit-identical oracle;
         |(b) ScaleGen replicas mint fresh word types at ~30% of
         |positions (open-vocabulary growth, as real crawls exhibit), so
         |shingle df distributions stay corpus-size-independent, as they
         |are in natural text. Round 9 (spill telemetry + 30×/100×):
         |caught q151's 30× sort spill (fixed by scaling shuffle
         |partitions with the corpus) and q188 re-deriving the certified
         |pair table per query (fixed by sharing `corpusPrefixJoin`).
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd),
      md.getBytes("UTF-8"))
    println(md)
    if (flagged.nonEmpty) {
      System.err.println(s"SCALEPROBE FLAGGED: ${flagged.mkString(", ")}")
      sys.exit(1)
    }
  }
}
