package graft.tools

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

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

  /** Every node of `plan`, each visited once (by identity): the walk
    * goes through adaptive plans, query stages and reused exchanges to
    * the plans they hold as fields, into cached plans and into the
    * subquery plans in node expressions (a hand-embedded scalar
    * subquery — q126's bloom build — still carries a LOGICAL plan at
    * this stage and is planned first). A persisted lineage is thus
    * entered once however often the plan reads it — an iterative
    * query references round k-1's cached state from several places in
    * round k's plan, and re-walking it per reference multiplied the
    * counts (q143's 2 pointer-doubling rounds read as 110 shuffles
    * instead of 17).
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = Seq.newBuilder[SparkPlan]
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val held = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
        case _ => Nil
      }
      val subqueries = p.expressions.flatMap(_.collect {
        case pe: PlanExpression[_] => pe.plan
      }).collect {
        case sp: SparkPlan => sp
        case lp: LogicalPlan => p.session.sessionState.executePlan(lp).sparkPlan
      }
      (p.children ++ held ++ subqueries).foreach(visit)
    }
    visit(plan)
    out.result()
  }

  def shapeOf(plan: SparkPlan): Shape =
    nodes(plan).foldLeft(Shape(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)) { (s, p) => p match {
      case n: AQEShuffleReadExec if n.hasSkewedPartition => s.copy(skewReads = s.skewReads + 1)
      case _: ShuffleExchangeLike => s.copy(shuffles = s.shuffles + 1)
      case _: BroadcastExchangeLike => s.copy(bcasts = s.bcasts + 1)
      case _: SortMergeJoinExec => s.copy(smj = s.smj + 1)
      case _: BroadcastHashJoinExec => s.copy(bhj = s.bhj + 1)
      case _: ShuffledHashJoinExec => s.copy(shj = s.shj + 1)
      case _: BroadcastNestedLoopJoinExec => s.copy(bnlj = s.bnlj + 1)
      case _: WholeStageCodegenExec => s.copy(wscg = s.wscg + 1)
      case f: FileSourceScanExec =>
        s.copy(scans = s.scans + 1, pushed = s.pushed + (if (f.dataFilters.nonEmpty) 1 else 0))
      case _: WindowExec => s.copy(windows = s.windows + 1)
      case _: BaseAggregateExec => s.copy(aggs = s.aggs + 1)
      case _ => s
    }}

  /** The bench detail line at `path`, if the file exists. */
  private def benchDetail(path: String): Option[JsonNode] = {
    val f = new java.io.File(path)
    if (f.exists) Some(new ObjectMapper().readTree(f)) else None
  }

  /** Each entry's seconds in a bench detail: its "queries" map plus
    * its side-effect map, whose names are disjoint.
    */
  def benchTimes(detail: JsonNode, path: String): Map[String, Double] = {
    val parsed = Seq("queries", "side_effect_queries")
      .flatMap(k => Option(detail.get(k)).toSeq.flatMap(_.properties.asScala))
      .map(e => e.getKey -> e.getValue.asDouble).toMap
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
    val detail = benchDetail(benchPath)
    val times = detail.map(benchTimes(_, benchPath)).getOrElse(Map.empty)
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
    val prov = detail.fold(s"(no bench detail at $benchPath)") { j =>
      def field(t: String) = Option(j.get(t)).fold("?")(_.asText)
      s"`$benchPath` (mtime ${java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(benchPath))}, sf=${field("sf")}, " +
        s"total=${field("value")} s, passes=${field("passes")})"
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
