package graft

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

/** Scale-killer regression guard over EVERY catalog plan: future rounds
  * cannot silently ship a cartesian product, an unplanned
  * nested-loop join, or a single-partition global window — the three
  * shapes that work on a 60k-row fixture and melt on a 1000-executor
  * cluster.
  *
  *  - CartesianProductExec (a non-broadcast cross join) is NEVER
  *    allowed: every documented cross in the catalog is against a
  *    broadcast scalar/sample, which plans as a broadcast join.
  *  - BroadcastNestedLoopJoinExec is allowed ONLY for the audited
  *    crossJoin(broadcast(...)) patterns in [[BnljWhitelist]] — each
  *    entry is a 1-row rate/stat scalar, a ~sqrt(N) sample, or a
  *    documented exact baseline (VERDICT r4/r5 plan audits).
  *  - A Window with an EMPTY partition spec funnels the whole dataset
  *    through one task: all global orders must go through the
  *    two-phase plans/GlobalOrder (runningSum, withRanks) instead.
  *
  * Plans are inspected pre-execution ([[org.apache.spark.sql.Dataset.queryExecution]].sparkPlan) with
  * subqueries included, so the guard costs plan construction only —
  * except the handful of eager side-effect entries (file round-trips),
  * which write their sf0.001-sized fixtures while building.
  */
class PlanGuardSpec extends AnyFunSuite {
  import TestSpark.spark

  /** name -> why the BroadcastNestedLoopJoin there is the plan we want.
    * Every entry is crossJoin(broadcast(X)) where X is a 1-row scalar,
    * a bounded literal/dim, or a documented sublinear sample — the
    * broadcast side can never grow with the corpus.
    */
  private val BnljWhitelist: Map[String, String] = Map(
    "q38_cosine_topk" -> "documented exact O(N*Q) baseline: corpus x broadcast query set",
    "q200_topk_fixed_queries" ->
      "q38's scan with Q PINNED (limit 64) — the build side classifies 'limited', no extra kind needed",
    "q62_ann_ivf" -> "1-row sampling rate + ~sqrt(N) centroid sample, both broadcast",
    "q140_ivf_cells_layout" -> "same ivfScored crossJoins as q62 (rate + sqrt(N) cents)",
    "q139_kmeans" -> "K centroids packed into ONE broadcast row, per Lloyd sweep",
    "q142_cluster_sample" -> "inherits q139's per-sweep single-broadcast-row crossJoins",
    "q181_product_quantization" -> "q139's single-broadcast-row crossJoin x M subspace codebooks",
    "q189_cluster_silhouette" -> "q139's Lloyd crossJoins + one packed-centroid broadcast row",
    "q190_ivfpq_serving" -> "q62's rate/sqrt(N)-cents + q181's Lloyd + queries x k-row ADC tables, all broadcast",
    "q127_triangle_count" -> "1-row edge-count x 1-row triangle-count at the very top",
    "q138_triangle_degree" -> "same 1-row x 1-row stats join as q127",
    "q11_approx_distinct" -> "1-row exact counts x 1-row HLL estimates",
    "q43_tfidf_topterms" -> "1-row corpus source count",
    "q60_lang_id" -> "doc grid x bounded literal language list",
    "q73_gapfill_hourly" -> "1-row min/max time bounds",
    "q82_rolling_dau" -> "1-row date bounds",
    "q88_rate_anomaly" -> "1-row global rate stats",
    "q94_histogram" -> "1-row min/max bin bounds",
    "q185_zorder_layout" -> "1-row min/max normalization bounds",
    "q187_k_anonymity" -> "1-row dataset-k minimum",
    "q188_dedup_recall" -> "three 1-row eval aggregates crossed into the summary row",
    "q98_surprisal" -> "1-row corpus token total",
    "q99_mixture_rebalance" -> "per-source target rates: bounded by source cardinality",
    "q175_temperature_mixture" -> "1-row weight/count totals x per-source counts (q99 pattern)",
    "q211_budget_select" ->
      "1-row token-budget scalar (max over the persisted prefix sum) crossed over the cumsum table",
    "q191_epoch_planner" -> "1-row weight/token totals x per-source aggregates (q175 pattern)",
    "q105_weighted_sample" -> "1-row max weight scalar",
    "q114_bm25" -> "1-row corpus stats (N, avgdl)",
    "q116_equidepth_histogram" -> "1-row total row count",
    "q117_source_divergence" -> "1-row global distribution total",
    "q118_word_pmi" -> "1-row document count",
    "q120_chi_square" -> "1-row grand total, twice (rows/cols margins)",
    "q147_benford" -> "1-row digit-count total",
    "q157_kmv_set_algebra" -> "1-row exact counts x 1-row k-sized sketch stats",
    "q160_semdedup" -> "inherits q139's per-sweep single-broadcast-row crossJoins",
    "q161_rrf_fusion" -> "1-row probe (both arms) + q114's 1-row corpus stats",
    "q167_bigram_nll" -> "1-row vocabulary-size scalar",
    "q168_hard_negatives" -> "documented exact O(N*Q) baseline: corpus x broadcast query set (q38 pattern)",
    "q169_retrieval_agreement" -> "inherits q161's 1-row probe + q114 stats crossJoins",
    "q170_ann_recall" -> "inherits q38's exact-baseline corpus x query-set crossJoin",
    "q197_ann_ndcg" -> "inherits q38's exact-baseline corpus x query-set crossJoin (truth arm)",
    "q173_proportional_sample" -> "1-row corpus total + 1-row base-seat sum, both broadcast",
    "q192_dsir_weights" -> "1-row target/raw occurrence totals into the 256-row bucket model",
    "q207_quality_classifier" -> "1-row class-occurrence totals into the 256-row bucket model (q192's shape)",
    "q193_ccnet_buckets" -> "1-row corpus occurrence total into the unigram LM",
    "ref_token_cost" -> "1-row token total x 4-row model price table")

  /** Entries whose broadcast side legitimately roots at something other
    * than a 1-row aggregate / limit / literal (the globally-allowed
    * shapes). Each extra kind is justified next to its entry; any kind
    * not granted here — above all `unbounded-scan`, a raw corpus
    * subtree — FAILS even for a whitelisted name (VERDICT r7 #7: a
    * whitelist entry must not be able to silently start broadcasting a
    * corpus-sized frame).
    */
  private val BnljExtraKinds: Map[String, Set[String]] = Map(
    // broadcast QUERY SETS: a literal-predicate filter over the vector
    // scan selects the fixed probe/query ids — sublinear by the
    // documented exact-baseline contract, not by shape
    "q38_cosine_topk" -> Set("filtered-scan"),
    "q168_hard_negatives" -> Set("filtered-scan"),
    "q170_ann_recall" -> Set("filtered-scan", "grouped-agg", "sampled"),
    "q197_ann_ndcg" -> Set("filtered-scan", "grouped-agg", "sampled"),
    "q190_ivfpq_serving" -> Set("filtered-scan", "grouped-agg", "sampled"),
    "q161_rrf_fusion" -> Set("filtered-scan"),
    "q169_retrieval_agreement" -> Set("filtered-scan"),
    // per-group dimension tables bounded by group-key cardinality
    // (language list, hour grid bounds, source list, subspace/centroid
    // ids — all O(dim), never O(corpus))
    "q60_lang_id" -> Set("grouped-agg"),
    "q88_rate_anomaly" -> Set("grouped-agg"), // per-event-type rate stats
    "q120_chi_square" -> Set("grouped-agg"),  // per-source/lang margins
    "q73_gapfill_hourly" -> Set("grouped-agg"),
    "q99_mixture_rebalance" -> Set("grouped-agg"),
    "q175_temperature_mixture" -> Set("grouped-agg"),
    "q191_epoch_planner" -> Set("grouped-agg"),
    // the √N centroid set: a hash_fraction sample of the vector scan
    // gated by the 1-row cent_rate aggregate (classifies filtered-scan
    // once the scalar-gate BNLJ is seen through; sublinear by the
    // documented √N contract, IvfSpec's centroid-count test)
    "q62_ann_ivf" -> Set("grouped-agg", "sampled", "filtered-scan"),
    "q140_ivf_cells_layout" -> Set("grouped-agg", "sampled"),
    "q139_kmeans" -> Set("grouped-agg"),
    "q142_cluster_sample" -> Set("grouped-agg", "sampled"),
    "q160_semdedup" -> Set("grouped-agg"),
    "q181_product_quantization" -> Set("grouped-agg"),
    "q189_cluster_silhouette" -> Set("grouped-agg"))

  private val GloballyAllowedKinds = Set("one-row-agg", "limited", "literal")

  /** Classify the bounded-ness of a broadcast build side by its ROOT
    * (descending through row-preserving unary nodes): a groupless
    * aggregate is ≤1 row whatever sits below it; a limit is bounded by
    * its literal; a LocalTableScan is literal data; a grouped aggregate
    * is bounded by key cardinality (per-entry justified); a filter or
    * sample over a scan is sublinear only by contract (per-entry
    * justified); a bare scan — file, cached, or otherwise — is the
    * corpus itself and is never allowed.
    */
  private def classifyBuild(p: org.apache.spark.sql.execution.SparkPlan): String = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      if (a.groupingExpressions.isEmpty) "one-row-agg" else "grouped-agg"
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec |
         _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.CollectLimitExec => "limited"
    case _: org.apache.spark.sql.execution.LocalTableScanExec |
         _: org.apache.spark.sql.execution.EmptyRelationExec => "literal"
    case s: org.apache.spark.sql.execution.SampleExec => classifyBuild(s.child) match {
      case "unbounded-scan" => "sampled"
      case k => k
    }
    case f: org.apache.spark.sql.execution.FilterExec => classifyBuild(f.child) match {
      case "unbounded-scan" => "filtered-scan"
      case k => k
    }
    case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      classifyBuild(im.relation.cachedPlan)
    case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      classifyBuild(aqe.executedPlan)
    // in a FINALIZED adaptive plan, materialized stages are leaves
    // whose real plan is a field; a reused broadcast's original
    // likewise hangs off a leaf — unwrap both or the classifier sees
    // an opaque node where the build side's true root lives
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      classifyBuild(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      classifyBuild(r.child)
    case _: org.apache.spark.sql.execution.FileSourceScanExec |
         _: org.apache.spark.sql.execution.RowDataSourceScanExec => "unbounded-scan"
    // a nested-loop join whose inner side is globally bounded (≤1 row /
    // limit / literal) is a scalar GATE — the √N centroid sample plans
    // as `scan BNLJ broadcast(1-row cent_rate agg)` with the
    // `hash_fraction(id) < cent_rate` selection as the join condition —
    // so the subtree's cardinality class is the STREAM side's, with the
    // condition acting as a filter (unbounded-scan → filtered-scan,
    // sublinear only by contract, per-entry justified like FilterExec)
    case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
      val l = classifyBuild(b.left)
      val r = classifyBuild(b.right)
      def gated(stream: String) =
        if (stream == "unbounded-scan") "filtered-scan" else stream
      if (GloballyAllowedKinds.contains(r)) gated(l)
      else if (GloballyAllowedKinds.contains(l)) gated(r)
      else s"opaque(${b.getClass.getSimpleName})"
    case u if u.children.size == 1 => classifyBuild(u.children.head)
    case other => s"opaque(${other.getClass.getSimpleName})"
  }

  private def checkBuildSide(name: String, b: BroadcastNestedLoopJoinExec,
                             offenders: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val build = b.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
      case _ => b.right
    }
    val kind = classifyBuild(build)
    val allowed = GloballyAllowedKinds ++ BnljExtraKinds.getOrElse(name, Set.empty)
    if (!allowed.contains(kind))
      offenders += s"$name: whitelisted BNLJ broadcasts a '$kind' side " +
        s"(allowed: ${allowed.mkString(",")}) — build root:\n" +
        build.treeString.linesIterator.take(6).mkString("\n")
  }

  /** Check every node [[PlanAudit.nodes]] reaches: persisted,
    * adaptive, stage-wrapped, reused and subquery plans included.
    */
  private def inspect(name: String,
                      plan: org.apache.spark.sql.execution.SparkPlan,
                      offenders: scala.collection.mutable.ArrayBuffer[String]): Unit =
    PlanAudit.nodes(plan).foreach {
      case _: CartesianProductExec =>
        offenders += s"$name: CartesianProduct"
      case b: BroadcastNestedLoopJoinExec if BnljWhitelist.contains(name) =>
        checkBuildSide(name, b, offenders)
      case _: BroadcastNestedLoopJoinExec =>
        offenders += s"$name: BroadcastNestedLoopJoin (not whitelisted)"
      case w: WindowExec if w.partitionSpec.isEmpty =>
        offenders += s"$name: Window with empty partition spec"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        offenders += s"$name: WindowGroupLimit with empty partition spec"
      case _ =>
    }

  test("no catalog plan ships a cartesian, stray nested-loop join, or global window") {
    val d = TestSpark.sf0001
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val badShapes = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, d)
      inspect(name, df.queryExecution.sparkPlan, offenders)
      // Oracle-backed outputs must be all-scalar columns: the driver's
      // pandas compare hashes cell values and dies on array/map/struct
      // cells ("unhashable type") — the exact failure that cost q165
      // its r6 verdict. Rows-only entries (no oracleSql) may keep
      // complex columns.
      if (SparkEntry.oracleSql.contains(name)) {
        df.schema.fields.foreach { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType =>
              badShapes += s"$name: ${f.name} is ${f.dataType.simpleString}"
            case _ =>
          }
        }
      }
    }
    // free the persisted intermediates the constructions registered
    SessionCache.clear()
    assert(offenders.isEmpty,
      s"scale-killer shapes found:\n${offenders.mkString("\n")}")
    assert(badShapes.isEmpty,
      s"oracle-compared queries with non-scalar output columns:\n${badShapes.mkString("\n")}")
  }

  test("the invariants hold on every FINAL adaptive plan (AQE on)") {
    // VERDICT r9 #2: production runs adaptive — skew-join splits,
    // partition coalescing, and runtime join demotions can change the
    // shapes the static walk above certifies. EXECUTE every catalog
    // entry at sf0.001 (TestSpark leaves spark.sql.adaptive.enabled at
    // its default true; collect(), not foreach/noop, is what finalizes
    // THIS df's AdaptiveSparkPlanExec) and re-run the same inspection
    // on the re-optimized plan, stage leaves unwrapped.
    val d = TestSpark.sf0001
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val unfinalized = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, d)
      df.collect()
      df.queryExecution.executedPlan match {
        case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
            if !aqe.isFinalPlan =>
          // a query whose top plan never finalized would silently pass
          // the walk on its PRE-runtime shape — track it instead
          unfinalized += name
        case _ =>
      }
      inspect(name, df.queryExecution.executedPlan, offenders)
    }
    SessionCache.clear()
    assert(offenders.isEmpty,
      s"scale-killer shapes in FINAL adaptive plans:\n${offenders.mkString("\n")}")
    assert(unfinalized.isEmpty,
      s"adaptive plans not finalized after collect(): ${unfinalized.mkString(", ")}")
  }

  test("a corpus-sized broadcast fails even under a whitelisted name") {
    // VERDICT r7 #7: the whitelist must bound the broadcast SIDE, not
    // just bless the operator — plant the exact regression it guards
    // against: crossJoin(broadcast(<raw corpus scan>)) attributed to a
    // whitelisted entry, and require the build-side classifier to
    // reject it.
    import org.apache.spark.sql.functions.broadcast
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val planted = docs.select("doc_id")
      .crossJoin(broadcast(docs.select(docs("text"))))
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    inspect("q38_cosine_topk", planted.queryExecution.sparkPlan, offenders)
    assert(offenders.exists(_.contains("unbounded-scan")),
      s"planted corpus-sized broadcast was not flagged: $offenders")
    // ... while a 1-row-aggregate broadcast stays allowed
    val ok = docs.select("doc_id").crossJoin(broadcast(
      docs.agg(org.apache.spark.sql.functions.max(docs("doc_id")).as("m"))))
    val okOff = scala.collection.mutable.ArrayBuffer.empty[String]
    inspect("q38_cosine_topk", ok.queryExecution.sparkPlan, okOff)
    assert(okOff.isEmpty, s"bounded broadcast falsely flagged: $okOff")
  }

  test("a cartesian product is caught behind a persisted frame and inside a scalar subquery") {
    // both hide from a plain tree walk: a persisted frame's plan is a
    // field of its InMemoryRelation, a subquery's plan sits in an
    // expression
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cross = docs.select(col("doc_id").as("a"))
      .crossJoin(docs.select(col("doc_id").as("b"))).persist()
    try {
      val behindPersist = docs.join(cross, col("doc_id") === col("a"))
      val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
      inspect("planted_persist", behindPersist.queryExecution.sparkPlan, offenders)
      docs.createOrReplaceTempView("planted_docs")
      val inSubquery = spark.sql(
        """SELECT doc_id, (SELECT count(*) FROM planted_docs x
          |  CROSS JOIN planted_docs y) AS n FROM planted_docs""".stripMargin)
      inspect("planted_subquery", inSubquery.queryExecution.sparkPlan, offenders)
      assert(offenders.toSet == Set("planted_persist: CartesianProduct",
        "planted_subquery: CartesianProduct"), offenders)
    } finally {
      cross.unpersist(false)
      spark.catalog.dropTempView("planted_docs")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }
}
