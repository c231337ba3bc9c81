package graft.tools

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Dev measurement tool (optimization guide §1: measure first): for
  * each catalog query, split the timed evaluation into its driver-side
  * planning phases (QueryPlanningTracker: analysis / optimization /
  * physical planning) and the execution wall, and count whole-stage
  * codegen compilations (CodegenMetrics) per evaluation — the three
  * candidate sinks for the "small query, nontrivial seconds" pattern
  * the sf0.1 bench is made of.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... PhaseProbe [reps] [namePrefix,...]
  *
  * Output: one line per (query, rep) —
  *   name rep total_s plan_ms opt_ms phys_ms exec_s codegen_n codegen_ms
  * where codegen_n is the delta of the JVM-wide generated-class
  * compile COUNT during the rep (a nonzero count on rep>=2 of the
  * same query means the 100-entry codegen cache is thrashing across
  * the catalog) and codegen_ms the delta of accumulated source-gen +
  * janino time from CodegenMetrics' histogram sum approximation.
  *
  * Never run by the driver; not part of the bench contract.
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val only = if (args.length > 1)
      Some(args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq) else None
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // catalog-sized codegen class cache — see the Bench builder note
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val compileTime =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def clearAll(): Unit = {
      graft.SessionCache.clear()
      spark.catalog.clearCache()
    }

    val names = SparkEntryNames.names(only)
    // Warmup at sf0.001 like Bench so JIT context is comparable.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty) {
      graft.SparkEntry.sharedBuilds.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(_) => () } }
      names.foreach { n =>
        try graft.SparkEntry.queries(n)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case NonFatal(_) => () } }
    }

    // cg_ms_est, not cg_ms (ADVICE r15 #3): the column is the codegen
    // histogram's LIFETIME mean × this rep's compile-count delta — an
    // ESTIMATE of compile time attributable to the rep, skewed by
    // earlier compiles once the JVM is warm, not a measured per-rep
    // duration (Codahale's Timer exposes count + snapshot, not a
    // windowed sum to delta).
    println(f"${"name"}%-28s rep  total_s  anal_ms  opt_ms  phys_ms  exec_s  cg_n  cg_ms_est")
    (1 to reps).foreach { rep =>
      clearAll()
      // shared builds materialized outside the per-query timings, as Bench does
      graft.SparkEntry.sharedBuilds.foreach { case (_, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(_) => () } }
      names.foreach { n =>
        val cg0 = compileTime.getCount
        val t0 = System.nanoTime()
        try {
          val df = graft.SparkEntry.queries(n)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          val total = (System.nanoTime() - t0) / 1e9
          val ph = df.queryExecution.tracker.phases
          def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
          val anal = ms("analysis"); val opt = ms("optimization")
          val phys = ms("planning")
          val cgN = compileTime.getCount - cg0
          val exec = total - (anal + opt + phys) / 1000.0
          println(f"$n%-28s $rep%3d  $total%7.3f  $anal%7d  $opt%6d  $phys%7d  $exec%6.3f  $cgN%4d  ${compileTime.getSnapshot.getMean * cgN}%5.0f")
        } catch { case NonFatal(e) =>
          println(f"$n%-28s $rep%3d  ERROR ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}

/** Shared name filtering for dev tools. */
private[tools] object SparkEntryNames {
  def names(only: Option[Seq[String]]): Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
}
