package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Task-retry determinism proof (VERDICT r9 #5): every oracle entry
  * must be hash-stable under task re-runs — the cluster reality
  * (speculative execution, preempted/lost executors) that a clean
  * local[n] run never exercises. A recomputed task that used an
  * unseeded sample, a time-dependent value, or iteration order of an
  * unordered structure would produce different bytes on retry.
  *
  * Mechanism: [[Tables.chaos]] wraps every table load in an identity
  * `mapPartitions` that THROWS on the first attempt of every even
  * partition. In a pipelined plan the scan task IS the shuffle map
  * task, so this forces Spark's retry path through every scan-rooted
  * map stage of the three shuffle-heaviest catalog entries (q151
  * prefix join, q190 IVF-PQ serving, q119 pagerank, by the r15
  * physical-plan audit) and their shared memoized builds; downstream
  * reduce stages then consume retried map outputs. The spec asserts
  * (a) failures were actually injected AND retried, (b) the chaos-run
  * output is row-identical to the clean run's.
  *
  * TestSpark runs `local[4, 2]` (maxFailures=2) so one failure per
  * task is retried, not fatal.
  */
class RetryDeterminismSpec extends AnyFunSuite {
  import TestSpark.spark

  /** Identity pass-through that fails the first attempt of every even
    * partition. Local-mode executors share the JVM, so the counters
    * are visible to the test directly.
    */
  private def failFirstAttempt(df: DataFrame): DataFrame = {
    implicit val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() % 2 == 0) {
        if (tc.attemptNumber() == 0) {
          RetryChaosCounters.injected.incrementAndGet()
          throw new RuntimeException(
            "graft-chaos: injected first-attempt task failure")
        } else RetryChaosCounters.retried.incrementAndGet()
      }
      it
    }
  }

  /** Canonical row-set digest: order-independent (every target query
    * ends in an aggregate/join whose output order Spark does not
    * promise), cell-exact.
    */
  private def digest(df: DataFrame): (Long, Seq[String]) = {
    val rows = df.collect().map(rowRepr).sorted.toSeq
    (rows.size.toLong, rows)
  }
  private def rowRepr(r: Row): String =
    (0 until r.length).map { i =>
      val v = r.get(i)
      if (v == null) "\u0000" else v.toString
    }.mkString("\u0001")

  private val Targets = Seq("q151_prefix_join", "q190_ivfpq_serving",
    "q119_pagerank")

  test("shuffle-heavy catalog outputs are identical under injected task retries") {
    val d = TestSpark.sf0001
    val clean = Targets.map { n =>
      SessionCache.clear(); spark.catalog.clearCache()
      n -> digest(SparkEntry.queries(n)(spark, d))
    }.toMap
    RetryChaosCounters.injected.set(0)
    RetryChaosCounters.retried.set(0)
    Tables.chaos = Some(failFirstAttempt)
    try {
      val chaos = Targets.map { n =>
        SessionCache.clear(); spark.catalog.clearCache()
        n -> digest(SparkEntry.queries(n)(spark, d))
      }.toMap
      assert(RetryChaosCounters.injected.get > 0,
        "no task failures were injected — the chaos hook did not reach any stage")
      assert(RetryChaosCounters.retried.get > 0,
        "no retried attempts observed — failures aborted instead of retrying")
      Targets.foreach { n =>
        assert(clean(n)._1 == chaos(n)._1,
          s"$n: row count changed under retries (${clean(n)._1} vs ${chaos(n)._1})")
        assert(clean(n)._2 == chaos(n)._2,
          s"$n: output rows differ under task retries — nondeterministic recompute")
      }
    } finally {
      Tables.chaos = None
      SessionCache.clear(); spark.catalog.clearCache()
    }
    println(s"RetryDeterminismSpec: injected=${RetryChaosCounters.injected.get} " +
      s"retried=${RetryChaosCounters.retried.get} over ${Targets.size} queries")
  }
}

/** Counters live OUTSIDE the suite class so the closure serialized into
  * tasks references a stable object, not the (non-serializable) suite.
  */
object RetryChaosCounters {
  val injected = new AtomicLong
  val retried = new AtomicLong
}
