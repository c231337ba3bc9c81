package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one place that knows how session-scoped state is held and
  * released, keyed by owning SparkSession:
  *
  *  - [[persist]]: frames a lazy plan builder persists (rank and
  *    prefix-sum inputs, iterative sweeps). A lazy API cannot know when
  *    its caller is done with the plan, so they live until [[clear]].
  *  - [[shared]]: build tables many catalog queries derive from the same
  *    input (shingles, minhash, LSH candidates, chunk tables), keyed by
  *    convention "family:build:<input dir>".
  *  - [[scanLayout]]: per fileset root, the non-empty scan partition
  *    bound behind [[Tables.spread]]. It survives [[clear]]: it describes
  *    immutable files, so catalog passes never re-read parquet footers.
  *
  * Bench and the probes [[clear]] between passes, so every timed pass
  * still pays every shared build. Contract: files under a keyed dir are
  * immutable within a session; a rewrite is served stale until clear().
  *
  * Sessions are held strongly: a persisted DataFrame references its own
  * sparkSession, so a weak key would never be collected; the
  * onApplicationEnd drain is the real release path.
  */
object SessionCache {

  private final class State {
    val persisted = ConcurrentHashMap.newKeySet[DataFrame]()
    val shared = new ConcurrentHashMap[String, DataFrame]()
    val layouts = new ConcurrentHashMap[String, Integer]()
  }

  private val states = new ConcurrentHashMap[SparkSession, State]()

  private def state(spark: SparkSession): State =
    states.computeIfAbsent(spark, s => {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          drain(s)
      })
      new State
    })

  /** Forget all of `spark`'s state, scan layouts included. Called by
    * the session's onApplicationEnd listener; no unpersist, since a
    * stopped context's blocks are already gone.
    */
  private[graft] def drain(spark: SparkSession): Unit = { states.remove(spark); () }

  /** Persist `df` at MEMORY_AND_DISK (spills instead of OOMing at
    * scale) and register it for release by [[clear]].
    */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    state(df.sparkSession).persisted.add(p)
    p
  }

  /** `build`, persisted once per (session, key) and served thereafter. */
  def shared(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val st = state(spark).shared
    val existing = st.get(key)
    if (existing != null) existing
    else {
      // NOT computeIfAbsent: builds nest (candidates → minhash →
      // shingles all live in this map) and CHM forbids recursive
      // updates. get/putIfAbsent tolerates the nesting; a concurrent
      // duplicate build loses the race and unpersists itself.
      val built = build.persist(StorageLevel.MEMORY_AND_DISK)
      val prev = st.putIfAbsent(key, built)
      if (prev != null) { built.unpersist(false); prev } else built
    }
  }

  /** `count`, computed once per (session, fileset root). */
  def scanLayout(spark: SparkSession, root: String)(count: => Int): Int =
    state(spark).layouts.computeIfAbsent(root, _ => Integer.valueOf(count)).intValue

  /** Unpersist and forget every persisted intermediate and shared build
    * across ALL sessions in the JVM. Safe any time; later calls rebuild
    * lazily.
    */
  def clear(): Unit =
    states.forEach { (_, st) =>
      st.persisted.forEach(df => df.unpersist(false))
      st.persisted.clear()
      st.shared.forEach((_, df) => df.unpersist(false))
      st.shared.clear()
    }
}
