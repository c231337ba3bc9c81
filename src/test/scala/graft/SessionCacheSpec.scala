package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session-scoped cache layer: shared builds, registered persists
  * and scan layouts, their release by clear(), and the session-end
  * drain. Each case works in its own `newSession()` (same SparkContext,
  * so the shared test context is never stopped) over plans no other
  * suite builds, since the cache manager is shared across sessions.
  */
class SessionCacheSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark

  private def plan(s: SparkSession, n: Long): DataFrame =
    s.range(0, n, 7).toDF("id")

  test("shared: one build per (session, key); clear() unpersists, next call rebuilds") {
    val s = spark.newSession()
    val other = spark.newSession()
    var builds = 0
    def get(): DataFrame =
      SessionCache.shared(s, "spec:shared") { builds += 1; plan(s, 100003) }
    val a = get()
    assert(get() eq a)
    assert(builds == 1)
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(a.count() == 14287)
    SessionCache.shared(other, "spec:shared") { builds += 1; plan(other, 100010) }
    assert(builds == 2, "another session builds its own entry")

    SessionCache.clear()
    assert(a.storageLevel == StorageLevel.NONE)
    val b = get()
    assert(builds == 3)
    assert(!(b eq a))
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
  }

  test("shared: a build that calls shared does not deadlock") {
    val s = spark.newSession()
    val outer = SessionCache.shared(s, "spec:outer") {
      SessionCache.shared(s, "spec:inner")(plan(s, 100017))
        .withColumn("twice", col("id") * 2)
    }
    assert(outer.count() == 14289)
    assert(SessionCache.shared(s, "spec:inner")(fail("inner rebuilt")).count() == 14289)
    assert(SessionCache.shared(s, "spec:outer")(fail("outer rebuilt")) eq outer)
  }

  test("persist: MEMORY_AND_DISK until clear() unpersists it") {
    val s = spark.newSession()
    val p = SessionCache.persist(plan(s, 100024))
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(p.count() == 14290)
    SessionCache.clear()
    assert(p.storageLevel == StorageLevel.NONE)
  }

  test("scanLayout: computed once per (session, root) and kept across clear()") {
    val s = spark.newSession()
    val other = spark.newSession()
    var counts = 0
    def layout(on: SparkSession): Int =
      SessionCache.scanLayout(on, "spec:/layout/root") { counts += 1; 5 }
    assert(layout(s) == 5)
    assert(layout(s) == 5)
    assert(counts == 1)
    SessionCache.clear()
    assert(layout(s) == 5)
    assert(counts == 1, "layout entries describe immutable files and survive clear()")
    assert(layout(other) == 5)
    assert(counts == 2, "another session computes its own entry")
  }

  test("session-end drain forgets all of the session's state, layouts included") {
    val s = spark.newSession()
    var builds = 0
    var counts = 0
    val first = SessionCache.shared(s, "spec:drained") { builds += 1; plan(s, 100031) }
    val p = SessionCache.persist(plan(s, 100038))
    SessionCache.scanLayout(s, "spec:/drained/root") { counts += 1; 3 }

    SessionCache.drain(s)
    SessionCache.clear()
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "drained frames are no longer registered, so clear() leaves them alone")
    first.unpersist(false)
    p.unpersist(false)
    SessionCache.shared(s, "spec:drained") { builds += 1; plan(s, 100031) }
    SessionCache.scanLayout(s, "spec:/drained/root") { counts += 1; 3 }
    assert(builds == 2)
    assert(counts == 2)
  }
}
