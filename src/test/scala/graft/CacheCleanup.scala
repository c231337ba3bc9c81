package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Mixed into every suite whose operators persist intermediates via
  * `SessionCache.persist` (iterative graph sweeps, minhash/LSH
  * tables, k-means label tables, ...): drop them when the suite ends.
  * The test JVM hosts ~28 suites back-to-back — without this, cached
  * relations accumulate for the whole run and the heap eventually
  * tips over (GraphSpec aborted with OOM in full `sbt test` runs
  * while passing in isolation).
  */
trait CacheCleanup extends BeforeAndAfterAll { self: Suite =>
  abstract override def afterAll(): Unit = {
    try graft.SessionCache.clear()
    finally super.afterAll()
  }
}
