package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBusHook
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What graft's mains (Bench, Verify, Cli and the `tools`)
  * share: the session they run in, the dev name filter, the passes
  * count, the one timed and metered catalog [[pass]] (with its clear
  * and materialize steps), the JSON scalars of their artifacts and
  * the one per-JVM temp root. No main keeps its own timing loop or
  * stage listener; a warm-up is a [[pass]] whose measures are dropped.
  */
object Harness {

  /** A catalog entry or shared build: name and plan builder. */
  type Entry = (String, (SparkSession, String) => DataFrame)

  /** `SPARK_GRAFT_CPUS` (default 4): the local core count of Bench,
    * Verify and Cli.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC,
    * nanosecond parquet timestamps read as longs (the fixtures' ts
    * columns), no UI and WARN logging. `conf` adds or overrides
    * settings (e.g. `spark.master` for a deployment address).
    */
  def session(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The JVM-wide whole-stage-codegen class cache defaults to 100
      // entries; this catalog generates ~2,000 distinct codegen units
      // per pass, so at the default EVERY query re-Janino-compiles all
      // its generated classes on EVERY evaluation (r15 measurement:
      // per-rep compile counts of 60/67/44 for q119/q166/q80 with the
      // identical source text, ~0.4-0.7 s per query per pass). Sizing
      // the cache to the workload turns repeat evaluations into cache
      // hits — a compiler-artifact cache keyed on generated SOURCE,
      // never on data or results (every pass still recomputes from
      // parquet; [[clear]] wipes all data caches). Not a local[32]
      // tune: any driver serving a many-query workload needs the same
      // (the compiled-class footprint is a few hundred MB at worst,
      // driver-side only).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The dev name filter: `SPARK_GRAFT_ONLY=q61,shared:ivf` keeps the
    * entries whose name starts with a listed prefix; unset keeps all.
    * A `shared:` build runs under a filter only when a listed prefix
    * matches it, so a filtered run times its queries standalone unless
    * it opts a build in. Never set by a recorded run.
    */
  def only(env: collection.Map[String, String] = sys.env): String => Boolean =
    env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty)) match {
      case None => _ => true
      case Some(prefixes) => n => prefixes.exists(n.startsWith)
    }

  /** `SPARK_GRAFT_PASSES` (default `default`): timed passes per entry.
    * Anything but a positive integer is a usage error, raised before
    * the session starts.
    */
  def passes(default: Int, env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_PASSES") match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(throw
        new IllegalArgumentException(s"SPARK_GRAFT_PASSES must be an integer >= 1, got '$v'"))
    }

  /** Runs `df` to completion through the `noop` sink: a `count()` would
    * let Catalyst prune the projections being measured.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drops every data cache (graft's session state and Spark's
    * catalog cache), so each pass pays identical cold-plan work.
    */
  def clear(spark: SparkSession): Unit = {
    SessionCache.clear()
    spark.catalog.clearCache()
  }

  /** One entry's cost in one [[pass]]: wall seconds, of them the
    * seconds its constructor took (building the frame, eager jobs
    * included), the Spark jobs it started, executor CPU seconds,
    * shuffle-write bytes, memory- and disk-spill bytes, and the error
    * that ended it, if any (its wall time is then a fast-fail, not a
    * measurement).
    */
  final case class Measure(sec: Double, ctorSec: Double, jobs: Long, cpuSec: Double,
      shuffleWrite: Long, memSpill: Long, diskSpill: Long, error: Option[String])

  /** Jobs started, and task metrics summed over the stages completed,
    * since [[reset]]: a stage-completed event carries its stage's
    * summed TaskMetrics.
    */
  private final class Meter extends SparkListener {
    val jobs, cpuNs, shuffleWrite, memSpill, diskSpill = new AtomicLong
    override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      Option(sc.stageInfo.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
      }
    def reset(): Unit = Seq(jobs, cpuNs, shuffleWrite, memSpill, diskSpill).foreach(_.set(0))
  }

  /** Waits until every queued listener event has been delivered, so a
    * late stage-completed event never lands on the next entry.
    */
  private def drainBus(spark: SparkSession): Unit =
    try ListenerBusHook.waitUntilListenerBusEmpty(spark.sparkContext, 30000L)
    catch { case _: TimeoutException =>
      System.err.println("WARN listener bus drain timed out") }

  /** One timed, metered pass: clears the caches, then builds and
    * materializes each entry once on `dir` and measures it (the timer
    * stops before the listener bus is drained). A failing entry is
    * recorded, not thrown, and the pass goes on. `report` sees each
    * measure as it is taken.
    */
  def pass(spark: SparkSession, dir: String, entries: Seq[Entry],
      report: (String, Measure) => Unit = (_, _) => ()): Seq[(String, Measure)] = {
    clear(spark)
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    try {
      drainBus(spark)
      entries.map { case (name, fn) =>
        meter.reset()
        val t0 = System.nanoTime()
        // a constructor that throws took the whole time
        var ctorSec = Option.empty[Double]
        val error =
          try {
            val df = fn(spark, dir)
            ctorSec = Some((System.nanoTime() - t0) / 1e9)
            materialize(df); None
          } catch { case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
        val sec = (System.nanoTime() - t0) / 1e9
        drainBus(spark)
        val m = Measure(sec, ctorSec.getOrElse(sec), meter.jobs.get, meter.cpuNs.get / 1e9,
          meter.shuffleWrite.get, meter.memSpill.get, meter.diskSpill.get, error)
        report(name, m)
        name -> m
      }
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  /** JSON string literal. Escapes backslash, quote and ALL control
    * chars (< 0x20): a tab or CR in builder-authored SQL would otherwise
    * make the oracle checker's json.load fail and silently zero the
    * correctness count.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON number at millisecond precision, plain decimal, never
    * scientific notation: 17-digit doubles made the r3/r4 one-line
    * bench JSON outgrow the tail-capture window (parsed: null both
    * rounds).
    */
  def num(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** This JVM's temp root, deleted at exit by a shutdown hook. Every
    * temp dir graft makes ([[tempDir]], the round-trip scratch paths,
    * the specs' dirs) lives under it, so two processes never share
    * (and delete) each other's files and none outlives its JVM.
    */
  lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-")
    sys.addShutdownHook(if (Files.exists(root)) deleteTree(root))
    root
  }

  private val tempDirs = new AtomicLong

  /** A fresh, empty directory under [[tempRoot]]. */
  def tempDir(prefix: String): Path =
    Files.createDirectory(tempRoot.resolve(s"$prefix-${tempDirs.incrementAndGet()}"))

  /** Deletes `root` and everything under it. */
  def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally walk.close()
  }
}
