package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into a layer, in monotonic nanoseconds. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters read through Spark's public listener APIs. Task
  * metrics are charged to the layer whose span started the job (a job
  * local property), so each layer gets its own shuffle and executor
  * figures without waiting for the listener bus at every boundary.
  */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  val LayerProperty = "graft.perfbench.layer"

  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val byLayer = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong

  private def add(layer: String, key: String, v: Long): Unit =
    byLayer.computeIfAbsent(layer, _ => new ConcurrentHashMap[String, AtomicLong]())
      .computeIfAbsent(key, _ => new AtomicLong).addAndGet(v)

  /** Totals per layer (plus the layer "*" summed over all of them). */
  def snapshot(): Map[String, Map[String, Long]] = {
    val m = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    byLayer.forEach { (layer, ks) =>
      val inner = scala.collection.mutable.Map.empty[String, Long]
      ks.forEach((k, v) => inner(k) = v.get())
      m(layer) = inner.toMap
    }
    val all = m.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    (m += ("*" -> all)).toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerProperty)))
      .getOrElse("other")
    e.stageIds.foreach(stageLayer.putIfAbsent(_, layer))
    add(layer, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageLayer.getOrDefault(e.stageInfo.stageId, "other"), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.getOrDefault(e.stageId, "other")
    add(layer, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(layer, "executor_run_ms", m.executorRunTime)
      add(layer, "executor_cpu_ns", m.executorCpuTime)
      add(layer, "gc_ms", m.jvmGCTime)
      add(layer, "shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add(layer, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(layer, "spill_bytes", m.diskBytesSpilled)
      add(layer, "input_bytes", m.inputMetrics.bytesRead)
      add(layer, "output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  // Planning phases of every executed query, from its QueryPlanningTracker.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      add("*phases", s"${phase}_ms", summary.durationMs)
    }

  /** Counter deltas since `before` (a [[snapshot]]), as `(layer, key) =>
    * value`, once the listener bus has delivered the work done since.
    */
  def since(before: Map[String, Map[String, Long]]): (String, String) => Double = {
    settle()
    val after = snapshot()
    (layer, k) => (after.getOrElse(layer, Map.empty).getOrElse(k, 0L) -
      before.getOrElse(layer, Map.empty).getOrElse(k, 0L)).toDouble
  }

  /** Wait until every started job has ended and the counters stop moving,
    * so the listener bus has delivered the events of the work just done.
    */
  def settle(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = snapshot()
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      (jobsEnded.get() < jobsStarted.get() || System.currentTimeMillis() - stableSince < 150)) {
      Thread.sleep(20)
      val now = snapshot()
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
  }
}

/** Spans and engine counters for one traced invocation. The listeners
  * are installed only when `enabled`; spans are recorded only while
  * `active`, so a traced invocation can interleave untraced runs. When
  * inactive, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = new ArrayBuffer[Span]()
  val engine = new EngineCounters
  @volatile var active: Boolean = false
  private var stack = List.empty[String]

  if (enabled) {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(engine)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption.getOrElse("")
      val before = sc.getLocalProperty(engine.LayerProperty)
      sc.setLocalProperty(engine.LayerProperty, name)
      stack = name :: stack
      val start = System.nanoTime()
      try body
      finally {
        spans += Span(name, parent, start, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(engine.LayerProperty, before)
      }
    }

  /** Every invocation starts with one warm-up unit that is not measured:
    * the first run of the timed path after set-up is still warming the
    * JIT. A traced invocation then runs its units untraced, traced,
    * traced, untraced, and repeats, so a trend over the run biases
    * neither side of the tracing overhead.
    */
  def warmup(unit: Int): Boolean = unit == 0

  private def phase(unit: Int): Int = (unit - 1) % 4

  def tracedUnit(unit: Int): Boolean = enabled && unit > 0 && (phase(unit) == 1 || phase(unit) == 2)

  /** Whether to start unit number `unit`: the warm-up and at least three
    * measured units always, more until `seconds` have passed since the
    * measured units began, and a traced invocation ends on a whole group
    * of four. With a floor of three, the median never rests on two slow
    * units when the host is slow.
    */
  def another(unit: Int, elapsed: Double, seconds: Double): Boolean =
    unit <= 3 || elapsed < seconds || (enabled && phase(unit) != 0)

  private val origin = System.nanoTime()

  /** The spans of every traced unit, kept in memory and written out at exit. */
  val kept = ArrayBuffer.empty[ListMap[String, Any]]

  def keep(unit: Int, extra: Seq[Span] = Nil): Unit =
    (spans ++ extra).sortBy(_.startNs).foreach { s =>
      kept += ListMap("unit" -> unit, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - origin) / 1e6, "duration_ms" -> (s.endNs - s.startNs) / 1e6)
    }

}

/** Janino compiles in this JVM, read from `CodegenMetrics`. */
object Codegen {
  /** The compile count, and the summed compile time in ms while the
    * histogram still holds every sample (its reservoir keeps 1,028).
    */
  final case class Reading(compiles: Long, compileMs: Option[Long])

  def read(): Reading = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    Reading(n, if (snap.size == n) Some(snap.getValues.sum) else None)
  }

  /** Compiles during the set-up, where the workload's plans are first
    * generated; later units mostly hit the codegen cache.
    */
  def setupMetrics(before: Reading, after: Reading): ListMap[String, Metric] =
    ListMap(
      "setup.codegen_compiles" -> Metric.of((after.compiles - before.compiles).toDouble, "count"),
      "setup.codegen_compile_s" -> (for (a <- after.compileMs; b <- before.compileMs)
        yield Metric.of((a - b) / 1e3, "s", (after.compiles - before.compiles).toInt))
        .getOrElse(Metric.missing("s", "more compiles than the histogram keeps")))
}

/** Per-layer metric assembly shared by the workloads. */
object Engine {
  /** Every per-layer metric a traced unit can report. One the workload's
    * units never report belongs to a layer the workload does not call: it
    * reads 0 (no call, no time, no bytes) and says so in its reason.
    */
  val LayerNames: Seq[String] = Seq(
    "sources.read_s", "sources.input_bytes",
    "expressions.estimate_s", "expressions.tokens",
    "chunker.s", "chunker.chunks", "chunker.shuffle_write_bytes",
    "llmmap.calls", "llmmap.busy_s", "llmmap.map_wall_s", "llmmap.inflight_max",
    "llmmap.tokens_in", "llmmap.tokens_out", "llmmap.failures",
    "memo.s", "memo.hits", "memo.misses", "memo.bytes_written", "memo.files",
    "combine.s", "combine.output_bytes",
    "queries.build_s", "queries.shared_builds_s",
    "sinks.write_s", "sinks.bytes_written",
    "spark.analysis_s", "spark.optimization_s", "spark.planning_s", "spark.codegen_compiles",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.idle_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.input_bytes")

  def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.contains("bytes")) "bytes"
    else "count"

  /** Spark engine metrics of one unit of work, from counter deltas
    * `eng(layer, key)` over the unit (layer "*" sums all layers).
    */
  def sparkMetrics(eng: (String, String) => Double, compiles: Long, wall: Double,
                   cores: Int): Map[String, Double] = {
    val run = eng("*", "executor_run_ms") / 1e3
    Map(
      "spark.analysis_s" -> eng("*phases", "analysis_ms") / 1e3,
      "spark.optimization_s" -> eng("*phases", "optimization_ms") / 1e3,
      "spark.planning_s" -> eng("*phases", "planning_ms") / 1e3,
      "spark.codegen_compiles" -> compiles.toDouble,
      "spark.jobs" -> eng("*", "jobs"),
      "spark.stages" -> eng("*", "stages"),
      "spark.tasks" -> eng("*", "tasks"),
      "spark.idle_s" -> (wall - run / cores),
      "spark.executor_run_s" -> run,
      "spark.executor_cpu_s" -> eng("*", "executor_cpu_ns") / 1e9,
      "spark.gc_s" -> eng("*", "gc_ms") / 1e3,
      "spark.shuffle_read_bytes" -> eng("*", "shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> eng("*", "shuffle_write_bytes"),
      "spark.spill_bytes" -> eng("*", "spill_bytes"),
      "spark.input_bytes" -> eng("*", "input_bytes"))
  }

  /** Medians over the traced units of every per-layer metric, and the
    * tracing overhead: median traced wall minus median untraced wall.
    */
  def traced(units: Seq[Map[String, Double]], tracedWalls: Seq[Double],
             untracedWall: Double): ListMap[String, Metric] = {
    val layer = LayerNames.map { n =>
      n -> (if (units.exists(_.contains(n)))
        Metric.of(Stats.median(units.map(_(n))), unitOf(n), units.size)
      else Metric(Some(0.0), unitOf(n), units.size, "layer not called by this workload"))
    }
    ListMap(layer: _*) +
      ("trace.traced_wall_s" -> Metric.of(Stats.median(tracedWalls), "s", tracedWalls.size)) +
      ("trace.overhead_s" -> Metric.of(Stats.median(tracedWalls) - untracedWall, "s", tracedWalls.size))
  }
}
