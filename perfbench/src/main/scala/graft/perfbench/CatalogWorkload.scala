package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.pipeline.Chunker

/** A fixed list of `SparkEntry.queries` entries. One pass clears the
  * caches, materializes the listed `SparkEntry.sharedBuilds` tables (the
  * ones the listed entries read) under their own names, then builds and materializes each entry through the `noop`
  * sink, in an order permuted by (seed, pass).
  */
final case class Pass(wall: Double, latency: Seq[Double], errors: Map[String, String])

final class CatalogWorkload(spark: SparkSession, tracer: Tracer, w: JsonNode,
                            seed: Long, seconds: Double, work: Path) {
  private val data = Paths.get(w.path("data").asText).toAbsolutePath.toString
  private val entries = Main.strings(w.path("entries"))
  private val sharedNames = Main.strings(w.path("shared_builds"))
  private val shared = SparkEntry.sharedBuilds.filter { case (n, _) => sharedNames.contains(n) }
  private val cores = Runtime.getRuntime.availableProcessors

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  private def clearAll(): Unit = {
    Chunker.clearCaches()
    spark.catalog.clearCache()
  }

  private def pass(dir: String, order: Seq[String]): Pass = {
    clearAll()
    var errors = Map.empty[String, String]
    def attempt(name: String)(body: => Unit): Unit =
      try body catch { case NonFatal(e) => errors += name -> message(e) }
    val t0 = System.nanoTime()
    shared.foreach { case (name, fn) =>
      attempt(name)(tracer.span(name)(tracer.span("queries.shared")(materialize(fn(spark, dir)))))
    }
    val latency = order.map { name =>
      val e0 = System.nanoTime()
      attempt(name)(tracer.span(name) {
        val df = tracer.span("queries")(SparkEntry.queries(name)(spark, dir))
        // The entry's own analysis ran in its constructor; the sink's query
        // reports only the phases after it.
        if (tracer.active) tracer.engine.phases(df.queryExecution)
        tracer.span("sinks")(materialize(df))
      })
      Stats.secondsSince(e0)
    }
    Pass(Stats.secondsSince(t0), latency, errors)
  }

  def run(): Outcome = {
    val unknown = entries.filterNot(SparkEntry.queries.contains) ++
      sharedNames.filterNot(shared.map(_._1).contains)
    require(unknown.isEmpty, s"not in SparkEntry: ${unknown.mkString(", ")}")

    // Set-up is the output check: the listed shared builds, then every
    // entry written once as parquet for run.py's oracle comparison. It is
    // the first time each plan is generated, so codegen compiles here.
    val checkDir = work.resolve("check")
    Files.createDirectories(checkDir)
    var checkErrors = Map.empty[String, String]
    val codegen0 = Codegen.read()
    val t0 = System.nanoTime()
    clearAll()
    shared.foreach { case (name, fn) =>
      try materialize(fn(spark, data)) catch { case NonFatal(e) => checkErrors += name -> message(e) }
    }
    entries.foreach { name =>
      try SparkEntry.queries(name)(spark, data).write.mode("overwrite")
        .parquet(checkDir.resolve(name).toString)
      catch { case NonFatal(e) => checkErrors += name -> message(e) }
    }
    val setupSeconds = Stats.secondsSince(t0)
    val setupCodegen = Codegen.setupMetrics(codegen0, Codegen.read())
    Stats.log(f"set-up (output check pass): $setupSeconds%.3f s")
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }
    Files.writeString(checkDir.resolve("oracle_sql.json"), Json.write(oracles))

    var attempted = 0L
    var failed = 0L
    var errors = Map.empty[String, String]
    val untracedWalls = ArrayBuffer.empty[Double]
    val untracedLatency = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val entryLatency = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    var warmupWall = 0.0
    var windowStart = System.nanoTime()
    var unit = 0
    while (tracer.another(unit, Stats.secondsSince(windowStart), seconds)) {
      val traced = tracer.tracedUnit(unit)
      val order = new Random(seed * 1000003L + unit).shuffle(entries)
      tracer.active = traced
      if (traced) tracer.engine.settle()
      val engine0 = if (traced) tracer.engine.snapshot() else Map.empty[String, Map[String, Long]]
      val compiles0 = Codegen.read().compiles
      tracer.spans.clear()
      val p = pass(data, order)
      tracer.active = false
      Stats.log(f"pass $unit (traced=$traced): ${p.wall}%.3f s")
      attempted += shared.size + order.size
      failed += p.errors.size
      errors ++= p.errors
      if (traced) {
        tracedWalls += p.wall
        val eng = tracer.engine.since(engine0)
        tracer.keep(unit)
        def spanSum(name: String): Double = tracer.spans.filter(_.name == name).map(_.seconds).sum
        layers += Map(
          "queries.build_s" -> spanSum("queries"),
          "queries.shared_builds_s" -> spanSum("queries.shared"),
          "sinks.write_s" -> spanSum("sinks"),
          "sinks.bytes_written" -> eng("*", "output_bytes")
        ) ++ Engine.sparkMetrics(eng, Codegen.read().compiles - compiles0, p.wall, cores)
      } else if (tracer.warmup(unit)) warmupWall = p.wall
      else {
        untracedWalls += p.wall
        untracedLatency ++= p.latency
        order.zip(p.latency).foreach { case (n, t) => entryLatency(n) = t :: entryLatency(n) }
      }
      if (tracer.warmup(unit)) windowStart = System.nanoTime()
      unit += 1
    }

    val wall = Stats.median(untracedWalls.toSeq)
    val n = untracedLatency.size
    val metrics = ListMap(
      "setup_s" -> Metric.of(setupSeconds, "s"),
      "wall_s" -> Metric.of(wall, "s", untracedWalls.size),
      "warmup_s" -> Metric.of(warmupWall, "s"),
      "items_per_s" -> Metric.of(entries.size / wall, "1/s", untracedWalls.size),
      "query_p50_s" -> Metric.of(Stats.percentile(untracedLatency.toSeq, 0.5), "s", n),
      "query_p80_s" -> Metric.of(Stats.percentile(untracedLatency.toSeq, 0.8), "s", n)
    ) ++ setupCodegen ++ (if (!tracer.enabled) ListMap.empty
          else Engine.traced(layers.toSeq, tracedWalls.toSeq, wall))
    Outcome(metrics, attempted + shared.size + entries.size, failed + checkErrors.size,
      ListMap("entries" -> entries,
        "entry_median_s" -> ListMap(entries.map(n => n -> Stats.median(entryLatency(n))): _*),
        "errors" -> errors, "check_errors" -> checkErrors,
        "check_dir" -> checkDir.toString))
  }
}
