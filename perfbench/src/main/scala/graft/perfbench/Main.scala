package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One measured value: `None` carries the reason it could not be measured. */
final case class Metric(value: Option[Double], unit: String, samples: Int,
                        reason: String = null) {
  def toJson: ListMap[String, Any] =
    ListMap("value" -> value, "unit" -> unit, "samples" -> samples) ++
      Option(reason).map("reason" -> _)
}

object Metric {
  def of(v: Double, unit: String, samples: Int = 1): Metric = Metric(Some(v), unit, samples)
  def missing(unit: String, reason: String): Metric = Metric(None, unit, 0, reason)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def secondsSince(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  /** Progress line on stderr (the run log), e.g. "set-up 1: 3.214 s". */
  def log(msg: String): Unit = Console.err.println(s"[perfbench] $msg")
}

/** What every workload returns to [[Main]]. */
final case class Outcome(metrics: ListMap[String, Metric], attempted: Long, failed: Long,
                         checks: ListMap[String, Any])

/** Harness entry point, started by `perfbench/run.py` with
  *
  *   --spec <workloads.json> --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <result.json>
  *
  * It sets up the workload, measures it in a closed loop with one client
  * for the given seconds, checks the outputs, and writes every metric
  * with its unit and sample count to the result file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = new ObjectMapper().readTree(Paths.get(opts("spec")).toFile)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val wspec = spec.path("workloads").path(workload)
    if (wspec.isMissingNode) sys.error(s"unknown workload $workload")
    val spark = session(work, catalog = wspec.path("kind").asText == "catalog")
    // JVM and session start, counted once; each workload repeats its own
    // set-up and reports the median, to which this is added.
    val sessionSeconds =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Stats.log(f"session ready: $sessionSeconds%.3f s")
    val tracer = new Tracer(spark, trace)
    val outcome =
      try {
        wspec.path("kind").asText match {
          case "llm" => new LlmWorkload(spark, tracer, spec, wspec, seed, seconds, work).run()
          case "catalog" => new CatalogWorkload(spark, tracer, wspec, seed, seconds, work).run()
          case k => sys.error(s"unknown workload kind $k")
        }
      } finally spark.stop()

    val setup = outcome.metrics("setup_s")
    val metrics = outcome.metrics.updated("setup_s",
      setup.copy(value = setup.value.map(_ + sessionSeconds))) +
      ("session_s" -> Metric.of(sessionSeconds, "s")) +
      ("peak_rss_mb" -> peakRssMb())
    val result = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "checks" -> outcome.checks,
      "metrics" -> metrics.map { case (k, m) => k -> m.toJson }) ++
      (if (trace) ListMap("spans" -> tracer.kept) else ListMap.empty)
    Files.writeString(Paths.get(opts("out")), Json.write(result))
  }

  /** Peak resident set of this JVM (Linux `VmHWM`). */
  private def peakRssMb(): Metric = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Metric.missing("MB", "no /proc/self/status on this platform")
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:")) match {
      case Some(line) => Metric.of(line.split("\\s+")(1).toDouble / 1024.0, "MB")
      case None => Metric.missing("MB", "VmHWM not reported")
    }
  }

  /** A local session with one task slot per core. Everything Spark writes
    * (shuffle files, warehouse) stays under `work`.
    */
  def session(work: Path, catalog: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // The catalog runs with the settings graft.Bench and graft.Verify use.
    if (catalog) b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def strings(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** (file name -> size) of the regular files directly under `dir`. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.getFileName.toString -> Files.size(f)).toMap
      finally s.close()
    }
}
