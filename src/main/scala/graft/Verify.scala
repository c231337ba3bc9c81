package graft
import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    // debug strings are truncated on purpose (build.sbt caps
    // spark.sql.maxPlanStringLength for the deep graph plans; wide
    // schemas pass spark.sql.debug.maxToStringFields), so the notices
    // are expected: one per deep plan, one per JVM
    for (l <- Seq("org.apache.spark.sql.catalyst.util.StringUtils",
        "org.apache.spark.util.SparkStringUtils"))
      Configurator.setLevel(l, Level.ERROR)
    new java.io.File(outDir).mkdirs()
    val keep = Harness.only()
    SparkEntry.queries
      .filter { case (n, _) => keep(n) }
      .foreach { case (name, fn) =>
      // marks where each entry's log lines start
      System.err.println(s"[verify] $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.str(k)}: ${Harness.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
