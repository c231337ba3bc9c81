package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's C1 source: ONE newline-delimited UTF-8 text file,
  * records = lines (`/root/reference/internal/cli/mapreduce.go:33-38`,
  * `:207`). The engine reads it distributed — no whole-file driver
  * read — and assigns stable 0-based line ids so every downstream
  * operator (chunking's running sum, ordered combine) has the total
  * order the reference gets implicitly from its in-memory string.
  *
  * `zipWithIndex` ids follow (partition, offset) order, which for file
  * sources is in-file byte order — deterministic at any parallelism.
  * It costs one extra job that counts each partition's lines. Text
  * files have no footers to hold those counts, so that job reads every
  * byte of every partition except the last: the input is read about
  * twice.
  */
object TextCorpus {
  def lines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path).rdd.zipWithIndex()
      .map { case (text, id) => (id, text) }
      .toDF("line_id", "text")
  }
}
