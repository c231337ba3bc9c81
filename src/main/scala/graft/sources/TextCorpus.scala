package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** The reference's C1 source: ONE newline-delimited UTF-8 text file,
  * records = lines (`/root/reference/internal/cli/mapreduce.go:33-38`,
  * `:207`). The engine reads it distributed — no whole-file driver
  * read — in one pass, and gives every line an id that increases in
  * file order, so every downstream operator (chunking's running sum,
  * ordered combine) has the total order the reference gets implicitly
  * from its in-memory string.
  *
  * Ids are `monotonically_increasing_id`s: ordered, not dense (the
  * partition index in the upper bits, the line's offset within its
  * partition in the lower). A file source's partitions follow in-file
  * byte order, so the ids do too, at any parallelism, and each
  * partition's id range lies above the one before it.
  */
object TextCorpus {
  def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(monotonically_increasing_id().as("line_id"), col("value").as("text"))
}
