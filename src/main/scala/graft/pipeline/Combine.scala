package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reduce stage: the reference concatenates per-chunk results in chunk
  * order, no separators, into one output file
  * (`/root/reference/internal/cli/mapreduce.go:131-146`).
  *
  * Order preservation through shuffles: NEVER rely on partition order.
  * The combine collects (chunk_id, result) structs, sorts the array by
  * chunk_id (struct sort = lexicographic on fields), then joins — a
  * single-row result that is deterministic at any parallelism.
  *
  * This is a single-reducer op by definition (one output string), so it
  * is only for human-consumable final output; at 100 TB you keep results
  * AS A TABLE (chunk_id, result) and write with
  * `df.write.partitionBy(...)`, which [[LlmMap.mapChunks]] already
  * supports. combineAll exists for reference-pipeline compatibility.
  */
object Combine {
  /** One row: (combined: String) — results joined in chunk order with no
    * separator, exactly like the reference's strings.Builder loop.
    */
  def combineAll(results: DataFrame): DataFrame =
    results.agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("chunk_id").as("id"), col("result").as("r")))),
          s => s.getField("r")),
        "").as("combined"))

  /** Write the combined output as one text file (coalesce(1) is the
    * explicit, intentional single-file sink — reference parity only).
    */
  def writeCombined(results: DataFrame, path: String): Unit =
    combineAll(results)
      .coalesce(1)
      .write.mode("overwrite").text(path)
}
