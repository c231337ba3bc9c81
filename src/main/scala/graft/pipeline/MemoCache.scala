package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionCache

/** Resume/memoization for the map stage.
  *
  * The reference caches each chunk result as `result%d.txt` keyed by
  * chunk INDEX only (`/root/reference/internal/cli/mapreduce.go:152-166`)
  * — a stale-cache hazard: changing the prompt or model silently reuses
  * old answers. The engine fixes that: the memo key is
  * sha2(prompt || model || chunk_text), so any input change is a miss.
  *
  * Storage is a parquet table of (key, result). A run anti-joins pending
  * chunks against the memo (left_anti — no driver-side lookup), computes
  * only the misses, appends them, and serves memo hits unioned with the
  * fresh results. All set logic is distributed; works unchanged on a
  * 1000-executor cluster with the memo on a shared object store.
  */
object MemoCache {

  /** NUL separator (escaped, never a literal byte — keeps this file
    * text-diffable): cannot appear inside prompt/model/chunk text, so
    * distinct (prompt, model, text) triples never concatenate equal.
    */
  private val Sep = "\u0000"

  def cacheKey(prompt: String, model: String, textCol: String) =
    sha2(concat_ws(Sep, lit(prompt), lit(model), col(textCol)), 256)

  /** The memo table at `memoPath`, or None when the path is missing
    * or holds no files yet.
    *
    * ONLY a missing/empty memo path means "cold cache". Any other read
    * failure (permissions, corrupt footer, storage flake) must
    * propagate: swallowing it would silently recompute the whole map
    * stage — re-invoking the model — and append duplicate keys, with
    * no signal that anything went wrong. Existence is checked up front
    * (filesystems differ on WHICH exception a missing path raises:
    * local FS throws raw FileNotFoundException, not AnalysisException
    * PATH_NOT_FOUND), so the catch below only excuses an existing-but-
    * fileless dir (e.g. a crash between mkdir and first append). A
    * table whose columns are not (key, result) is a mis-pointed path:
    * it throws, so neither a map run nor a compaction writes into it.
    */
  private def memoTable(spark: SparkSession, memoPath: String): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(memoPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val df = try spark.read.parquet(memoPath) catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        return None
    }
    if (!df.columns.sameElements(Array("key", "result")))
      throw new IllegalArgumentException(
        s"$memoPath is not a memo table " +
          s"(columns ${df.columns.mkString(",")}, expected key,result)")
    Some(df)
  }

  private def readMemo(spark: SparkSession, memoPath: String): DataFrame =
    memoTable(spark, memoPath).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("result", org.apache.spark.sql.types.StringType)))))

  /** Run the map stage with memoization.
    * chunks must have (chunk_id, text). Returns (chunk_id, text, result).
    *
    * The memo is read ONCE: hits come from the join below, misses are
    * computed, PERSISTED (so the model is not re-invoked when the
    * returned plan is consumed), appended to the memo, and unioned with
    * the hits. Appending a duplicate key on a concurrent re-run is
    * harmless: hits are deduped on read.
    */
  def mapChunksWithMemo(chunks: DataFrame, client: ModelClient,
                        prompt: String, model: String,
                        memoPath: String): DataFrame = {
    val spark = chunks.sparkSession
    val keyed = chunks.withColumn("key", cacheKey(prompt, model, "text"))
    val memo = readMemo(spark, memoPath).dropDuplicates("key")

    val hits = keyed.join(memo, Seq("key"))
      .select(col("chunk_id"), col("text"), col("result"))
    val misses = keyed.join(memo, Seq("key"), "left_anti")
    val fresh = LlmMap.mapChunks(misses, client, prompt)
      .transform(SessionCache.persist)
    // The append is the materializing action that populates `fresh`'s
    // cache; everything downstream reuses it instead of re-calling the
    // model.
    fresh.select(col("key"), col("result"))
      .write.mode("append").parquet(memoPath)

    hits.unionByName(fresh.select(col("chunk_id"), col("text"), col("result")))
  }

  /** C11 — cache invalidation (`mapreduce.go:266-281`): delete the memo
    * table. Idempotent; safe when the path never existed.
    */
  def clearMemo(spark: SparkSession, memoPath: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(memoPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    ()
  }

  /** Compact the memo: concurrent appends can leave duplicate keys
    * (harmless — reads dedupe — but they accumulate bytes and read
    * work forever). Rewrites the table deduplicated to a sibling temp
    * path, then swaps it in via rename-aside (the live memo is only
    * deleted AFTER the compacted table is installed, so a crash at any
    * point leaves either the old or the new table readable — never
    * neither). NOT safe concurrently with writers (maintenance op,
    * like any table compaction); the read view before and after is
    * identical (MemoCacheSpec proves it).
    */
  def compactMemo(spark: SparkSession, memoPath: String): Unit = {
    val df = memoTable(spark, memoPath) match {
      case Some(t) => t
      case None => return
    }
    val path = new org.apache.hadoop.fs.Path(memoPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(memoPath + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(memoPath + ".compact.old")
    fs.delete(tmp, true); fs.delete(old, true)
    df.dropDuplicates("key").write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compactMemo: rename $path -> $old failed")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // restore; the original memo was never lost
      throw new java.io.IOException(s"compactMemo: rename $tmp -> $path failed")
    }
    fs.delete(old, true)
    ()
  }
}
