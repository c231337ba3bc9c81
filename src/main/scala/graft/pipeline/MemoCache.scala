package graft.pipeline

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.SessionCache

/** Resume/memoization for the map stage.
  *
  * The reference caches each chunk result as `result%d.txt` keyed by
  * chunk INDEX only (`/root/reference/internal/cli/mapreduce.go:152-166`)
  * — a stale-cache hazard: changing the prompt or model silently reuses
  * old answers. The engine fixes that: the memo key is
  * sha2(prompt || model || chunk_text), so any input change is a miss.
  *
  * Storage is a parquet table of (key, result). Like the reference's
  * resume loop (use a chunk's cached result if there is one, otherwise
  * call the model), a run left-joins the chunks to the memo (no
  * driver-side lookup) and runs them all through one map job, which
  * calls the model only for the chunks the memo does not hold. That job
  * is the memo's only writer: each map task commits its finished calls'
  * rows to its own file as the task ends, like the reference's per-chunk
  * `result%d.txt`, so a failed run keeps every call that returned and a
  * rerun makes only the calls that did not.
  * All set logic is distributed; works unchanged on a 1000-executor
  * cluster with the memo on a shared object store.
  */
object MemoCache {

  /** NUL separator (escaped, never a literal byte — keeps this file
    * text-diffable): cannot appear inside prompt/model/chunk text, so
    * distinct (prompt, model, text) triples never concatenate equal.
    */
  private val Sep = "\u0000"

  def cacheKey(prompt: String, model: String, textCol: String) =
    sha2(concat_ws(Sep, lit(prompt), lit(model), col(textCol)), 256)

  /** The memo table at `memoPath`, or an empty `(key, result)` table
    * when the path is missing or holds no files yet.
    *
    * ONLY a missing/empty memo path means "cold cache". Any other read
    * failure (permissions, corrupt footer, storage flake) must
    * propagate: swallowing it would silently recompute the whole map
    * stage — re-invoking the model — and commit duplicate keys, with
    * no signal that anything went wrong. Existence is checked up front
    * (filesystems differ on WHICH exception a missing path raises:
    * local FS throws raw FileNotFoundException, not AnalysisException
    * PATH_NOT_FOUND), so the catch below only excuses an existing-but-
    * fileless dir (e.g. one holding only a killed task's `_`-prefixed
    * uncommitted file). A table whose columns are not (key, result) is
    * a mis-pointed path: it throws, so neither a map run nor a
    * compaction writes into it.
    */
  private def memoTable(spark: SparkSession, memoPath: String): DataFrame = {
    val path = new Path(memoPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lazy val empty = spark.createDataFrame(java.util.List.of[Row](),
      new StructType().add("key", StringType).add("result", StringType))
    if (!fs.exists(path)) return empty
    val df = try spark.read.parquet(memoPath) catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        return empty
    }
    if (!df.columns.sameElements(Array("key", "result")))
      throw new IllegalArgumentException(
        s"$memoPath is not a memo table " +
          s"(columns ${df.columns.mkString(",")}, expected key,result)")
    df
  }

  /** Run the map stage with memoization.
    * chunks must have (chunk_id, text). Returns (chunk_id, text, result).
    *
    * The memo is read ONCE. Every run has one path: the chunks are
    * left-joined to the deduped memo and go through the map stage once,
    * now, in one job. A hit keeps its memo result with no model call;
    * each map task commits its calls' rows to the memo ([[TaskCommit]]),
    * never a hit's. The stage's output is kept as a local checkpoint, so
    * consuming the returned plan never re-invokes the model or reads the
    * memo. A cold memo is an empty local relation, whose join the
    * optimizer folds away. A duplicate key from a concurrent re-run or a
    * retried task is harmless: the memo is deduped on read. A lost
    * checkpoint is not recomputed; a rerun resumes from the committed memo.
    */
  def mapChunksWithMemo(chunks: DataFrame, client: ModelClient,
                        prompt: String, model: String,
                        memoPath: String): DataFrame = {
    val spark = chunks.sparkSession
    // a memo result may be null, so a hit is marked on its own
    val memo = memoTable(spark, memoPath).dropDuplicates("key")
      .select(col("key"), col("result").as("_memo"), lit(true).as("_hit"))
    val joined = chunks.withColumn("key", cacheKey(prompt, model, "text"))
      .join(memo, Seq("key"), "left")
    val keyIdx = joined.schema.fieldIndex("key")
    val memoIdx = joined.schema.fieldIndex("_memo")
    val hitIdx = joined.schema.fieldIndex("_hit")
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val mapped = LlmMap.mapChunks(joined, client, prompt,
      (r: Row) => if (r.isNullAt(hitIdx)) None else Some(r.getString(memoIdx)),
      () => new TaskCommit(memoPath, keyIdx, conf.value.value))
    SessionCache.checkpoint(mapped.select(col("chunk_id"), col("text"), col("result")),
      eager = true)
  }

  private val MemoSchema = MessageTypeParser.parseMessageType(
    "message spark_schema { optional binary key (STRING); optional binary result (STRING); }")

  /** One map task's memo file. The `(key, result)` of each call that
    * returned goes to `_<name>` under the memo; when the task ends,
    * whether it succeeds, fails or is killed, the file is closed and
    * renamed to `<name>`. Readers skip `_`-prefixed files, so a task that
    * dies mid-write leaves no visible partial file; a file that cannot
    * be committed is deleted and fails the task. A task with no returned
    * call writes nothing.
    */
  private final class TaskCommit(memoPath: String, keyIdx: Int, conf: Configuration)
    extends LlmMap.CallSink {
    private val name =
      f"part-${TaskContext.getPartitionId()}%05d-${UUID.randomUUID()}.snappy.parquet"
    private val tmp = new Path(memoPath, "_" + name)
    private val groups = new SimpleGroupFactory(MemoSchema)
    private var writer: ParquetWriter[Group] = _

    def done(row: Row, result: String): Unit = {
      if (writer == null)
        writer = ExampleParquetWriter.builder(tmp).withConf(conf).withType(MemoSchema)
          .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val g = groups.newGroup().append("key", row.getString(keyIdx))
      if (result != null) g.append("result", result)
      writer.write(g)
    }

    def end(): Unit = if (writer != null) {
      val fs = tmp.getFileSystem(conf)
      try {
        writer.close()
        if (!fs.rename(tmp, new Path(memoPath, name)))
          throw new java.io.IOException(s"memo commit: rename $tmp failed")
      } catch { case e: Throwable => fs.delete(tmp, false); throw e }
    }
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

  /** Compact the memo: concurrent runs and retried tasks can leave duplicate keys
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
    val path = new org.apache.hadoop.fs.Path(memoPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return
    val df = memoTable(spark, memoPath)
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
