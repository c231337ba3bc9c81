package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** StreamingSpec's run harness for the streaming operators in
  * `graft.streaming`: each run stages its input under the JVM's temp
  * root and runs the query with `AvailableNow` to completion.
  */
object StreamRuns {

  /** Run a streaming plan with `append` output to completion (the only
    * mode stream-stream joins support) and return the emitted rows.
    */
  def runAppend(spark: SparkSession, plan: DataFrame,
                queryName: String): DataFrame = {
    val q = plan.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Run a streaming aggregation to completion over the (static) file
    * source and return the final result from the memory sink.
    * Trigger.AvailableNow processes everything then stops — the batch-
    * parity harness. `complete` output keeps the full result table so
    * parity needs no watermark-cutoff filtering.
    */
  def runToCompletion(spark: SparkSession, agg: DataFrame,
                      queryName: String): DataFrame = {
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Run `mkAgg` INCREMENTALLY: each batch DataFrame becomes one parquet
    * file (mtime-ordered, which is the file source's processing order)
    * and `maxFilesPerTrigger=1` makes AvailableNow process them as
    * SEPARATE micro-batches. With `append` output the watermark advances
    * between batches, finalized windows are emitted exactly once and
    * their state is EVICTED, and input rows older than the watermark are
    * dropped — the real state lifecycle, not a one-shot replay
    * (StreamingSpec proves the late-drop on a planted late event).
    */
  def runIncremental(spark: SparkSession, batches: Seq[DataFrame],
                     mkAgg: DataFrame => DataFrame, queryName: String): DataFrame = {
    val dir = Harness.tempDir("inc-src")
    val schema = batches.head.schema
    batches.zipWithIndex.foreach { case (b, i) => stageBatch(dir, b, i) }
    val q = try {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val query = mkAgg(src).writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      spark.table(queryName)
    } finally Harness.deleteTree(dir) // memory sink holds the result; the
    q                                 // staged source is no longer needed
  }

  /** Stage one batch DataFrame as a single parquet file in `dir`, with a
    * deterministic monotone mtime so the file source processes batches
    * in sequence order (its listing order is mtime).
    */
  private def stageBatch(dir: java.nio.file.Path, b: DataFrame, i: Int): Unit = {
    import java.nio.file.Files
    val tmp = Harness.tempDir("inc-stage")
    b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst.get
      finally listing.close()
    val dest = dir.resolve(f"batch-$i%05d.parquet")
    Files.move(part, dest)
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    Harness.deleteTree(tmp)
  }

  /** Checkpoint-restart recovery — the streaming twin of the batch memo
    * resume (C6; ref `internal/cli/mapreduce.go:76-87`,
    * where a re-run skips chunks whose results are already on disk):
    * run the first `splitAt` batches into a PARQUET sink under a real
    * `checkpointLocation`, let AvailableNow STOP the query, stage the
    * remaining batches, then start a NEW query from the same checkpoint.
    *
    * The restart resumes from persisted offsets + state store +
    * watermark: files committed before the stop are never re-read,
    * in-flight window state survives, the watermark keeps dropping
    * pre-stop late rows, and the file sink's transaction log makes the
    * output exactly-once across the two runs — so the final table must
    * EQUAL the uninterrupted single-run result (StreamingSpec asserts
    * exactly that, plus a planted late event dropped by the RESTORED
    * watermark).
    */
  def runWithRestart(spark: SparkSession, batches: Seq[DataFrame],
                     mkAgg: DataFrame => DataFrame, splitAt: Int): DataFrame = {
    require(splitAt > 0 && splitAt < batches.size,
      s"splitAt=$splitAt must leave batches on both sides of the restart")
    val srcDir = Harness.tempDir("ckpt-src")
    val ckpt = Harness.tempDir("ckpt-meta")
    val outDir = Harness.tempDir("ckpt-out")
    val schema = batches.head.schema
    def mkSrc() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    def runOnce(): Unit = {
      val q = mkAgg(mkSrc()).writeStream
        .format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    batches.take(splitAt).zipWithIndex
      .foreach { case (b, i) => stageBatch(srcDir, b, i) }
    runOnce() // first run: splitAt micro-batches, then a clean STOP
    batches.drop(splitAt).zipWithIndex
      .foreach { case (b, i) => stageBatch(srcDir, b, splitAt + i) }
    runOnce() // restart from the checkpoint: only the new files run
    // explicit schema: a run whose windows never finalize writes no
    // data files, and schema inference would fail on the bare sink dir.
    // The result is a spec-sized fixture, so collect it into a LOCAL
    // DataFrame and delete ALL temp dirs (incl. outDir) right here, so
    // no cached relation or sink dir outlives the call.
    val outSchema = mkAgg(mkSrc()).schema
    val rows = spark.read.schema(outSchema).parquet(outDir.toString)
      .collect().toSeq
    Seq(srcDir, ckpt, outDir).foreach(Harness.deleteTree)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), outSchema)
  }

  /** foreachBatch harness: run `batches` as separate micro-batches
    * through a user sink callback `(batchDf, batchId)` — the surface
    * behind every streaming-lakehouse pattern (MERGE INTO a state
    * table per micro-batch, idempotent by batchId). The callback runs
    * on the driver with a BATCH DataFrame, so the full batch API
    * (joins, windows, writes) is available per trigger; StreamingSpec
    * uses it to prove a streamed latest-wins upsert converges to the
    * q93 batch merge.
    */
  def runForeachBatch(spark: SparkSession, batches: Seq[DataFrame],
                      onBatch: (DataFrame, Long) => Unit): Unit = {
    val dir = Harness.tempDir("feb-src")
    val schema = batches.head.schema
    batches.zipWithIndex.foreach { case (b, i) => stageBatch(dir, b, i) }
    try {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val q = src.writeStream
        .foreachBatch(onBatch)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally Harness.deleteTree(dir)
  }
}
