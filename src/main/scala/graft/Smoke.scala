package graft

/** Local smoke driver: runs the flagship entry + edge probes through the
  * public API exactly as the round driver would. Not part of the driver
  * contract; kept for fast end-to-end checks between rounds.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    import spark.implicits._

    val df = SparkEntry.entry(spark)
    println(s"ENTRY rows=${df.count()}")
    df.select("chunk_id", "n_records", "n_tokens", "result")
      .orderBy("chunk_id").show(3, 60)

    // probe: empty corpus
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    println("EMPTY chunks=" +
      pipeline.Chunker.chunkTable(empty, "doc_id", "text").count())

    // probe: one record far over budget — C3b word-split runs in the
    // canonical path, so it lands as multiple <= budget chunks.
    val big = Seq((0L, ("w " * 9000).trim)).toDF("doc_id", "text")
    pipeline.Chunker.chunkTable(big, "doc_id", "text", 2000)
      .select("chunk_id", "n_tokens", "n_records").show()

    spark.stop()
  }
}
