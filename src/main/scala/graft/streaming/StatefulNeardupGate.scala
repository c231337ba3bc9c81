package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

import graft.queries.Dedup

/** STREAMING near-dup ingestion gate — the q208 batch twin
  * ([[Dedup.neardupGate]]) run as an always-on Structured Streaming
  * job: documents arrive in micro-batches, each doc's MinHash bands
  * derive as a pure per-row projection ([[Dedup.bandsPerRow]] — no
  * aggregation before the stateful stage), and a `transformWithState`
  * processor keyed on (band_idx, band_hash) keeps the bucket's member
  * list in RocksDB [[ListState]]: every arriving doc probes the
  * members already there (docs from EARLIER micro-batches plus
  * earlier-sorted docs of its own batch) and emits one collision row
  * per (member, band); it then joins the index itself unless the
  * bucket already holds [[Dedup.BandBucketCap]] members — the same
  * quadratic-blowup guard the batch LSH join uses, here bounding both
  * state size and per-batch emit volume.
  *
  * Semantics contract (what StreamingSpec pins): with arrival order =
  * doc-id order (the q78 convention; the processor sorts its
  * micro-batch slice, and the harness stages batches in id order),
  * the emitted (doc, partner, band_idx) set is IDENTICAL to
  * [[Dedup.neardupGatePairs]] on the batched union — including
  * cross-batch index growth and cap behavior.
  *
  * Scale shape: the only shuffle is the band-bucket keyBy
  * (collision-sized buckets); state rows are bounded by
  * cap × distinct-buckets regardless of stream length (dormant
  * buckets age out under a production TTL — TTLConfig.NONE here so
  * the parity spec sees the full index); per-micro-batch cost is
  * batch-sized, never corpus-sized.
  */
object StatefulNeardupGate {

  case class BandRow(doc: Long, band_idx: Int, band_hash: String)
  case class Collision(doc: Long, partner: Long, band_idx: Int)

  class Processor extends StatefulProcessor[(Int, String), BandRow, Collision] {
    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRow],
                                 timerValues: TimerValues): Iterator[Collision] = {
      val ordered = rows.map(_.doc).toSeq.sorted
      var cur = members.get().toVector
      val out = Vector.newBuilder[Collision]
      for (d <- ordered) {
        cur.foreach(m => out += Collision(d, m, key._1))
        if (cur.size < Dedup.BandBucketCap) {
          members.appendValue(d)
          cur = cur :+ d
        }
      }
      out.result().iterator
    }
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the prior value in a finally. Streaming state
    * partitioning is frozen from that conf when the query first starts,
    * so it cannot be a plan-level hint; the body must cover the
    * streaming query's start AND completion, not just plan
    * construction. Sizing matters for the gates: their per-trigger
    * floor is per-store RocksDB machinery, and on 37.5k band rows per
    * batch 8 stores ran 49-64% faster than 32. No-op wrapper when `n`
    * is None.
    */
  def withStatePartitions[T](spark: org.apache.spark.sql.SparkSession,
      n: Option[Int])(body: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try { n.foreach(v => spark.conf.set("spark.sql.shuffle.partitions", v.toString)); body }
    finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** The streaming plan over a documents-shaped stream (doc_id, text).
    * To size its state partitions, start and run the query inside
    * [[withStatePartitions]].
    */
  def gateStream(docs: DataFrame): Dataset[Collision] = {
    val spark = docs.sparkSession
    // transformWithState is RocksDB-only; pin the provider before the
    // query starts (no-op if already set)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    Dedup.bandsPerRow(docs, "doc_id", "text")
      .select(col("doc"), col("band_idx").cast("int").as("band_idx"),
        col("band_hash"))
      .as[BandRow]
      .groupByKey(b => (b.band_idx, b.band_hash))
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[Collision])
  }
}
