package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.queries.Dedup
import StatefulNeardupGate.Collision

/** The BOUNDED-STATE variant of the q208 streaming near-dup gate
  * (VERDICT r12 #3): [[StatefulNeardupGate]]'s band index grows with
  * the corpus by design (286k state rows at sf0.1, 2.96M at 10× — cap
  * × distinct buckets, and the bucket vocabulary grows with corpus
  * text), which an ALWAYS-ON 100-TB gate cannot carry forever. This
  * gate bounds state with two composable rules, both deterministic
  * pure functions of the input:
  *
  *   - **event-time aging**: a member is probe-able only within
  *     `horizonMs` of the arriving doc's event time — on every arrival
  *     the bucket drops members with `ts_ms <= arriving.ts_ms −
  *     horizonMs` before probing;
  *   - **per-bucket recency (LRU) cap**: every doc is ADMITTED
  *     (unlike the unbounded gate's admit-refusal cap) and the bucket
  *     keeps only the [[Dedup.BandBucketCap]] most recent members,
  *     evicting the oldest.
  *
  * So a doc collides with exactly: earlier same-bucket docs within the
  * horizon that are among the cap most recent arrivals — the batch
  * twin [[Dedup.boundedGatePairs]] states the same rule as one
  * self-join + recency window, and q218 oracle-checks it in DuckDB.
  * StreamingSpec pins streaming == batch-twin parity on staged batches.
  *
  * **The recall trade (documented semantics, not a bug):** a late
  * duplicate arriving more than the horizon after its partner (or
  * after cap newer docs hit the bucket) emits NOTHING — the partner is
  * evicted, deliberately forgotten. The late doc is admitted as if
  * new, so *its* subsequent duplicates are caught. A production
  * deployment sizes the horizon to the dedup SLA (e.g. "suppress
  * re-crawls within 7 days") and lets the batch pipeline (q41) catch
  * cross-horizon pairs.
  *
  * **Why state stays flat:** within-bucket membership is trimmed on
  * every arrival, and an EVENT-TIME TIMER per bucket (registered at
  * last-admit + horizon) clears the whole bucket — members AND the
  * key's state entry — once the watermark passes its last possible
  * probe window, so dormant bucket keys do not accrete. Under
  * continuous ingest the state population tracks the horizon's worth
  * of buckets, not the corpus — StreamingSpec's "bounded gate state
  * plateaus" case pins its state rows flat while the unbounded gate's
  * grow every batch on the same stream.
  */
object BoundedNeardupGate {

  case class BandRowTs(doc: Long, band_idx: Int, band_hash: String, ts_ms: Long)
  case class MemberTs(doc: Long, ts_ms: Long)

  class Processor(horizonMs: Long, cap: Int)
      extends StatefulProcessor[(Int, String), BandRowTs, Collision] {
    @transient private var members: ListState[MemberTs] = _
    @transient private var cleanupAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      members = getHandle.getListState[MemberTs]("members",
        Encoders.product[MemberTs], TTLConfig.NONE)
      cleanupAt = getHandle.getValueState[Long]("cleanup_at",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRowTs],
                                 timerValues: TimerValues): Iterator[Collision] = {
      // arrival order = event-time order (the q78 id-order convention;
      // ties broken by doc for a total order)
      val ordered = rows.toSeq.sortBy(r => (r.ts_ms, r.doc))
      var cur = members.get().toVector
      val out = Vector.newBuilder[Collision]
      for (r <- ordered) {
        cur = cur.filter(m => m.ts_ms > r.ts_ms - horizonMs) // age out
        cur.foreach(m => out += Collision(r.doc, m.doc, key._1))
        cur = (cur :+ MemberTs(r.doc, r.ts_ms)).takeRight(cap) // LRU admit
      }
      members.put(cur.toArray)
      // One cleanup timer per bucket at the newest member's expiry —
      // Spark fires it once the watermark reaches it (expiry <=
      // watermark), and from then on every later arrival (ts >
      // watermark) ages every member out, so the whole key clears.
      val expiry = cur.last.ts_ms + horizonMs
      if (cleanupAt.exists()) {
        val prev = cleanupAt.get()
        if (expiry > prev) getHandle.deleteTimer(prev)
      }
      if (!cleanupAt.exists() || expiry > cleanupAt.get()) {
        getHandle.registerTimer(expiry)
        cleanupAt.update(expiry)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Int, String),
                                    timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[Collision] = {
      // The firing timer is the latest registered (older ones are
      // deleted on re-registration), so watermark >= newest member's
      // expiry — the whole bucket is unreachable. Guarded trim anyway:
      // keep any member still inside a future probe window — and
      // RE-ARM a timer at the survivors' expiry, because a guard that
      // retains members without a pending timer would hold them
      // forever if no further arrival ever touches the bucket (the
      // unbounded-state condition this class exists to prevent;
      // ADVICE r13).
      val wm = timerValues.getCurrentWatermarkInMs()
      val alive = members.get().filter(_.ts_ms > wm - horizonMs).toArray
      if (alive.isEmpty) { members.clear(); cleanupAt.clear() }
      else {
        members.put(alive)
        val expiry = alive.map(_.ts_ms).max + horizonMs
        getHandle.registerTimer(expiry)
        cleanupAt.update(expiry)
      }
      Iterator.empty
    }
  }

  /** The streaming plan over a documents-shaped stream with event time
    * `(doc_id, text, ts)` (ts a timestamp column; the watermark drives
    * both aging and bucket-clear timers).
    *
    * To size its state partitions, start and run the query inside
    * [[StatefulNeardupGate.withStatePartitions]].
    */
  def gateStream(docs: DataFrame, horizonMs: Long): Dataset[Collision] = {
    val spark = docs.sparkSession
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    Dedup.bandsPerRow(docs.withWatermark("ts", "0 seconds"),
        "doc_id", "text", passthrough = Seq("ts"))
      .select(col("doc"), col("band_idx").cast("int").as("band_idx"),
        col("band_hash"), unix_millis(col("ts")).as("ts_ms"))
      .as[BandRowTs]
      .groupByKey(b => (b.band_idx, b.band_hash))
      .transformWithState(new Processor(horizonMs, Dedup.BandBucketCap),
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[Collision])
  }
}
