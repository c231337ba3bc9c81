package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness
import graft.streaming.StreamingJobs

/** Streaming micro-bench (VERDICT r8 #5): measured rows/s and
  * state-store footprint across micro-batches for the stateful
  * streaming surfaces — `transformWithState` running stats,
  * the flatMapGroupsWithState debounce, the q196 stream-stream
  * LEFT-OUTER interval join, plus the tumbling-window aggregate and
  * watermark-bounded dedup as baselines. The semantics of all five are
  * oracle/spec-proven (StreamingSpec, StatefulRunningSpec); this tool
  * pins the THROUGHPUT evidence in-repo as `BENCH_streaming.json`.
  *
  * Method: the sf events table is split into `SPARK_GRAFT_STREAM_BATCHES`
  * (default 8) chronological slices, staged as mtime-ordered parquet
  * files; each workload streams them as separate micro-batches
  * (`maxFilesPerTrigger=1`, AvailableNow, memory sink — sink cost ~0 so
  * the numbers measure the stateful operator, not an external writer).
  * Per batch we record input rows, trigger wall, and the state store's
  * row count and memory from `StreamingQueryProgress.stateOperators` —
  * the direct observable for "state stays bounded as batches pass",
  * which is the 100-TB streaming claim (watermark eviction / 8-byte
  * debounce state / one (count,sum) pair per user).
  *
  * The state-store provider is pinned to RocksDB for ALL workloads
  * (transformWithState requires it; using it everywhere makes the
  * memory/footprint numbers comparable and production-shaped).
  *
  * Round 10 adds KEY-CARDINALITY arms (VERDICT r9 #7): the base run
  * scales rows with ~fixed keys; the `*_keys_x10` arms re-key the same
  * rows onto 10× the users (state rows must grow ~10× at flat
  * throughput — state scales with keys, not rows) and the
  * `*_keys_skewed` arms drop ~90% of rows onto one hot user (the run
  * completing at the same order of rows/s proves a hot key cannot
  * stall a micro-batch).
  */
object StreamBench {

  final case class BatchPoint(batch: Long, rows: Long, ms: Long,
                              stateRows: Long, stateBytes: Long,
                              planMs: Long, addBatchMs: Long, commitMs: Long,
                              stateCommitMs: Long)
  final case class Run(name: String, rowsIn: Long, rowsOut: Long,
                       wallSec: Double, points: Seq[BatchPoint])

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) args(1) else "/root/repo/BENCH_streaming.json"
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    val spark = Harness.session(32,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // Changelog checkpointing: commit uploads a per-batch changelog
      // instead of a full RocksDB snapshot (snapshots move to background
      // maintenance). Diagnosed in r11 via the per-batch state_commit_ms
      // column: the q196 stream-stream join commits 4 stores x 32
      // partitions each batch, and full-snapshot commits burned ~100 s
      // cumulative per batch on ~5k flat state rows — changelog mode
      // cut wall 41.2 s -> 29.2 s (+41% rows/s) on the same arm. This
      // is the production setting for every stateful job here.
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val tmp = java.nio.file.Files.createTempDirectory("graft-sbench")
    val runs = try measureAll(spark, sfDir, nBatches, tmp)
      finally Harness.deleteTree(tmp)
    spark.stop()

    val js = runs.map { r =>
      val pts = r.points.map(p =>
        s"""{"batch":${p.batch},"rows":${p.rows},"ms":${p.ms},""" +
          s""""state_rows":${p.stateRows},"state_bytes":${p.stateBytes},""" +
          s""""plan_ms":${p.planMs},"add_batch_ms":${p.addBatchMs},""" +
          s""""commit_ms":${p.commitMs},"state_commit_ms":${p.stateCommitMs}}""")
        .mkString("[", ",", "]")
      s""""${r.name}":{"rows_in":${r.rowsIn},"rows_out":${r.rowsOut},""" +
        s""""wall_s":${Harness.num(r.wallSec)},""" +
        s""""rows_per_s":${Harness.num(r.rowsIn / r.wallSec)},"batches":$pts}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"streaming","sf":"$sfDir","n_batches":$nBatches,""" +
      s""""state_store":"rocksdb","workloads":$js}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (line + "\n").getBytes("UTF-8"))
    println(line)
  }

  /** Stages the input slices under `tmp` and runs every arm. */
  private def measureAll(spark: SparkSession, sfDir: String, nBatches: Int,
                         tmp: java.nio.file.Path): Seq[Run] = {
    import spark.implicits._

    // chronological slices: the file source replays them in mtime order,
    // so watermarks advance between batches like a live ingest
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("slice",
        ntile(nBatches).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
    def dir(name: String) = java.nio.file.Files.createDirectory(tmp.resolve(name))
    val srcDir = dir("src")
    (1 to nBatches).foreach(i =>
      StreamingJobs.stageBatch(srcDir, ev.filter(col("slice") === i).drop("slice"), i - 1))
    // KEY-CARDINALITY arms (VERDICT r9 #7): same rows, different key
    // structure — the state stores must scale with KEYS, not rows, and
    // a hot key must not stall a micro-batch.
    //  - keys ×10: user_id fanned out 10-ways by event_id, so the
    //    per-user state population grows ~10× at identical row count;
    //  - skewed: ~90% of rows land on ONE hot user (the remainder keep
    //    their key), so one task owns a corpus-sized key group.
    val keys10Dir = dir("k10")
    val skewDir = dir("skew")
    val evK10 = ev.withColumn("user_id",
      col("user_id") * 10 + pmod(col("event_id"), lit(10)))
    val evSkew = ev.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) === 0, col("user_id"))
        .otherwise(lit(0L)))
    (1 to nBatches).foreach { i =>
      StreamingJobs.stageBatch(keys10Dir, evK10.filter(col("slice") === i).drop("slice"), i - 1)
      StreamingJobs.stageBatch(skewDir, evSkew.filter(col("slice") === i).drop("slice"), i - 1)
    }
    // documents stream for the q208 near-dup ingestion gate: id-ordered
    // slices (arrival = id order, the gate's parity contract). The raw
    // sf0.1 corpus is 5k docs = 625/batch — fixture-sized batches whose
    // per-trigger overhead read as a 30x throughput cliff in the r10
    // artifact (VERDICT r10 #6). The pinned arm fans the corpus out
    // SPARK_GRAFT_STREAM_DOCS_X-fold (default 20 -> 12,500 rows/batch,
    // the same batch size as the sibling event arms): variant r of a
    // doc gets a fresh id (order-preserving: doc_id*X + r) and every
    // WORD suffixed with the variant tag, so a shingle is shared
    // between two fanned docs iff the ORIGINAL shingle was shared and
    // the variant matches — similarity structure (and so collision
    // rate per doc) is preserved exactly per variant, with zero
    // cross-variant shingles. (A salt word INSERTED between words
    // would itself appear in every shingle and, over the fixture's
    // closed vocabulary, make all same-variant docs collide — 14.6
    // emitted collisions per doc when tried.)
    val docsX = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_X", "20").toInt
    val docs0 = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val docsFan = if (docsX <= 1) docs0 else docs0
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(docsX - 1))).as("r"))
      .select((col("doc_id") * docsX + col("r")).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"),
          w => concat(w, lit("x"), col("r"))), " ").as("text"))
    val docs = docsFan
      .withColumn("slice",
        ntile(nBatches).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))))
    val docsDir = dir("docs")
    (1 to nBatches).foreach(i =>
      StreamingJobs.stageBatch(docsDir, docs.filter(col("slice") === i).drop("slice"), i - 1))
    // fanned ids are contiguous 0..N-1, so the row count doubles as the
    // event-time span (ts = doc_id ms) for the bounded-gate horizon
    val docsTotal = spark.read.parquet(docsDir.toString).count()
    val docsSchema = spark.read.parquet(s"$docsDir/batch-00000.parquet").schema
    def docsSrc(): DataFrame = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir.toString)
    val schema = spark.read.parquet(s"$srcDir/batch-00000.parquet").schema

    def srcFrom(dir: java.nio.file.Path): DataFrame = graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString))
    def src(): DataFrame = srcFrom(srcDir)

    var counter = 0
    def measure(name: String, plan: DataFrame): Run = {
      counter += 1
      val qn = s"sbench_$counter"
      val t0 = System.nanoTime()
      val q = plan.writeStream
        .format("memory").queryName(qn).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val pts = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val st = p.stateOperators
        def dur(k: String) =
          Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
        BatchPoint(p.batchId, p.numInputRows, dur("triggerExecution"),
          if (st == null) 0L else st.map(_.numRowsTotal).sum,
          if (st == null) 0L else st.map(_.memoryUsedBytes).sum,
          dur("queryPlanning"), dur("addBatch"),
          dur("walCommit") + dur("commitOffsets"),
          // state-store commit wall inside the batch (sum over operators
          // and partitions): the RocksDB snapshot/changelog upload cost
          // that diagnoses per-batch growth with flat state rows
          if (st == null) 0L else st.map(_.commitTimeMs).sum)
      }
      val out = spark.table(qn).count()
      val rowsIn = pts.map(_.rows).sum
      System.err.println(f"STREAMBENCH $name rows_in=$rowsIn rows_out=$out " +
        f"wall=$wall%.2f s rate=${rowsIn / wall}%.0f rows/s " +
        s"state_rows_last=${pts.lastOption.map(_.stateRows).getOrElse(0L)}")
      Run(name, rowsIn, out, wall, pts)
    }

    val keep = Harness.only()
    // Production state-partition size for the gate arms (VERDICT r14
    // #5): the canonical gate arms run at the AUTO-computed size — the
    // sizing rule a deployment gets by default — after the r13 A/B
    // (BENCH_streaming_ab.json) showed it matching/beating the
    // hand-picked p8 floor. The default-32 and p8 arms below stay as
    // the comparison experiments.
    val autoN = graft.streaming.StatefulNeardupGate.autoStatePartitions(
      docsPerBatch = math.max(1L, docsTotal / nBatches),
      cores = Runtime.getRuntime.availableProcessors())
    System.err.println(s"STREAMBENCH gate arms: autoStatePartitions=$autoN " +
      s"for ~${docsTotal / nBatches} docs/batch")
    // (name, plan thunk, state-partition pin) — pinned arms run inside
    // StatefulNeardupGate.withStatePartitions so the session conf is
    // always restored (ADVICE r14 #3).
    val arms: Seq[(String, () => DataFrame, Option[Int])] = Seq(
      ("tumbling_agg",
        () => graft.streaming.StreamingJobs.tumblingCounts(src()), None),
      ("dedup_within_watermark",
        () => graft.streaming.StreamingJobs.dedupStream(src(), "event_id"), None),
      ("transform_with_state_running",
        () => graft.streaming.StatefulRunning.runningStats(src()).toDF(), None),
      ("debounce_fmgws", () => graft.streaming.StatefulDebounce.debounce(
        src().select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
          .as[graft.streaming.KeyedEvent]).toDF(), None),
      ("interval_join_outer_q196",
        () => graft.streaming.StreamingJobs.attributionJoinOuter(src(), src()), None),
      // q208 near-dup ingestion gate: the band index accretes across
      // batches in ListState — state_rows tracks cap-bounded bucket
      // membership (corpus-shaped, not row-shaped), rows_in counts the
      // document stream.
      ("neardup_gate_tws",
        () => graft.streaming.StatefulNeardupGate.gateStream(docsSrc(),
          statePartitions = Some(autoN)).toDF(), Some(autoN)),
      // BOUNDED gate (VERDICT r12 #3): same document stream with event
      // time ts = doc_id ms, retention horizon = TWO batches' worth of
      // arrivals. The unbounded arm's state_rows grow monotonically
      // with the corpus; this arm must PLATEAU after ~2-3 batches
      // (aging trims bucket members on arrival; event-time timers
      // clear dormant bucket keys once the watermark passes their
      // horizon) — the "state stays bounded under continuous ingest"
      // observable for an always-on 100-TB gate.
      ("neardup_gate_bounded", { () =>
        val idsPerBatch = math.max(1L, docsTotal / nBatches)
        graft.streaming.BoundedNeardupGate.gateStream(
          docsSrc().withColumn("ts", timestamp_millis(col("doc_id"))),
          horizonMs = 2L * idsPerBatch,
          statePartitions = Some(autoN)).toDF()
      }, Some(autoN)),
      // keys-scaling arms on the transformWithState running stats (the
      // per-key-state flagship): state_rows_last must track the KEY
      // count (~10x base for keys_x10, ~collapsed for keys_skewed)
      // while rows/s stays the same order — and the skewed arm's
      // completion at full input proves a hot key cannot stall a
      // micro-batch (per-key state work is O(batch rows of that key),
      // not O(accumulated state)).
      ("running_keys_x10",
        () => graft.streaming.StatefulRunning.runningStats(srcFrom(keys10Dir)).toDF(), None),
      ("running_keys_skewed",
        () => graft.streaming.StatefulRunning.runningStats(srcFrom(skewDir)).toDF(), None),
      ("debounce_keys_x10", () => graft.streaming.StatefulDebounce.debounce(
        srcFrom(keys10Dir).select(col("user_id"), col("event_type"),
          col("event_id"), unix_micros(col("ts")).as("ts_us"))
          .as[graft.streaming.KeyedEvent]).toDF(), None),
      ("debounce_keys_skewed", () => graft.streaming.StatefulDebounce.debounce(
        srcFrom(skewDir).select(col("user_id"), col("event_type"),
          col("event_id"), unix_micros(col("ts")).as("ts_us"))
          .as[graft.streaming.KeyedEvent]).toDF(), None))
      .filter { case (n, _, _) => keep(n) }

    // warmup: run the cheapest workload once so JVM/codegen/RocksDB
    // startup cost lands outside the recorded numbers
    measure("warmup_tumbling", graft.streaming.StreamingJobs.tumblingCounts(src()))

    val runs0 = arms.map { case (name, plan, sp) =>
      graft.streaming.StatefulNeardupGate.withStatePartitions(spark, sp) {
        measure(name, plan())
      }
    }

    // q208 floor experiment (VERDICT r12 #5): the per-batch
    // decomposition pins ~95% of the gate's trigger wall inside
    // addBatch (plan_ms and walCommit are noise), i.e. the stateful
    // stage itself: 32 shuffle partitions × 32 RocksDB stores each
    // paying per-batch open/commit/changelog machinery on ~3.5k band
    // rows apiece. This arm re-runs the UNBOUNDED gate with the
    // stateful shuffle sized to the batch (8 partitions — each store
    // sees ~4x the rows, total per-batch store machinery /4). If the
    // floor is micro-batch machinery the rate rises materially; if it
    // is minhash/probe CPU it stays put. (Fresh query name + sink =
    // fresh checkpoint, so the re-partitioned state layout is legal.)
    // Each experiment arm pins the session's shuffle-partition conf
    // inside withStatePartitions (streaming state partitioning is
    // frozen from it at first start), so a throwing arm cannot leave
    // the session at the experimental size for everything after it
    // (ADVICE r13, r14 #3).
    val runsP8 = if (keep("neardup_gate_p8"))
      graft.streaming.StatefulNeardupGate.withStatePartitions(spark, Some(8)) {
        Seq(measure("neardup_gate_p8",
          graft.streaming.StatefulNeardupGate.gateStream(docsSrc()).toDF()))
      }
    else Nil
    // DEFAULT-32 comparison arm (VERDICT r14 #5 flipped the canonical
    // gate arms to the auto size, so the old default becomes the
    // experiment): the 32-partition layout the session ships with —
    // oversized for fixture batches, each store paying per-batch
    // machinery on too few rows. Kept so the artifact still pins the
    // auto-vs-default delta every re-run.
    val runsD32 = if (keep("neardup_gate_d32"))
      graft.streaming.StatefulNeardupGate.withStatePartitions(spark, Some(32)) {
        Seq(measure("neardup_gate_d32",
          graft.streaming.StatefulNeardupGate.gateStream(docsSrc()).toDF()))
      }
    else Nil
    runs0 ++ runsP8 ++ runsD32
  }
}
