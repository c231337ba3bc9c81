package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthesizes an N× `documents` + `embeddings` corpus from an existing
  * scale-factor directory, for the empirical scale probe
  * ([[ScaleProbe]] → `SCALE.md`). Everything is derived with
  * deterministic hash arithmetic (no RNG), so the corpus is
  * reproducible bit-for-bit and the generation itself is a distributed
  * plan — no driver-side loops over rows.
  *
  * Replica semantics (what keeps the probe honest):
  *  - rep 0 is the source corpus unchanged; reps 1..N-1 are size-true
  *    replicas with fresh ids (`id + rep * (max_id + 1)`).
  *  - document text in rep>0 is WORD-PERMUTED with a permutation keyed
  *    by (word position, rep): identical texts stay identical (exact
  *    duplicates inside each replica survive), same-length near-dup
  *    pairs share their permutation (word-substitution near-dups
  *    survive), but a doc and its own replica share almost no word
  *    n-grams — so the DUPLICATE RATE stays ~the source corpus's
  *    instead of every replica being a near-dup of its original, which
  *    would quadratically inflate LSH candidate pairs and fake a
  *    super-linear scaling curve.
  *  - replicas also MINT FRESH WORD TYPES (~30% of positions get a
  *    rep-specific suffix, (position, rep)-keyed like the permutation):
  *    the source corpus has a closed ~50-word vocabulary whose 3-gram
  *    space SATURATES under pure replication — every shingle's df then
  *    grows with corpus size and exact similarity joins go
  *    intrinsically quadratic (measured: 132× candidate growth at
  *    10×). Natural crawls grow vocabulary as they grow (Heaps' law),
  *    so honest replicas must too; identical texts still stay
  *    identical and same-length near-dups keep ~58% of their shared
  *    occurrences.
  *  - embeddings in rep>0 get content-seeded elementwise noise
  *    (uniform in ±0.45 per dim): identical source vectors stay
  *    identical, but a vector and its replica land at cosine ≈ 0.5 —
  *    far below every near-dup threshold in the catalog — while the
  *    label-cluster structure stays coarse enough for IVF to work.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/root/repo/scaleprobe/x10"
    val factor = if (args.length > 2) args(2).toInt else 10
    // which arm(s) to generate: "all", "corpus" (documents+embeddings),
    // or "facts" (trade facts + events — added round 9 so the existing
    // x10/x30 corpora need not be regenerated to gain the new tables)
    val arm = if (args.length > 3) args(3) else "all"
    val spark = graft.Harness.session(32)
    try {
      if (arm == "all" || arm == "corpus") generate(spark, srcDir, outDir, factor)
      if (arm == "all" || arm == "facts") generateFacts(spark, srcDir, outDir, factor)
    } finally spark.stop()
  }

  /** The trade-fact + events arm (round 9): scales the inputs of the
    * iterative-graph family (q119/q141/q143/q146/q166 build their
    * nation-nation edge list from lineitem⋈supplier ⋈ orders⋈customer)
    * and the events family (q80 session concurrency).
    *
    * Replica semantics:
    *  - DIMENSIONS (region, nation, customer, supplier, part) are
    *    COPIED unchanged — "more history against the same entities",
    *    the way a real fact table grows. The trade graph keeps its 25
    *    nodes and ≤ 625 edges; only edge WEIGHTS grow ~N×, so the
    *    probe isolates exactly the claim under test: the edge build is
    *    linear in the facts and the iteration cost is
    *    fact-count-independent.
    *  - orders/lineitem replicate with orderkey offset
    *    `ok + rep·(max_ok+1)` (l_orderkey follows o_orderkey, so the
    *    order⋈lineitem join structure is preserved exactly); all other
    *    columns ride along unchanged.
    *  - events replicate with fresh event ids AND fresh user ids
    *    (`+ rep·(max+1)`), timestamps unchanged: N× the users over the
    *    same period — per-user session structure (gaps, overlaps) is
    *    preserved per replica, while any per-window aggregate sees N×
    *    rows per window. Sessionization shuffles on user_id, so the
    *    key cardinality grows with the data (no synthetic hot key).
    */
  def generateFacts(spark: SparkSession, srcDir: String, outDir: String,
                    factor: Int): Unit = {
    val reps = broadcast(spark.range(factor).toDF("rep"))

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    val maxOk = ord.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    ord.crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * (maxOk + 1L))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    spark.read.parquet(s"$srcDir/lineitem.parquet").crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * (maxOk + 1L))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val ev = graft.Tables.events(spark, srcDir)
    val maxEv = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val maxUser = ev.agg(max(col("user_id"))).collect()(0).getLong(0)
    ev.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * (maxEv + 1L))
      .withColumn("user_id", col("user_id") + col("rep") * (maxUser + 1L))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  def generate(spark: SparkSession, srcDir: String, outDir: String,
               factor: Int): Unit = {
    val reps = broadcast(spark.range(factor).toDF("rep"))

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    // one driver scalar for the id offset — generator-tool territory
    val maxDoc = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    // position×rep-keyed permutation: array_sort on (key, pos, word)
    // structs orders by key with pos as the deterministic tiebreak
    val shuffled = array_sort(transform(split(col("text"), " "), (w, i) =>
      struct(
        xxhash64(concat(i.cast("string"), lit(":"), col("rep").cast("string")))
          .as("k"),
        i.as("pos"), w.as("w"))))
    // Open-vocabulary growth (Heaps' law): each replica mints fresh
    // word types by tagging ~30% of positions with a replica suffix.
    // The source corpus has a CLOSED ~50-word vocabulary, so without
    // this the 3-gram shingle space SATURATES at 10× — every shingle's
    // df grows with corpus size and exact similarity joins go
    // intrinsically quadratic (the measured 132× candidate blowup that
    // motivated this; see SCALE.md). Real crawls add vocabulary as they
    // grow; replicas must too. Tag positions are (position, rep)-keyed
    // like the permutation, so identical texts stay identical and
    // same-length near-dups keep ~58% of their shared occurrences.
    val permuted = array_join(
      transform(shuffled, (p, j) =>
        when(pmod(xxhash64(concat(j.cast("string"), lit(":"),
            col("rep").cast("string"), lit(":v"))), lit(10L)) < 3,
          concat(p.getField("w"), lit("~g"), col("rep").cast("string")))
          .otherwise(p.getField("w"))),
      " ")
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * (maxDoc + 1L)).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(permuted).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val embs = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val maxVec = embs.agg(max(col("vec_id"))).collect()(0).getLong(0)
    // content-seeded noise: identical vectors perturb identically
    val contentKey = xxhash64(col("embedding").cast("string"))
    val noisy = transform(col("embedding"), (x, i) =>
      (x + (pmod(xxhash64(concat(contentKey.cast("string"), lit(":"),
            col("rep").cast("string"), lit(":"), i.cast("string"))),
          lit(1000003L)).cast("double") / 1000003.0 - 0.5) * 0.9)
        .cast("float"))
    embs.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * (maxVec + 1L)).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(noisy).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }
}
