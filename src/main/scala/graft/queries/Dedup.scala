package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables._

/** Document deduplication (north star; SURVEY.md §2.2): exact
  * content-hash dedup, MinHash+LSH near-dup candidate generation,
  * SimHash fingerprints, and embedding-cosine near-dup pairs.
  *
  * Every variant is bucketed — content-key groupBy, band-bucket join, or
  * signature-bucket join. There is NO all-pairs comparison anywhere: at
  * 100 TB candidate generation must be an equi-join on a derived key,
  * with the quadratic work confined to within-bucket re-ranks.
  *
  * Hash portability: hashes are sha256 (or md5 where only dispersion
  * matters) of UTF-8 strings (hex) — the hash families Spark and the
  * DuckDB oracle compute identically. MinHash uses the MIN of sha256
  * over salted shingles — a permutation-free formulation whose min is
  * taken on the hex STRING (lexicographic), identical in both engines.
  */
object Dedup {

  /** Exact dedup on normalized content: groups by
    * sha256(lower(trim(text))) with a DETERMINISTIC survivor — the
    * minimum id — never dropDuplicates' arbitrary first-seen pick
    * (which is partition-order-dependent and non-reproducible across
    * cluster runs).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(lower(trim(col(textCol))), 256).as("content_key"))
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_copies"))

  /** Exact dedup with a PRIORITY rule: the survivor of each
    * normalized-content group is the copy with the smallest
    * `priority` value (curated-source ranking, recency, quality
    * score…), doc-id tie-break — "keep the best copy", where plain
    * [[exactDedup]] keeps an arbitrary-but-deterministic one. One
    * hash aggregate: min over (priority, id) STRUCTS gives the argmin
    * with map-side partial aggregation — no window, no second pass,
    * the same shuffle bill as exactDedup.
    */
  def priorityDedup(docs: DataFrame, idCol: String, textCol: String,
                    priority: Column): DataFrame =
    docs.select(sha2(lower(trim(col(textCol))), 256).as("content_key"),
        priority.cast("long").as("prio"), col(idCol))
      .groupBy(col("content_key"))
      .agg(min(struct(col("prio"), col(idCol))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("content_key"), col(s"best.$idCol").as("survivor_id"),
        col("best.prio").as("survivor_prio"), col("n_copies"))

  /** The deduplicated corpus itself: one surviving row (min id) per
    * normalized-content group — what a training-data pipeline actually
    * feeds downstream. Implemented as a semi-join against the survivor
    * set, so only ids shuffle.
    */
  def keepSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val survivors = exactDedup(docs, idCol, textCol)
      .select(col("survivor_id").as(idCol))
    docs.join(survivors, Seq(idCol), "left_semi")
  }

  val MinhashFuncs = 9
  val MinhashBands = 3 // 3 rows/band: band collision ~= jaccard^3 per band

  /** Per-bucket membership cap for LSH band joins (q41/q47/q49/q57/q74
    * candidate generation). The documented contract is exact-dedup
    * FIRST — after it, identical docs are gone and band buckets hold
    * only true collisions — but nothing used to enforce it: a
    * boilerplate-heavy corpus that skipped exact dedup would put every
    * identical doc in ONE band bucket, and the self-join's output would
    * grow quadratically in that bucket's size (the r4 VERDICT's
    * residual hazard). The guard keeps the first [[BandBucketCap]]
    * members per bucket in doc-id order (deterministic, mirrored in the
    * DuckDB oracles with the same ORDER BY, so engine parity holds even
    * when the cap binds) and drops the rest: candidate output is then
    * <= C(cap,2) pairs per bucket at ANY corpus size. Fixture buckets
    * are collision-sized (single digits), far below the cap — capped
    * results are bit-identical to uncapped there (DedupSpec proves both
    * the fixture identity and the planted-flood bound). Truncation is
    * observable: [[bucketOverflow]] reports exactly which buckets were
    * cut and by how much (DedupSpec's band-bucket flood case checks it).
    */
  val BandBucketCap = 64

  /** Rank bucket members by `ordCol` and keep the first
    * [[BandBucketCap]] — the window partitions by the same keys the
    * candidate self-join shuffles on, so the sort rides the join's
    * exchange rather than adding one.
    */
  private[queries] def capBuckets(bands: DataFrame, bucketKeys: Seq[String],
                                  ordCol: String): DataFrame =
    bands.withColumn("_graft_brk", row_number().over(
        Window.partitionBy(bucketKeys.map(col): _*).orderBy(col(ordCol))))
      .filter(col("_graft_brk") <= BandBucketCap)
      .drop("_graft_brk")

  /** Truncation audit: (bucket keys, bucket size, n dropped) for every
    * bucket the cap cut — the "logged truncation" surface (empty on a
    * contract-respecting corpus; DedupSpec's band-bucket flood case
    * pins the non-empty report).
    */
  def bucketOverflow(bands: DataFrame, bucketKeys: Seq[String]): DataFrame =
    bands.groupBy(bucketKeys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > BandBucketCap)
      .withColumn("n_dropped", col("bucket_n") - BandBucketCap)

  /** Distinct word-3-gram shingles per doc: (doc, shingle). Docs with
    * fewer than 3 words have no 3-shingle and are excluded.
    */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = TextOps.wordsOf(col(textCol))
    // tokenize+shingle is the kernel-heavy map side — spread the scan
    // (graft.Tables.spread: no-op on already-parallel inputs)
    graft.Tables.spread(docs, idCol)
      .select(col(idCol).as("doc"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc"), explode(array_distinct(
        transform(sequence(lit(0), size(col("ws")) - 3), i =>
          concat_ws(" ", element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3))))).as("shingle"))
  }

  /** MinHash+LSH near-duplicate candidate pairs.
    *
    * shingle(3-gram of words) → 9 permutation-free minhashes
    * (min of sha256("k:" || shingle)) → 3 bands of 3 → band-bucket
    * equi-join → (id_a < id_b) pairs with the number of agreeing bands.
    *
    * Docs with fewer than 3 words have no 3-shingle and are excluded
    * (documented contract; the caller pads or exact-dedups short docs).
    * The band join shuffles on (band_idx, band_hash) — bucket sizes are
    * collision counts, so the join output is candidates only, never N².
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // the per-row signature form: callers of THIS entry point need only
    // candidates, not the exploded shingle table, so there is nothing
    // to amortize the explode+aggregate against (the 100× probe
    // measured that shape 28% slower — see minhashTablePerRow's
    // scaladoc; signatures are bit-identical, DedupSpec pins it).
    // Callers that DO hold a shingle table for a verify stage
    // (ngramJaccard) keep the aggregate form over their persisted copy.
    minhashCandidatesFromMinhashes(minhashTablePerRow(docs, idCol, textCol))

  /** As [[minhashCandidates]], over a prepared (doc, shingle) table —
    * callers that also consume the shingles (the Jaccard verify stage)
    * pass their persisted copy instead of paying the corpus explode
    * twice.
    */
  /** Per-doc MinHash signature table (doc, mh0..mh8, n_sh): min of
    * salted sha256 over the doc's shingles per hash function — the
    * permutation-free formulation, identical in both engines. The
    * shingle count rides the SAME aggregate so consumers needing both
    * (q130's exact-Jaccard denominators) never pay a second pass over
    * the exploded shingle table.
    */
  def minhashTable(shingled: DataFrame): DataFrame = {
    // One native pass computes all 9 digests per shingle
    // (expressions.MinhashSigs — bit-equal to the per-k
    // min(sha2(concat_ws...)) form and the DuckDB CTE); the cheap
    // element_at projections keep min's map-side partial aggregation.
    val withH = shingled.select(col("doc"),
      graft.functions.minhash_sigs(array(col("shingle")), MinhashFuncs).as("h"))
    val mhExprs = (0 until MinhashFuncs).map(k =>
      min(element_at(col("h"), k + 1)).as(s"mh$k")) :+
      count(lit(1)).as("n_sh")
    withH.groupBy(col("doc")).agg(mhExprs.head, mhExprs.tail: _*)
  }

  /** Band table from a prepared minhash signature table. */
  def minhashBandsFromTable(minhashes: DataFrame,
                            passthrough: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = MinhashFuncs / MinhashBands
    val extra = passthrough.map(col)
    minhashes.select(col("doc") +: extra :+
      explode(array((0 until MinhashBands).map { b =>
        struct(lit(b).as("band_idx"),
          sha2(concat((0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*), 256)
            .as("band_hash"))
      }: _*)).as("band"): _*)
      .select(col("doc") +: extra :+ col("band.band_idx") :+
        col("band.band_hash"): _*)
  }

  /** Raw (uncapped) MinHash band table (doc, band_idx, band_hash) —
    * exposed for the [[bucketOverflow]] truncation audit.
    */
  def minhashBands(shingled: DataFrame): DataFrame =
    minhashBandsFromTable(minhashTable(shingled))

  /** [[minhashBands]]'s values computed as a pure PER-ROW projection:
    * `array_min` over the doc's shingle array replaces the groupBy
    * `min` (same lexicographic string ordering, so the signatures are
    * bit-identical — DedupSpec pins it). This is the form a STREAMING
    * plan needs: a doc's bands derive with no aggregation before the
    * stateful stage, so the only shuffle is the band-bucket keyBy.
    */
  def bandsPerRow(docs: DataFrame, idCol: String, textCol: String,
                  passthrough: Seq[String] = Nil): DataFrame = {
    val ws = TextOps.wordsOf(col(textCol))
    val extra = passthrough.map(col)
    val withSh = docs
      .select(col(idCol).as("doc") +: extra :+ ws.as("ws"): _*)
      .filter(size(col("ws")) >= 3)
      .select(col("doc") +: extra :+ array_distinct(
        transform(sequence(lit(0), size(col("ws")) - 3), i =>
          concat_ws(" ", element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3)))).as("sh"): _*)
    // One native pass over the doc's shingle array yields all 9 minima
    // (expressions.MinhashSigs) — replaces 9 materialized transform
    // arrays + 9 array_min scans; bit-equal, so the DedupSpec parity
    // pin vs minhashTable and the oracle CTE both hold unchanged. The
    // two-select stack keeps minhash_sigs evaluated once: CollapseProject
    // refuses to inline a non-cheap producer referenced 9 times.
    val withMhs = withSh.select(col("doc") +: extra :+
      graft.functions.minhash_sigs(col("sh"), MinhashFuncs).as("mhs"): _*)
    val withMh = withMhs.select(col("doc") +: extra ++:
      (0 until MinhashFuncs).map(k =>
        element_at(col("mhs"), k + 1).as(s"mh$k")): _*)
    minhashBandsFromTable(withMh, passthrough)
  }

  /** Band-level (doc, partner, band_idx) collisions of the
    * arrival-ordered ingestion gate — the shared core of [[neardupGate]]
    * and the parity target StreamingSpec pins the streaming arm
    * against. Arrival order is doc-id order (q78's convention); every
    * doc PROBES the index, membership is capped at [[BandBucketCap]]
    * per bucket in arrival order (exactly the streaming processor's
    * list-state cap), and a collision pairs the prober with an
    * earlier-arrived member.
    */
  def neardupGatePairs(bands: DataFrame): DataFrame = {
    val members = capBuckets(bands, Seq("band_idx", "band_hash"), "doc")
    bands.as("a").join(members.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("b.doc") < col("a.doc"))
      .select(col("a.doc").as("doc"), col("b.doc").as("partner"),
        col("a.band_idx").as("band_idx"))
  }

  /** q208 rollup: per arriving doc, the earlier near-dup partners an
    * arrival-ordered ingestion run would have flagged it against.
    */
  def neardupGate(bands: DataFrame): DataFrame =
    neardupGatePairs(bands)
      .groupBy(col("doc").as("doc_id"))
      .agg(countDistinct(col("partner")).as("n_partners"),
        min(col("partner")).as("first_partner"),
        count(lit(1)).as("n_shared_bands"))

  /** q218 retention horizon (event-time ms). The fixture synthesizes
    * `ts_ms = doc_id` (one doc per millisecond of arrival), so 200 ms
    * genuinely ages members out mid-corpus and the oracle exercises
    * the eviction rule, not just the join.
    */
  val GateHorizonMs = 200L

  /** Band-level collisions of the BOUNDED ingestion gate — the batch
    * twin of [[graft.streaming.BoundedNeardupGate]] (VERDICT r12 #3)
    * and the parity target its StreamingSpec arm pins against. Input
    * bands carry event time: (doc, ts_ms, band_idx, band_hash), with
    * arrival order = ts order (ties by doc). A doc collides with
    * earlier same-bucket docs that are BOTH inside the horizon
    * (partner.ts_ms > doc.ts_ms − horizon: event-time aging) AND among
    * the [[BandBucketCap]] most recent arrivals in the bucket
    * (recency/LRU cap — unlike [[neardupGatePairs]]' admit-refusal
    * cap, every doc is admitted and the OLDEST is evicted, which is
    * what lets state stay bounded under continuous ingest). The recall
    * trade is deliberate and documented on the streaming twin: a
    * duplicate arriving beyond the horizon of its partner emits
    * nothing.
    *
    * Parity convention (ADVICE r14 #4): this twin ranks recency by
    * (ts_ms, doc) — EVENT-time order. The streaming processor's member
    * list is ARRIVAL-ordered, so with a nonzero `watermarkDelay`,
    * cross-micro-batch out-of-order arrivals can make the stream evict
    * in arrival order where the twin ranks by event time, and the two
    * diverge on which capped member a late doc collides with. Parity
    * therefore holds under the convention stated on
    * [[graft.streaming.BoundedNeardupGate]]: arrival order == event-
    * time order (the zero-delay ingest contract both the spec and the
    * pinned bench arms run under); late-data deployments accept the
    * LRU-by-arrival semantics on the stream side.
    *
    * Scale shape: one self-join on band-collision buckets (the shuffle
    * LSH always pays) + a recency window over the JOIN OUTPUT keyed
    * (bucket, prober) — candidate-pair-sized, never corpus-sized.
    */
  def boundedGatePairs(bands: DataFrame,
                       horizonMs: Long = GateHorizonMs): DataFrame =
    // "b arrived earlier" is EVENT-TIME order with doc as tiebreak —
    // (b.ts_ms, b.doc) < (a.ts_ms, a.doc) lexicographically — and the
    // recency/LRU rank orders by the same key, so the twin stays
    // faithful when arrival ts order diverges from doc-id order
    // (ADVICE r13: the previous b.doc < a.doc form silently assumed
    // ts order == id order, which only the fixture guarantees).
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          (col("b.ts_ms") < col("a.ts_ms") ||
            (col("b.ts_ms") === col("a.ts_ms") && col("b.doc") < col("a.doc"))) &&
          col("b.ts_ms") > col("a.ts_ms") - horizonMs)
      .select(col("a.doc").as("doc"), col("b.doc").as("partner"),
        col("b.ts_ms").as("partner_ts"),
        col("a.band_idx").as("band_idx"), col("a.band_hash").as("band_hash"))
      .withColumn("_graft_rec", row_number().over(
        Window.partitionBy(col("band_idx"), col("band_hash"), col("doc"))
          .orderBy(col("partner_ts").desc, col("partner").desc)))
      .filter(col("_graft_rec") <= BandBucketCap)
      .select(col("doc"), col("partner"), col("band_idx"))

  /** q218 rollup — the q208 shape over [[boundedGatePairs]]. */
  def boundedGate(bands: DataFrame,
                  horizonMs: Long = GateHorizonMs): DataFrame =
    boundedGatePairs(bands, horizonMs)
      .groupBy(col("doc").as("doc_id"))
      .agg(countDistinct(col("partner")).as("n_partners"),
        min(col("partner")).as("first_partner"),
        count(lit(1)).as("n_shared_bands"))

  def minhashCandidatesFromShingles(shingled: DataFrame): DataFrame =
    minhashCandidatesFromMinhashes(minhashTable(shingled))

  /** As [[minhashCandidatesFromShingles]], over a prepared (and ideally
    * persisted) minhash signature table — callers that also consume the
    * signatures (the q130 estimate stage) pass their copy instead of
    * paying the sha256x9 aggregate twice.
    */
  def minhashCandidatesFromMinhashes(minhashes: DataFrame): DataFrame = {
    // The self-join below consumes `bands` TWICE — without a persist the
    // whole shingle->sha256x9->minhash lineage runs once per side.
    val bands = capBuckets(minhashBandsFromTable(minhashes),
        Seq("band_idx", "band_hash"), "doc")
      .transform(SessionCache.persist)
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  // ---- Shared full-corpus builds -----------------------------------
  //
  // A dozen catalog queries derive from the SAME three intermediates
  // over the unfiltered documents table: (doc, shingle), the minhash
  // signature table, and the LSH candidate pairs. A pipeline run that
  // evaluates several dedup operators (dedup + clusters + split +
  // eval is the normal shape, not the exception) would rebuild the
  // identical explode+sha256x9 lineage from the parquet scan once per
  // operator — at 100 TB that is the difference between one corpus
  // scan and twelve. These accessors memoize the build per (session,
  // dir) via [[SessionCache.shared]]: first caller pays, everyone
  // else reads the persisted table; Bench clears between passes so
  // every timed pass still pays each build exactly once. Operators
  // over SUBSETS of the corpus (q78's append batch, fixtures in
  // specs) keep calling the by-DataFrame forms — the memo is only for
  // the canonical full-corpus input.

  /** Memoized [[shingleTable]] of the full documents table at `dir`. */
  def corpusShingles(s: SparkSession, dir: String): DataFrame =
    SessionCache.shared(s, s"dedup:shingles:$dir")(
      shingleTable(documents(s, dir), "doc_id", "text"))

  /** POSITIONAL word-3-gram shingles per doc: (doc, pos, shingle),
    * every occurrence with its word offset (no array_distinct — the
    * substring-dedup family needs positions and duplicate occurrences;
    * [[shingleTable]] is the distinct-set form the Jaccard family
    * needs). Docs with fewer than 3 words have no 3-shingle and are
    * excluded.
    */
  def posShingleTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = TextOps.wordsOf(col(textCol))
    graft.Tables.spread(docs, idCol) // kernel-heavy map side: spread the scan
      .select(col(idCol).as("doc"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc"), posexplode(transform(
        sequence(lit(0), size(col("ws")) - 3), i =>
          concat_ws(" ", element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3)))).as(Seq("pos", "shingle")))
  }

  /** Memoized [[posShingleTable]] of the full documents table at `dir`
    * (VERDICT r14 #7): q163, q203, and q206 each rebuilt+persisted an
    * IDENTICAL positional-shingle lineage per evaluation — three corpus
    * tokenize+explode passes for one table. One shared build, three
    * riders.
    */
  def corpusPosShingles(s: SparkSession, dir: String): DataFrame =
    SessionCache.shared(s, s"dedup:posshingles:$dir")(
      posShingleTable(documents(s, dir), "doc_id", "text"))

  /** [[minhashTable]]'s signature computed PER DOCUMENT ROW: the doc's
    * distinct-shingle array feeds ONE [[graft.functions.minhash_sigs]]
    * call (all 9 minima in one pass), n_sh = size of that array. Same
    * (doc, mh0..mh8, n_sh) schema, bit-identical values (DedupSpec
    * pins it) — array_min over the per-doc array equals the groupBy
    * min because both fold the same lexicographic string order.
    *
    * Why a second form: the aggregate shape streams the EXPLODED
    * corpus (shingle-count rows, 1e8 at the 100× probe) through a
    * projection that materializes a 9-string array per SHINGLE and a
    * 500k-key aggregate; this shape touches doc-count rows, allocates
    * one array per DOC, and needs no shuffle at all — the 100× minhash
    * build dropped from the aggregate form's measured 136 s (vs 106 s
    * for r11's min(sha2) aggregate — the per-shingle array was a
    * regression at scale despite winning at sf0.1) to the per-row
    * plan. It re-derives shingle arrays from text instead of riding
    * the shared exploded table — tokenize CPU traded against scanning
    * and aggregating 200× more rows, the same trade bandsPerRow makes
    * for streaming.
    */
  def minhashTablePerRow(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = TextOps.wordsOf(col(textCol))
    graft.Tables.spread(docs, idCol) // kernel-heavy map side: spread the scan
      .select(col(idCol).as("doc"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc"), array_distinct(
        transform(sequence(lit(0), size(col("ws")) - 3), i =>
          concat_ws(" ", element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3)))).as("sh"))
      .select(col("doc"),
        graft.functions.minhash_sigs(col("sh"), MinhashFuncs).as("h"),
        size(col("sh")).cast("long").as("n_sh"))
      .select(col("doc") +: (0 until MinhashFuncs).map(k =>
        element_at(col("h"), k + 1).as(s"mh$k")) :+ col("n_sh"): _*)
  }

  /** Memoized minhash signature table over the corpus —
    * [[minhashTablePerRow]], the zero-shuffle per-doc form. */
  def corpusMinhash(s: SparkSession, dir: String): DataFrame =
    SessionCache.shared(s, s"dedup:minhash:$dir")(
      minhashTablePerRow(documents(s, dir), "doc_id", "text"))

  /** Memoized LSH candidate pairs (doc_a, doc_b, n_shared_bands) over
    * [[corpusMinhash]].
    */
  def corpusCandidates(s: SparkSession, dir: String): DataFrame =
    SessionCache.shared(s, s"dedup:cands:$dir")(
      minhashCandidatesFromMinhashes(corpusMinhash(s, dir)))

  /** Memoized q151 output — the certified exact J ≥ t pair table over
    * [[corpusShingles]]. The q188 eval's ground-truth arm re-derived
    * the whole AllPairs join per query; at 30× that re-derivation
    * (running with every other dedup build already cache-resident) was
    * the last spill in SCALE.md.
    */
  def corpusPrefixJoin(s: SparkSession, dir: String): DataFrame =
    SessionCache.shared(s, s"dedup:prefixjoin:$dir")(
      prefixFilterJoinFromShingles(corpusShingles(s, dir), PrefixJoinT))

  /** Exact n-gram Jaccard VERIFY stage over the MinHash candidates: the
    * classic two-stage near-dup pipeline. Stage 1 (bucketed LSH) emits
    * candidate pairs; stage 2 computes the exact shingle-set Jaccard
    * for THOSE PAIRS ONLY — the quadratic set intersection never runs
    * on non-candidates, so the total cost is candidates x shingles, not
    * N^2.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // `sh` feeds three plan branches (counts + both intersection sides)
    // and `cands` two — persist both or each branch replays its lineage.
    val sh = shingleTable(docs, idCol, textCol)
      .transform(SessionCache.persist)
    val cands = minhashCandidatesFromShingles(sh)
      .select(col("doc_a"), col("doc_b"))
      .transform(SessionCache.persist)
    ngramJaccardFromParts(sh, cands)
  }

  /** As [[ngramJaccard]], over a prepared (persisted) shingle table and
    * candidate pair set — the shared-build form the catalog entries use.
    */
  def ngramJaccardFromParts(sh: DataFrame, cands: DataFrame): DataFrame = {
    val counts = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val inter = cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    cands
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(counts.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(counts.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
  }

  /** df band for containment-candidate blocking: a shingle shared by
    * more than [[RareShingleMaxDf]] docs is boilerplate (its bucket
    * self-join would approach N^2); one shared by exactly 1 doc pairs
    * nothing. High-containment pairs share MANY shingles, so requiring
    * ONE shared mid-band shingle costs essentially no recall — the
    * only misses are docs built entirely from >maxDf boilerplate,
    * which q77 flags separately.
    */
  val RareShingleMaxDf = 20L
  val ContainmentThreshold = 0.8

  /** Asymmetric containment dedup (Broder's containment coefficient):
    * |A ∩ B| / min(|A|, |B|) over shingle sets — catches the
    * short-doc-quoted-inside-long-doc duplicates that symmetric
    * Jaccard structurally misses (a 50-shingle doc fully contained in
    * a 5000-shingle doc has Jaccard ~= 0.01 but containment 1.0, and
    * MinHash bands keyed on the full signature would rarely collide).
    *
    * Candidates = pairs sharing at least one mid-band-df shingle
    * (df in [2, maxDf]): the per-shingle self-join fan-out is bounded
    * by maxDf^2, the shuffle keys on the shingle, and the exact
    * intersection then runs on candidates only — the same
    * block-then-verify shape as q49/q151, with a frequency block
    * instead of an LSH or prefix block.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       maxDf: Long = RareShingleMaxDf,
                       threshold: Double = ContainmentThreshold): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol)
      .transform(SessionCache.persist)
    containmentPairsFromShingles(sh, maxDf, threshold)
  }

  /** As [[containmentPairs]], over a prepared (persisted) shingle
    * table — the shared-build form the q179 catalog entry uses
    * (VERDICT r14 #7: the by-docs form rebuilt+persisted a duplicate
    * of `shared:dedup_shingles` per evaluation).
    */
  def containmentPairsFromShingles(sh: DataFrame,
                                   maxDf: Long = RareShingleMaxDf,
                                   threshold: Double = ContainmentThreshold): DataFrame = {
    // Per-shingle df partitions the shingle space three ways: df = 1
    // can never be shared, df in [2, maxDf] is the candidate-blocking
    // mid-band, df > maxDf is "common" (boilerplate). The annotation
    // is a WINDOW count over the shingle partition, not an aggregate
    // joined back (VERDICT r15 #4): the r15 agg+join form shuffled the
    // shingle table by shingle TWICE (once into the df aggregate, once
    // into the annotate join's probe side); count(*) over
    // (partition by shingle) needs ONE shingle-keyed exchange and
    // leaves the persisted table partitioned AND sorted by shingle, so
    // the mid-band self-join below rides the cached layout with no
    // further exchange. Same sdf values (a group's window count IS its
    // group count); a corpus-hot shingle's window group buffers in the
    // spillable window sorter — the same rows the old join shuffled to
    // one partition anyway.
    val shAnnot = sh.withColumn("sdf",
        count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .transform(SessionCache.persist)
    val counts = shAnnot.groupBy(col("doc")).agg(
      count(lit(1)).as("n_sh"),
      sum(when(col("sdf") > maxDf, 1L).otherwise(0L)).as("n_common"))
    val rare = shAnnot.filter(col("sdf").between(2L, maxDf))
      .select(col("shingle"), col("doc"))
    // Shared-mid-band count per pair straight off the blocking join —
    // a map-side-combinable aggregate, NOT a materialized pair list.
    val sharedMid = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_mid"))
    // PPJoin-style upper-bound prune BEFORE the expensive exact
    // intersection: a df-1 shingle is never shared, so
    //   n_inter <= n_mid + min(n_common_a, n_common_b).
    // Any pair whose bound sits below t*min(n_a, n_b) cannot reach the
    // threshold and is dropped without ever touching the shingle sets
    // again. On the dense fixture this collapses ~1.1M blocking pairs
    // to the handful that can qualify, and the exact intersection
    // (candidates x shingles — the quadratic-feeling stage) runs on
    // survivors only. Blocking volume itself is LINEAR by design:
    // sum over mid-band shingles of C(df, 2) <= (maxDf/2) x |shingle
    // rows|.
    val survivors = sharedMid
      .join(counts.select(col("doc").as("doc_a"), col("n_sh").as("n_a"),
        col("n_common").as("common_a")), Seq("doc_a"))
      .join(counts.select(col("doc").as("doc_b"), col("n_sh").as("n_b"),
        col("n_common").as("common_b")), Seq("doc_b"))
      .filter((col("n_mid") + least(col("common_a"), col("common_b")))
        >= lit(threshold) * least(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .transform(SessionCache.persist)
    val inter = survivors
      .join(sh.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    survivors
      .join(inter, Seq("doc_a", "doc_b"))
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_inter"), round(col("containment"), 6).as("containment"))
  }

  val WinnowK = 8 // char-gram width
  val WinnowW = 4 // winnowing window (consecutive grams per min)

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash
    * every char `k`-gram of the lower-cased text, slide a window of `w`
    * consecutive gram hashes, keep each window's minimum — the classic
    * position-robust fingerprint set for plagiarism/near-dup detection
    * (an insertion shifts positions but most window minima survive).
    *
    * Returns one row per doc: gram count, distinct-fingerprint count,
    * and an md5 over the sorted fingerprint set (the comparable digest).
    * Scale shape: every step is per-document, so the whole op is ONE
    * narrow projection over the corpus scan — the native
    * [[graft.expressions.WinnowFps]] expression computes gram hashes,
    * sliding minima, and the distinct set in a single per-row loop,
    * with NO gram explode (len(text)× row blowup), no per-doc window
    * shuffle+sort, no hash aggregation, and no interpreted-lambda
    * overhead (the HOF formulation spent q61's whole budget boxing
    * through ~2 lambdas per corpus character). The one exchange is a
    * ~300-byte-per-row text repartition that spreads the hashing
    * across cores when the source is a single file. Docs with fewer
    * than k + w - 1 chars have no full window and drop out
    * (documented). The per-gram digest is md5 — the cheapest hash both
    * engines compute identically (the fingerprint needs dispersion,
    * not crypto strength); a production build swaps in a rolling hash
    * and keeps the identical plan (same trade as the q49 minhashes).
    * ASCII-corpus contract for the oracle (like TokenCount): Spark's
    * length/substr count UTF-16 units, DuckDB's count codepoints.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = WinnowK, w: Int = WinnowW): DataFrame = {
    docs
      .select(col(idCol).as("doc"), lower(col(textCol)).as("t"))
      .filter(length(col("t")) >= k + w - 1) // n_grams = len-k+1 >= w
      // ~300-byte rows: a trivial shuffle that spreads the hashing
      // across all cores even when the source is one parquet file.
      .repartition(col("doc"))
      .select(col("doc"),
        (length(col("t")) - k + 1).cast("long").as("n_grams"),
        graft.functions.winnow_fps(col("t"), k, w).as("fps"))
      .select(col("doc"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        md5(concat_ws("", col("fps"))).as("fp_md5"))
  }

  val SimhashBits = 16

  /** SimHash fingerprint per document: bit j is the sign of the
    * count-weighted sum of word-hash bits, where word bit j = high bit
    * of the j-th hex nibble of sha256(word). One groupBy — fully
    * map-reducible; near-dup docs differ in O(1) bits (compare by
    * hamming distance downstream).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val counts = graft.Tables.spread(docs, idCol) // kernel-heavy map side
      .select(col(idCol).as("doc"), explode(TextOps.wordsOf(col(textCol))).as("word"))
      .groupBy(col("doc"), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("wh", sha2(col("word"), 256))
    counts.groupBy(col("doc"))
      .agg(concat((0 until SimhashBits).map { j =>
        when(sum(when(substring(col("wh"), j + 1, 1).isin(hexHigh: _*), col("cnt"))
          .otherwise(-col("cnt"))) > 0, lit("1")).otherwise(lit("0"))
      }: _*).as("simhash"))
  }

  val EmbBands = 3
  val EmbBitsPerBand = 8

  /** The (vec_id, band_idx, band_sig) sub-signature table behind
    * [[embeddingNearDups]] — exposed so [[bucketOverflow]] can audit
    * its (band_idx, band_sig) buckets for cap truncation.
    */
  def embeddingBands(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        explode(array((0 until EmbBands).map { b =>
          struct(lit(b).as("band_idx"),
            Similarity.hyperplaneSig(col("embedding"), EmbBitsPerBand,
              b * EmbBitsPerBand).as("band_sig"))
        }: _*)).as("band"))
      .select(col("vec_id"), col("band.band_idx"), col("band.band_sig"))

  /** Embedding-cosine near-dup pairs, MinHash-style OR-banding over
    * hyperplane sub-signatures (never all-pairs): 3 independent 8-bit
    * Rademacher-hyperplane bands (disjoint plane ranges from the shared
    * [[Similarity.PlanePool]]), candidates = pairs agreeing on ANY band
    * exactly or at hamming distance 1 (one side probed), exact cosine
    * computed on the DISTINCT candidate pairs only.
    *
    * Scale shape (the round-3 fix): bucket count per band is 2^bits and
    * bits scales as log2(N) — same-bucket pair counts stay bounded
    * instead of growing N²/constant. The probe explode multiplies
    * candidate KEYS by (1+bits), not pairs; the pair set is deduped
    * before any cosine work, and the quadratic re-rank is confined to
    * within-bucket collisions.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
      .transform(SessionCache.persist)
    // (vec_id, band_idx, band_sig): consumed by BOTH sides of the
    // candidate join (probed + exact) — persist or the sig lineage
    // (EmbBands x EmbBitsPerBand VecDot folds per row) runs twice.
    // Bucket-capped BEFORE either side derives ([[BandBucketCap]]): a
    // corpus that floods one signature bucket (identical vectors, no
    // exact dedup upstream) yields <= C(cap,2) pairs per bucket, never
    // a quadratic blowup.
    val bands = capBuckets(embeddingBands(base),
        Seq("band_idx", "band_sig"), "vec_id")
      .transform(SessionCache.persist)
    // One probed side suffices in a self-join: a pair whose band sigs
    // differ by one bit matches via the smaller-id side's flip.
    val probes = bands.select(col("vec_id"), col("band_idx"),
      explode(array(Similarity.probeSigs(col("band_sig"), EmbBitsPerBand): _*))
        .as("band_sig"))
    val pairs = probes.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    pairs
      .join(base.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a")), Seq("vec_a"))
      .join(base.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosinePre(col("emb_a"), col("emb_b"),
          col("nrm_a"), col("nrm_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  private val NearDupThreshold = 0.35

  /** Iteration cap for [[neardupClusters]]: label propagation converges
    * in <= graph-diameter rounds, and near-dup components are shallow
    * (duplicate clusters, not long chains) — 64 is far above any real
    * diameter. Non-convergence inside the cap throws rather than
    * returning a silently-partial clustering.
    */
  val MaxClusterIters = 64

  /** Connected components over near-dup candidate pairs: every doc gets
    * `cluster_id` = the SMALLEST doc id in its component (deterministic
    * survivor rule, same as [[exactDedup]]), `is_survivor` = 1 for the
    * one kept row per component. Docs in no pair are their own
    * singleton cluster.
    *
    * Pregel-style smallest-label propagation: each round a doc's label
    * becomes min(own, neighbors'); fixpoint in O(diameter) rounds. The
    * driver loop holds only a per-round changed-any-row BOOLEAN (an
    * exact fixpoint probe that works for ids of any type) — every
    * join/agg is distributed, nothing row-shaped ever reaches the
    * driver, and each round's result is persisted so the next round's
    * lineage stays one hop deep. This completes detect -> resolve ->
    * emit for near-dup dedup (the reference's product is the KEPT
    * subset of the corpus: /root/reference/internal/cli/mapreduce.go:91).
    */
  def neardupClusters(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    // Row counts are cheap here: docs is a parquet relation (metadata
    // count) and pairs is the persisted shared candidates table. They
    // size every per-round shuffle below via the pinned conf (restored
    // by the wrapper — the withStatePartitions discipline, ADVICE r14
    // #3); the loop plans each round inside the wrapper, so every
    // round inherits the sized partitioning (VERDICT r15 #3; rule
    // documented at [[graft.Tables.RowsPerLoopPartition]]).
    val loopParts = graft.Tables.sizedLoopPartitions(
      math.max(docs.count(), 2L * pairs.count()))
    graft.streaming.StatefulNeardupGate.withStatePartitions(
        spark, Some(loopParts)) {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .coalesce(loopParts) // cached-layout twin of the conf: the union
      // inherits the candidates table's core-count partitioning, and
      // every round's join re-reads it as that many map tasks
      .transform(SessionCache.persist)
    var labels = docs.select(col(idCol).as("doc"), col(idCol).as("label"))
      .transform(SessionCache.persist)
    // Exact, id-type-agnostic fixpoint test: did ANY label change this
    // round? (A numeric checksum would silently mis-converge for string
    // ids, where sum() is null.) The limit(1) stops the probe join at
    // the first changed row; the count is also the action that
    // materializes `next`'s persist for the following round.
    def anyChanged(next: DataFrame, prev: DataFrame): Boolean =
      next.as("n").join(prev.as("p"), col("n.doc") === col("p.doc"))
        .filter(col("n.label") =!= col("p.label"))
        .limit(1).count() > 0
    var converged = labels.isEmpty // empty corpus: nothing to propagate
    var iters = 0
    while (!converged && iters < MaxClusterIters) {
      val msgs = edges.join(labels, col("src") === col("doc"))
        .select(col("dst").as("doc"), col("label"))
      val next = labels.union(msgs).groupBy(col("doc"))
        .agg(min(col("label")).as("label"))
        .transform(SessionCache.persist)
      converged = !anyChanged(next, labels)
      labels.unpersist()
      labels = next
      iters += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $MaxClusterIters rounds")
    labels.select(col("doc").as(idCol), col("label").as("cluster_id"),
      (col("doc") === col("label")).cast("long").as("is_survivor"))
    }
  }

  /** The near-dup-deduplicated corpus: one surviving row (smallest id)
    * per connected component of the MinHash candidate graph — the
    * near-dup counterpart of [[keepSurvivors]]. Only ids shuffle in the
    * semi-join.
    */
  def keepNearDupSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val labels = neardupClusters(docs,
      minhashCandidates(docs, idCol, textCol), idCol)
    docs.join(labels.filter(col("is_survivor") === 1).select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Order-insensitive content key: sha256 over the SORTED distinct
    * word set, so word-order permutations and repetition changes hash
    * identically — the "bag-of-words duplicate" a crawler refetch with
    * reordered boilerplate produces. Sorting is byte-lexicographic in
    * both engines (lowercased words), so the key is engine-portable.
    */
  def bagOfWordsKey(textCol: Column): Column =
    sha2(concat_ws(" ",
      array_sort(array_distinct(TextOps.wordsOf(textCol)))), 256)

  /** Incremental corpus append: of a new batch, keep one survivor
    * (min id) per bag-of-words key that is NOT already represented in
    * the existing corpus — the daily-increment form of dedup, where
    * yesterday's corpus is never rewritten. Only (id, key) projections
    * ever shuffle: the batch side collapses to per-key survivors
    * first, and the existing side joins as bare keys in a left_anti
    * (duplicate existing keys are fine — anti-join semantics
    * deduplicate implicitly, no distinct pass needed).
    */
  def appendDedup(existing: DataFrame, batch: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val oldKeys = existing.select(bagOfWordsKey(col(textCol)).as("content_key"))
    batch.select(col(idCol), bagOfWordsKey(col(textCol)).as("content_key"))
      .groupBy(col("content_key")).agg(min(col(idCol)).as(idCol))
      .join(oldKeys, Seq("content_key"), "left_anti")
      .select(col(idCol), col("content_key"))
  }

  /** Benchmark decontamination: which training docs share word-3-gram
    * shingles with the held-out eval slice? The eval side is tiny by
    * definition (a benchmark, not a corpus), so both the eval shingles
    * and the per-eval-doc shingle totals are BROADCAST — the corpus
    * side streams through one equi-join on the shingle, never an
    * all-pairs comparison. `contamination` is the fraction of the eval
    * doc's shingles found in the training doc; pairs sharing a single
    * shingle are noise and dropped.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isEvalDoc: Column => Column, minShared: Long): DataFrame = {
    // three consumers (train side, eval side, eval totals) — persist so
    // the tokenize+explode lineage runs once, per the bands convention
    val sh = shingleTable(docs, idCol, textCol)
      .transform(SessionCache.persist)
    decontaminateFromShingles(sh, isEvalDoc, minShared)
  }

  /** As [[decontaminate]], over a prepared (persisted) shingle table. */
  def decontaminateFromShingles(sh: DataFrame, isEvalDoc: Column => Column,
                                minShared: Long): DataFrame = {
    val ev = sh.filter(isEvalDoc(col("doc")))
      .select(col("doc").as("eval_doc"), col("shingle"))
    val tr = sh.filter(!isEvalDoc(col("doc")))
      .select(col("doc").as("train_doc"), col("shingle"))
    val evSizes = ev.groupBy(col("eval_doc"))
      .agg(count(lit(1)).as("n_eval_shingles"))
    tr.join(broadcast(ev), Seq("shingle"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(broadcast(evSizes), Seq("eval_doc"))
      .select(col("train_doc"), col("eval_doc"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_eval_shingles"), 6)
          .as("contamination"))
  }

  /** Boilerplate detection: shingles occurring in at least `minDocs`
    * distinct documents (shingleTable is per-doc-distinct, so count(*)
    * IS the doc frequency). EXACT result via heavy-hitter candidate
    * pruning: a per-partition hash-map count (the one genuinely
    * imperative per-partition step in the engine) emits only shingles
    * whose LOCAL count reaches ceil(minDocs/numPartitions) — any
    * shingle with global count >= minDocs must clear that bar in some
    * partition, so the candidate set is a superset of the answer and
    * the final filter makes the result independent of partitioning.
    * Pruning only pays when the local bar exceeds 1 (threshold >
    * partition count — the boilerplate regime, where the threshold is
    * a corpus fraction); when the bar degrades to 1 every shingle
    * would be a "candidate", so the operator skips the pruning pass
    * entirely and runs the direct count — same answer either way, and
    * no risk of broadcasting the whole shingle universe.
    */
  def boilerplateShingles(docs: DataFrame, idCol: String, textCol: String,
                          minDocs: Long): DataFrame =
    boilerplateFromShingles(shingleTable(docs, idCol, textCol), minDocs)

  /** As [[boilerplateShingles]], over a prepared shingle table (persist
    * it if the pruning branch may run — both its consumers replay the
    * lineage otherwise; the memoized corpus build already is).
    */
  def boilerplateFromShingles(sh: DataFrame, minDocs: Long): DataFrame = {
    val sp = sh.sparkSession
    import sp.implicits._
    def directCount(t: DataFrame): DataFrame =
      t.groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= minDocs)
    val parts = math.max(sh.rdd.getNumPartitions, 1)
    val localBar = (minDocs + parts - 1) / parts
    if (localBar <= 1L) directCount(sh)
    else {
      val cands = sh.select(col("shingle")).as[String].mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach(s => m.update(s, m.getOrElse(s, 0L) + 1L))
        m.iterator.collect { case (k, n) if n >= localBar => k }
      }.toDF("shingle")
      // no broadcast hint: the candidate set is usually tiny (AQE will
      // broadcast it), but a skew-heavy corpus could make it large and
      // a forced driver collect would be the failure mode
      directCount(sh.join(cands, Seq("shingle"), "left_semi"))
    }
  }

  /** Frequency-capped dedup: keep at most `k` copies per normalized
    * content key — the middle ground between "dedup everything" and
    * "keep everything" that pretraining mixtures actually use
    * (over-represented boilerplate is DOWN-weighted, not erased).
    * Deterministic survivors (lowest ids win); one shuffle on the
    * content key.
    */
  def capDuplicates(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val w = Window.partitionBy(col("content_key")).orderBy(col(idCol))
    docs.select(col(idCol),
        sha2(lower(trim(col(textCol))), 256).as("content_key"))
      .withColumn("copy_rank", row_number().over(w))
      .filter(col("copy_rank") <= k)
  }

  /** q151 similarity threshold. 0.6 = 3/5 exactly rational, so the
    * float prefix-length ceil can never straddle an integer boundary
    * differently across engines (t·n is either an integer or ≥ 0.2
    * away from one).
    */
  val PrefixJoinT = 0.6

  /** EXACT similarity join via prefix filtering (the AllPairs/PPJoin
    * family, public algorithm — Bayardo et al., WWW 2007): finds EVERY
    * pair with shingle-Jaccard ≥ t, guaranteed — the
    * completeness-guaranteed complement to the probabilistic LSH
    * candidates of q41/q49. Decontamination and compliance scrubs want
    * "no qualifying pair missed", which no band/row configuration can
    * promise; this operator trades the sketch for a provable prune.
    *
    * Under one GLOBAL token order (document-frequency ascending,
    * shingle tie-break), each doc indexes only its PREFIX — the first
    * n − ceil(t·n) + 1 of its n shingles in that order. If J(A,B) ≥ t
    * then |A∩B| ≥ t·max(|A|,|B|), so the globally-smallest shared
    * shingle sits inside BOTH prefixes — the prefix self-join misses
    * nothing (DedupSpec proves equality with the brute-force join on a
    * planted corpus). Scale shape: the df-ascending order is the skew
    * defense — the hottest shingles sort LAST and fall out of every
    * prefix, so the self-join keys are exactly the RARE shingles; the
    * quadratic verify runs only on surviving candidates (the q49
    * discipline). Output is every candidate that SURVIVES the length +
    * positional filters (the round-8 PPJoin rewrite prunes
    * provably-sub-threshold pairs before the verify, so prefix-sharing
    * pairs that cannot reach t no longer appear as passes=0 rows — the
    * passes=1 set is unchanged, and filter exactness is fuzzed against
    * brute force in DedupSpec), with its exact Jaccard and the ≥ t
    * verdict (q130's estimate-vs-exact presentation).
    */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
                       t: Double): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol)
      .transform(SessionCache.persist)
    prefixFilterJoinFromShingles(sh, t)
  }

  /** As [[prefixFilterJoin]], over a prepared (and persisted) (doc,
    * shingle) table — callers that run several dedup arms over the
    * same corpus (q188's eval) share ONE shingle build.
    *
    * Candidate pruning is the full AllPairs/PPJoin bundle (Bayardo
    * 2007; Xiao et al. 2008), each filter exactness-preserving:
    *  - LENGTH: J ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|).
    *  - POSITIONAL: per-doc ranks follow ONE global (df, shingle)
    *    order, so the globally-first shared prefix shingle s* has the
    *    minimal rank in BOTH docs and every shared shingle ranks at or
    *    after it — overlap ≤ 1 + min(|A|−r_A(s*), |B|−r_B(s*)), which
    *    must reach ⌈t/(1+t)·(|A|+|B|)⌉.
    * Both run inside the pair AGGREGATION (one groupBy over the prefix
    * self-join, no distinct-then-rejoin), and the verify fetches each
    * doc's shingle SET as one array (two doc-keyed joins, one row per
    * candidate) instead of re-exploding candidate × shingle rows — the
    * row-explosion the 10× scale probe caught (SCALE.md): the old
    * verify materialized |cands| × |shingles(A)| rows, ~1B at 10×
    * sf0.1, and spilled unboundedly. The probe corpus (tiny closed
    * vocabulary) is the documented worst case for exact similarity
    * joins — feature saturation makes candidate counts intrinsically
    * superlinear — but the filter bundle + array verify keep the
    * constant factors flat and the spill bounded.
    */
  def prefixFilterJoinFromShingles(sh: DataFrame, t: Double): DataFrame = {
    val posC = t / (1 + t) // 0.375 for t = 0.6 — exact in binary
    val counts = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // rank within doc by the global (df, shingle) order; the window
    // partitions by doc — input bounded by doc length, never corpus
    val ranked = sh.join(dfreq, Seq("shingle"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc"))
          .orderBy(col("df"), col("shingle"))).cast("long"))
      .join(counts, Seq("doc"))
      .filter(col("r") <=
        col("n_sh") - ceil(lit(t) * col("n_sh")) + lit(1L))
      .select(col("doc"), col("shingle"), col("r"), col("n_sh"))
      .transform(SessionCache.persist)
    val pa = ranked.select(col("doc").as("doc_a"), col("shingle"),
      col("r").as("ra"), col("n_sh").as("na"))
    val pb = ranked.select(col("doc").as("doc_b"), col("shingle"),
      col("r").as("rb"), col("n_sh").as("nb"))
    val cands = pa.join(pb, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("ra")).as("ra"), min(col("rb")).as("rb"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .filter(least(col("na"), col("nb")) >=
        lit(t) * greatest(col("na"), col("nb")))
      .filter((lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb")))
        >= ceil(lit(posC) * (col("na") + col("nb"))))
    val arrs = sh.groupBy(col("doc")).agg(collect_list(col("shingle")).as("arr"))
    val jac = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter"))
    cands
      .join(arrs.select(col("doc").as("doc_a"), col("arr").as("arr_a")),
        Seq("doc_a"))
      .join(arrs.select(col("doc").as("doc_b"), col("arr").as("arr_b")),
        Seq("doc_b"))
      .withColumn("n_inter",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        round(jac, 6).as("jaccard"),
        (jac >= lit(t)).cast("long").as("passes"))
  }

  /** q210 theoretical S-curve points: detection probability
    * 1 − (1 − s^r)^b of an (r rows × b bands) MinHash index at the
    * midpoint similarity of each jaccard-decile stratum (the standard
    * banding analysis — Leskovec/Rajaraman/Ullman, MMDS ch. 3;
    * r = [[MinhashFuncs]]/[[MinhashBands]], b = [[MinhashBands]]).
    * Computed ONCE here in driver-side Scala and embedded as the SAME
    * integer-ppm literal in both the Spark plan and the DuckDB oracle,
    * so the cross-engine hash never touches a pow() library call.
    * Strata cover the certified range [PrefixJoinT, 1]: buckets 6–9
    * are deciles (midpoints 0.65…0.95), bucket 10 is exact duplicates
    * (s = 1, detection 1).
    */
  val ScurveTheoPpm: Seq[(Long, Long)] = {
    val r = MinhashFuncs / MinhashBands
    (6L to 10L).map { b =>
      val sMid = if (b == 10L) 1.0 else (b + 0.5) / 10.0
      val p = 1.0 -
        math.pow(1.0 - math.pow(sMid, r.toDouble), MinhashBands.toDouble)
      b -> math.floor(p * 1e6).toLong
    }
  }

  /** S-curve calibration of the MinHash band index (q210): per
    * similarity stratum, how many certified J ≥ t pairs (the q151
    * AllPairs truth) the banded index actually detects, next to the
    * closed-form [[ScurveTheoPpm]] reference at the stratum midpoint.
    * q188 reports ONE aggregate recall; this shows WHERE the misses
    * live — the bottom stratum, at the knee of the S-curve — so the
    * re-banding decision ("more bands? lower threshold? both?") reads
    * off a table instead of folklore. All-integer output (pair counts
    * + literal ppm), so the oracle hash is exact; the decile bucket is
    * floor(jaccard × 10) on the SAME rounded double both engines
    * already hash-match in q151, clamped to [6, 10] so a boundary
    * value landing on either side of a decile edge lands there in
    * BOTH engines. Fixture-testable core: `truth` = certified pairs
    * with a rounded `jaccard` column, `cands` = banded candidates.
    */
  def lshScurve(truth: DataFrame, cands: DataFrame): DataFrame = {
    val det = cands.select(col("doc_a"), col("doc_b"), lit(1L).as("det"))
    val theoCol = ScurveTheoPpm.tail.foldLeft(
      when(col("bucket") === lit(ScurveTheoPpm.head._1),
        lit(ScurveTheoPpm.head._2))) { case (acc, (b, ppm)) =>
      acc.when(col("bucket") === lit(b), lit(ppm))
    }
    truth.join(det, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket",
        greatest(lit(6L), least(lit(10L), floor(col("jaccard") * lit(10)))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("det"), lit(0L))).as("n_detected"))
      .withColumn("theo_detect_ppm", theoCol)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_prefix_join" -> ((s, d) => corpusPrefixJoin(s, d)),

    // S-curve calibration — see [[lshScurve]]. Truth from the shared
    // certified pair table, candidates from the shared banded index:
    // ZERO new corpus scans (both arms are memoized corpus builds).
    "q210_lsh_scurve" -> ((s, d) => lshScurve(
      corpusPrefixJoin(s, d).filter(col("passes") === 1L)
        .select(col("doc_a"), col("doc_b"), col("jaccard")),
      corpusCandidates(s, d))),

    // Dedup-index EVALUATION — recall/precision of the MinHash-LSH
    // candidate set against the EXACT J >= t ground truth the q151
    // AllPairs join certifies, measured IN-ENGINE (the near-dup twin
    // of q170's ANN recall and q130's estimate-vs-exact): re-banding
    // decisions (more bands = recall, fewer = cost) become a
    // measurable catalog surface instead of folklore. One summary row:
    // |truth|, |candidates|, |overlap|, recall, candidate precision.
    // The two arms are the existing operators fed from ONE shared
    // shingle build (a single corpus scan); the final combine is three
    // 1-row aggregates crossed together.
    "q188_dedup_recall" -> ((s, d) => {
      // BOTH arms come from the shared corpus builds (exact truth =
      // the memoized q151 table, candidates = the memoized LSH pairs)
      // — nothing here re-derives what another dedup query certified
      val truth = corpusPrefixJoin(s, d)
        .filter(col("passes") === 1L).select(col("doc_a"), col("doc_b"))
      val approx = corpusCandidates(s, d)
        .select(col("doc_a"), col("doc_b"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nCands = approx.agg(count(lit(1)).as("n_cands"))
      val nTp = truth.join(approx, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_tp"))
      nTruth.crossJoin(broadcast(nCands)).crossJoin(broadcast(nTp))
        .select(col("n_truth"), col("n_cands"), col("n_tp"),
          round(col("n_tp").cast("double") / col("n_truth"), 6).as("recall"),
          round(col("n_tp").cast("double") / col("n_cands"), 6)
            .as("cand_precision"))
    }),

    // Quality-aware canonicalization of near-dup clusters — the
    // survivor of each q57 component is its LONGEST member (word
    // count, min-id tie-break): the C4/CCNet "keep the fullest copy"
    // heuristic, where q57/q145 pick by id or source rank. Cluster
    // labels reuse the q57 propagation; the pick itself is ONE
    // map-side-combinable struct-argmax per cluster (the q108
    // discipline — max(struct(w, −id)), so the word-count winner takes
    // the SMALLEST id on ties) — no window, no per-cluster sort.
    "q159_cluster_canonical" -> ((s, d) => {
      val docs = documents(s, d)
      val labels = neardupClusters(docs, corpusCandidates(s, d), "doc_id")
      val withW = labels.join(
        docs.select(col("doc_id"),
          size(TextOps.wordsOf(col("text"))).cast("long").as("n_words")),
        Seq("doc_id"))
      val top = max(struct(col("n_words").as("w"),
        (-col("doc_id")).as("k")))
      withW.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          top.getField("w").as("survivor_words"),
          (-top.getField("k")).as("survivor_id"))
    }),
    "q40_dedup_exact" -> ((s, d) =>
      exactDedup(documents(s, d), "doc_id", "text")),
    // priority = the source's numeric rank (stand-in for a curated
    // source-preference table; the ORDER is the operator's parameter)
    "q145_priority_dedup" -> ((s, d) =>
      priorityDedup(documents(s, d), "doc_id", "text",
        substring(col("source"), 4, 10).cast("int"))),
    "q97_dedup_cap" -> ((s, d) =>
      capDuplicates(documents(s, d), "doc_id", "text", k = 2)),
    "q41_dedup_near" -> ((s, d) => corpusCandidates(s, d)),
    "q46_simhash" -> ((s, d) =>
      simhash(documents(s, d), "doc_id", "text")),
    "q49_ngram_jaccard" -> ((s, d) =>
      ngramJaccardFromParts(corpusShingles(s, d),
        corpusCandidates(s, d).select(col("doc_a"), col("doc_b")))),
    "q179_containment_dedup" -> ((s, d) =>
      containmentPairsFromShingles(corpusShingles(s, d))),
    // Character-level verify stage: exact edit distance, again on the
    // CANDIDATE pairs only (levenshtein is O(len^2) per pair — the
    // bucketed candidate set is what makes it affordable at scale).
    "q55_edit_distance" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      corpusCandidates(s, d)
        .select(col("doc_a"), col("doc_b"))
        .join(docs.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("text", "text_a"), Seq("doc_a"))
        .join(docs.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("text", "text_b"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"))
    }),
    "q47_embed_neardup" -> ((s, d) =>
      embeddingNearDups(embeddings(s, d), NearDupThreshold)),
    "q57_neardup_clusters" -> ((s, d) =>
      neardupClusters(documents(s, d), corpusCandidates(s, d), "doc_id")),
    "q61_winnow_fingerprint" -> ((s, d) =>
      winnowFingerprints(documents(s, d), "doc_id", "text")),
    // Eval slice = every 20th doc id — a stand-in for "the benchmark":
    // deterministic, engine-portable, ~5% of the corpus.
    "q74_decontaminate" -> ((s, d) =>
      decontaminateFromShingles(corpusShingles(s, d),
        doc => doc % 20 === 0, minShared = 2L)),
    "q77_boilerplate" -> ((s, d) =>
      boilerplateFromShingles(corpusShingles(s, d), minDocs = 5L)),
    // "Yesterday's corpus" = 90% of docs, "today's batch" = the rest:
    // deterministic modulo split, same pattern as q74's eval slice.
    "q78_append_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      appendDedup(
        existing = docs.filter(!(col("doc_id") % 10 === 7)),
        batch = docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text")
    }),
    // Leakage-safe train/val/test split (80/10/10): the split hash is
    // taken over the near-dup CLUSTER id, not the doc id, so every
    // member of a near-duplicate cluster lands in the SAME split —
    // hashing doc ids would scatter near-copies of one page across
    // train and test, the classic eval-contamination bug. Reuses the
    // q57 label propagation; assignment itself is a pure projection.
    "q84_leakage_safe_split" -> ((s, d) => {
      val docs = documents(s, d)
      val labels = neardupClusters(docs, corpusCandidates(s, d), "doc_id")
      val h = TextAnalytics.hashPrefix(col("cluster_id"))
      labels.select(col("doc_id"), col("cluster_id"),
        when(h < lit(TextAnalytics.sampleThreshold(0.8)), "train")
          .when(h < lit(TextAnalytics.sampleThreshold(0.9)), "val")
          .otherwise("test").as("split"))
    }),

    // MinHash Jaccard ESTIMATE vs exact, on the LSH candidates — the
    // sketch-quality surface a dedup pipeline tunes its band/row config
    // against: estimate = agreeing-minhash fraction (9 functions), exact
    // = shingle-set Jaccard, plus the absolute estimation error. Both
    // sides are DETERMINISTIC cross-engine (minhashes are mins of salted
    // sha256 hex strings), so unlike the HLL envelope (q11) this sketch
    // validation is fully hash-checked, no flag needed. Scale shape:
    // the 9-way agreement is one narrow candidates x signatures join;
    // the exact Jaccard is confined to candidates like q49.
    "q130_minhash_estimate" -> ((s, d) => {
      // all three inputs are the shared memoized builds — this entry
      // adds only the estimate/exact comparison on top of them
      val sh = corpusShingles(s, d)
      val mh = corpusMinhash(s, d)
      val counts = mh.select(col("doc"), col("n_sh"))
      val cands = corpusCandidates(s, d)
        .select(col("doc_a"), col("doc_b"))
      val agree = (0 until MinhashFuncs)
        .map(k => (col(s"a.mh$k") === col(s"b.mh$k")).cast("int"))
        .reduce(_ + _)
      val est = cands
        .join(mh.as("a"), col("doc_a") === col("a.doc"))
        .join(mh.as("b"), col("doc_b") === col("b.doc"))
        .select(col("doc_a"), col("doc_b"), agree.as("n_agree"))
      val inter = cands
        .join(sh.as("sa"), col("doc_a") === col("sa.doc"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc") &&
          col("sa.shingle") === col("sb.shingle"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
      est
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .join(counts.select(col("doc").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
        .join(counts.select(col("doc").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
        .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
        .withColumn("est_raw", col("n_agree").cast("double") / 9.0)
        .withColumn("exact_raw",
          col("ni").cast("double") / (col("n_a") + col("n_b") - col("ni")))
        .select(col("doc_a"), col("doc_b"),
          col("n_agree").cast("long").as("n_agree"),
          round(col("est_raw"), 6).as("jaccard_est"),
          round(col("exact_raw"), 6).as("jaccard_exact"),
          round(abs(col("est_raw") - col("exact_raw")), 6).as("est_err"))
    }),

    // Exact-substring TRIM — the removal half of Lee et al. 2021's
    // ExactSubstr dedup (q163 only DETECTS the duplicated spans): every
    // occurrence of a duplicated word-3-gram EXCEPT the canonical first
    // one (global (doc, pos) minimum — the paper keeps one copy of each
    // duplicated substring) has its covered word positions cut from the
    // document, and the survivors are re-assembled in order. Duplication
    // is by total occurrence count (>= 2 anywhere, within- OR cross-doc
    // — the suffix-array semantics), unlike q163's cross-doc test.
    // Scale shape: one shingle-keyed aggregate computes the occurrence
    // count AND the canonical occurrence as a min-struct fold (no
    // window over the corpus), the join back to occurrences is
    // co-keyed on the same shingle, the cut-position explode is <= 3
    // rows per non-canonical occurrence, and the re-assembly is the
    // q201 doc-keyed left-join aggregate. A suffix array — the paper's
    // single-node tool — cannot shard this way; the shingle key can.
    "q203_exactsubstr_trim" -> ((s, d) => {
      // the shingle side rides the shared positional table (VERDICT
      // r14 #7); the word side is one fresh scan+posexplode projection
      // (posexplode of an empty words array emits nothing, so 0-word
      // docs drop out exactly as the old filter did)
      val words = graft.Tables.spread(documents(s, d), "doc_id")
        .select(col("doc_id").as("doc"),
          posexplode(TextOps.wordsOf(col("text"))).as(Seq("pos", "word")))
      val posh = corpusPosShingles(s, d)
      val occ = posh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("n_occ"),
          min(struct(col("doc"), col("pos"))).as("c"))
        .filter(col("n_occ") >= 2)
      val cut = posh.join(occ, Seq("shingle"))
        .filter(!(col("doc") === col("c").getField("doc") &&
          col("pos") === col("c").getField("pos")))
        .select(col("doc"), explode(sequence(col("pos"), col("pos") + 2))
          .as("pos"))
        .distinct()
        .withColumn("rm", lit(1))
      // cut is distinct on (doc, pos), so the left join preserves the
      // words row count and count(*) is the doc's word total; the
      // `when` leaves nulls on cut positions, which collect_list skips
      // (a fully-trimmed doc hashes the empty string, as the oracle's
      // coalesce does)
      words.join(cut, Seq("doc", "pos"), "left")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_words_in"),
          count(when(col("rm").isNull, lit(1))).as("n_words_kept"),
          sha2(concat_ws(" ", transform(
            array_sort(collect_list(when(col("rm").isNull,
              struct(col("pos"), col("word"))))),
            x => x("word"))), 256).as("kept_hash"))
        .select(col("doc").as("doc_id"), col("n_words_in"),
          col("n_words_kept"),
          (col("n_words_in") - col("n_words_kept")).as("n_words_removed"),
          col("kept_hash"))
    }),

    // CROSS-document line removal — the other half of the C4 cleaning
    // recipe (Raffel et al. 2020 §2.2: "we discarded any line that
    // occurred more than twice in the data set"): a line whose
    // corpus-wide OCCURRENCE count (not distinct-doc count) reaches
    // [[C4LineMinOcc]] is boilerplate (nav bars, cookie banners,
    // licence footers) and is dropped from EVERY document. Lines are
    // the q128 synthesized 6-word windows (the fixture has no
    // newlines), and a constant boilerplate line is PLANTED at
    // position 0 of every doc — mirrored in the oracle — so the
    // operator provably removes on every doc while natural word-soup
    // lines stay mostly unique. Scale shape: the line-frequency
    // aggregate is line-keyed with map-side partial combine (a
    // corpus-hot boilerplate line collapses to one row per task
    // before the shuffle), the removal is a LEFT ANTI join
    // co-partitioned on the same line key, and the re-assembly is
    // doc-keyed — two line-keyed exchanges, no all-pairs work.
    "q201_c4_line_removal" -> ((s, d) => {
      val L = LineDedupWords
      val lines = documents(s, d)
        .select(col("doc_id"), TextOps.wordsOf(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          transform(
            sequence(lit(0), floor((size(col("ws")) - 1) / L).cast("int")),
            i => concat_ws(" ", slice(col("ws"), i * L + 1, lit(L)))).as("ls"))
        .select(col("doc_id"),
          concat(array(lit(C4PlantLine)), col("ls")).as("ls")) // plant
      // pos feeds BOTH the line-frequency aggregate and the removal
      // join — persist it (spill-to-disk, the q163 discipline) or the
      // corpus scan + line synthesis runs twice. NOT spread: both the
      // r15 table-level spread and the r16 post-explode spread
      // (VERDICT r15 #7, keyed on the even doc_id) measured flat
      // standalone — the removal join broadcasts the tiny `removed`
      // side, so the only exploded-row exchange is the final doc-keyed
      // aggregate either way. Negative documented in
      // OPTIMIZATION_r16.md.
      val pos = lines.select(col("doc_id"),
        posexplode(col("ls")).as(Seq("pos", "line")))
        .transform(SessionCache.persist)
      val removed = pos.groupBy(col("line"))
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= C4LineMinOcc)
        .select(col("line"), lit(1).as("rm"))
      // one flagged LEFT join + one doc-keyed aggregation: counting
      // kept/removed and rebuilding the surviving text in the same agg
      // avoids a third pass over the line explode (collect_list skips
      // the nulls the `when` leaves on removed lines; a fully-removed
      // doc hashes the empty string, same as the oracle's coalesce)
      pos.join(removed, Seq("line"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines_in"),
          count(when(col("rm").isNull, lit(1))).as("n_lines_kept"),
          sha2(concat_ws(" ", transform(
            array_sort(collect_list(when(col("rm").isNull,
              struct(col("pos"), col("line"))))),
            x => x("line"))), 256).as("kept_hash"))
        .select(col("doc_id"), col("n_lines_in"), col("n_lines_kept"),
          (col("n_lines_in") - col("n_lines_kept")).as("n_lines_removed"),
          col("kept_hash"))
    }),

    // Per-SOURCE boilerplate-template extraction — the per-domain half
    // of web-corpus line cleaning (RefinedWeb-style: a nav bar or
    // cookie banner is boilerplate WITHIN its site even when rare
    // globally): a line present in at least half of a source's
    // documents (distinct-DOC frequency vs the source's doc count —
    // integer compare `2*n_docs >= n_source_docs`, no float ratio, so
    // the oracle hash is exact) is that source's template. A
    // source-branded header line is PLANTED at position 0 of every doc
    // (mirrored in the oracle), so every source provably yields its
    // template row on the word-soup fixture. Scale shape: one
    // (source, line)-keyed distinct-doc aggregate, a per-source doc
    // count (source-cardinality rows — the planner broadcasts it), and
    // a filter; no cross-source or all-pairs work.
    "q202_source_boilerplate" -> ((s, d) => {
      val L = LineDedupWords
      val base = documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.wordsOf(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), col("source"),
          transform(
            sequence(lit(0), floor((size(col("ws")) - 1) / L).cast("int")),
            i => concat_ws(" ", slice(col("ws"), i * L + 1, lit(L)))).as("ls"))
        .select(col("doc_id"), col("source"),
          concat(array(concat_ws(" ", lit("header line for"), col("source"),
            lit("page top"))), col("ls")).as("ls")) // plant
        // both the per-line and per-source aggregates read base —
        // persist it or the scan + line synthesis runs twice
        .transform(SessionCache.persist)
      val perLine = base
        .select(col("source"), col("doc_id"), explode(col("ls")).as("line"))
        .groupBy(col("source"), col("line"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val perSrc = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_source_docs"))
      perLine.join(perSrc, Seq("source"))
        .filter(col("n_docs") * 2 >= col("n_source_docs"))
        .select(col("source"), col("line"), col("n_docs"),
          col("n_source_docs"))
    }),

    // WITHIN-document duplicate-line removal — the C4/RefinedWeb
    // cleaning step that strips repeated boilerplate lines INSIDE one
    // document (nav bars, footers, cookie banners), keeping each line's
    // FIRST occurrence in order. The word-soup fixture has no natural
    // line structure, so lines are synthesized as fixed 6-word windows
    // and a duplicate of the first line is PLANTED at the end (the q122
    // pattern: the oracle plants the same), guaranteeing the operator
    // does real removal on every doc. Scale shape: posexplode ->
    // (doc, line) group keeping min(pos) -> re-agg sorting by kept pos;
    // all shuffles are doc-keyed, no cross-document work at all.
    "q128_line_dedup" -> ((s, d) => {
      val L = LineDedupWords
      val lines = graft.Tables.spread(documents(s, d), "doc_id") // kernel-heavy map side
        .select(col("doc_id"), TextOps.wordsOf(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          transform(
            sequence(lit(0), floor((size(col("ws")) - 1) / L).cast("int")),
            i => concat_ws(" ", slice(col("ws"), i * L + 1, lit(L)))).as("ls"))
        .select(col("doc_id"),
          concat(col("ls"), slice(col("ls"), 1, 1)).as("ls")) // plant
      val firsts = lines
        .select(col("doc_id"), size(col("ls")).cast("long").as("n_in"),
          posexplode(col("ls")).as(Seq("pos", "line")))
        .groupBy(col("doc_id"), col("n_in"), col("line"))
        .agg(min(col("pos")).as("p"))
      firsts.groupBy(col("doc_id"))
        .agg(max(col("n_in")).as("n_lines_in"),
          count(lit(1)).as("n_lines_out"),
          sha2(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("p"), col("line")))),
            x => x("line"))), 256).as("dedup_hash"))
        .select(col("doc_id"), col("n_lines_in"), col("n_lines_out"),
          (col("n_lines_in") - col("n_lines_out")).as("n_dup_lines"),
          col("dedup_hash"))
    }),

    // Exact duplicate-SPAN detection — the substring-level dedup of
    // Lee et al. 2021 ("Deduplicating Training Data Makes Language
    // Models Better") at word-3-gram granularity: every MAXIMAL run of
    // consecutive word positions whose 3-gram also occurs in ANOTHER
    // document, i.e. the spans a substring-dedup pass would cut
    // (license blocks, boilerplate headers, quoted chunks) where
    // q40/q41/q57 only judge whole documents and q77 only ranks
    // shingles. Pipeline: positional shingles (posexplode keeps the
    // word offset) -> cross-doc duplicated-shingle set (one
    // shingle-keyed aggregate, count(DISTINCT doc) >= 2) -> semi-join
    // the positions against it -> gaps-islands merge (pos - row_number
    // per doc, the q107 idiom) into maximal spans. Scale shape: the
    // only corpus-wide shuffles are the shingle aggregate and the
    // semi-join, both shingle-keyed and combiner-friendly (a suffix
    // array, the paper's single-node tool, cannot shard this way); the
    // island window partitions by doc, bounded by doc length, and
    // rides the semi-join's exchange only when doc happens to collide
    // — otherwise one doc-keyed exchange.
    "q163_dup_spans" -> ((s, d) => {
      val posh = corpusPosShingles(s, d)
      val dup = posh.groupBy(col("shingle"))
        .agg(countDistinct(col("doc")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("shingle"))
      val isl = posh.join(dup, Seq("shingle"), "left_semi")
        .withColumn("g", col("pos") - row_number().over(
          Window.partitionBy(col("doc")).orderBy(col("pos"))))
      isl.groupBy(col("doc"), col("g"))
        .agg(min(col("pos")).cast("long").as("span_start"),
          (max(col("pos")) + 2).cast("long").as("span_end"),
          count(lit(1)).as("n_grams"))
        .select(col("doc").as("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("span_words"),
          col("n_grams"))
    }),

    // Per-doc cross-corpus DUPLICATION-MASS profile — the doc-level
    // curation scalar behind the duplication→memorization line of work
    // (Lee et al. 2021; Carlini et al. 2022 "Quantifying Memorization"
    // ties memorization odds to how duplicated a sequence is): for each
    // document, the fraction of its word-3-gram positions whose gram
    // also occurs in ANOTHER document, in integer parts per million.
    // q163 reports the duplicated SPANS (where); this ranks the DOCS
    // (how much), which is what a drop/deprioritize policy consumes.
    // Cross-doc only (within-doc repetition is q198's battery).
    // Scale shape: the same persisted positional-shingle table feeding
    // one gram-keyed distinct-doc aggregate and a gram-keyed
    // semi-join, then two doc-keyed counts folded in one left join —
    // no windows, no all-pairs.
    "q206_dup_profile" -> ((s, d) => {
      val posh = corpusPosShingles(s, d)
      val dup = posh.groupBy(col("shingle"))
        .agg(countDistinct(col("doc")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("shingle"))
      val tot = posh.groupBy(col("doc")).agg(count(lit(1)).as("n_grams"))
      val dupc = posh.join(dup, Seq("shingle"), "left_semi")
        .groupBy(col("doc")).agg(count(lit(1)).as("n_dup_grams"))
      tot.join(dupc, Seq("doc"), "left")
        .select(col("doc").as("doc_id"), col("n_grams"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
          expr("coalesce(n_dup_grams, 0L) * 1000000 DIV n_grams")
            .as("dup_ppm"))
    }),

    // Incremental append NEAR-dup — q78's ingestion gate upgraded from
    // exact content keys to the MinHash index: the arriving batch
    // (doc_id % 10 = 7, q78's convention) probes the existing corpus's
    // band index and reports which corpus docs each batch doc
    // collides with. In production the corpus bands are a persisted
    // index and only the batch side computes signatures — per-batch
    // cost is batch-sized, never corpus-sized; here both sides derive
    // in-plan from one table (same lineage as q41, same bucket cap) so
    // the oracle replays the identical probe.
    "q171_append_neardup" -> ((s, d) => {
      val bands = capBuckets(
          minhashBandsFromTable(corpusMinhash(s, d)),
          Seq("band_idx", "band_hash"), "doc")
        .transform(SessionCache.persist)
      bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_hash") === col("b.band_hash"))
        .filter(col("a.doc") % 10 === 7 && col("b.doc") % 10 =!= 7)
        .groupBy(col("a.doc").as("batch_doc"), col("b.doc").as("corpus_doc"))
        .agg(count(lit(1)).as("n_shared_bands"))
    }),

    // Cross-source duplication matrix — WHICH sources copy from which:
    // the q41 candidate pairs rolled up to unordered (source, source)
    // cells. The diagonal is intra-source duplication, off-diagonal is
    // cross-source contamination (mirror sites, scraped re-posts) —
    // the provenance surface a mixture-weighting pass (q99) reads
    // before trusting per-source token counts. Pair volume is
    // candidate-sized (LSH-bounded), the rollup is sources²-bounded.
    "q172_source_overlap" -> ((s, d) => {
      val docs = documents(s, d)
      val src = docs.select(col("doc_id"), col("source"))
      corpusCandidates(s, d)
        .join(src.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("source", "src_a"), Seq("doc_a"))
        .join(src.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("source", "src_b"), Seq("doc_b"))
        .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("n_shared_bands")), 6).as("avg_bands"))
    }),

    // STREAMING near-dup ingestion gate, batch twin — the q41 MinHash
    // index run as a sequential arrival-ordered gate: doc N probes the
    // band index built from docs 1..N-1 (arrival = id order, q78's
    // convention) and is flagged with its earlier near-dup partners;
    // membership per bucket is capped at [[BandBucketCap]] in arrival
    // order, exactly the list-state cap the streaming arm enforces.
    // ONE definition, two executions: this oracle-checked batch form
    // ([[neardupGate]]) and the Structured Streaming arm
    // (streaming/StatefulNeardupGate.scala — transformWithState with
    // per-bucket ListState over the SAME per-row band projection
    // [[bandsPerRow]]), which StreamingSpec proves band-level
    // IDENTICAL across micro-batches, including cross-batch index
    // growth and the cap. q171 probes one batch against a static
    // corpus; this is the fully incremental form a crawl-ingestion
    // pipeline runs forever. Scale shape: the stateful shuffle keys on
    // (band_idx, band_hash) — collision-sized buckets, RocksDB state
    // rows bounded by cap × distinct buckets, per-micro-batch cost
    // batch-sized, never corpus-sized.
    "q208_stream_neardup_gate" -> ((s, d) =>
      neardupGate(minhashBandsFromTable(corpusMinhash(s, d)))),

    // BOUNDED streaming gate, batch twin (VERDICT r12 #3) — q208 with
    // the state-lifecycle rules an always-on 100-TB gate needs:
    // event-time aging (partners probe-able only within
    // [[GateHorizonMs]] of the arriving doc) and a per-bucket
    // recency/LRU cap (every doc admitted, oldest evicted — membership
    // tracks the horizon, not the corpus). Fixture event time is
    // ts_ms = doc_id (one arrival per ms), so the horizon genuinely
    // evicts mid-corpus and the oracle checks the aging rule. ONE
    // definition, two executions: this oracle-checked batch form
    // ([[boundedGate]]) and streaming/BoundedNeardupGate.scala
    // (transformWithState + event-time cleanup timers), which
    // StreamingSpec proves band-level identical across micro-batches
    // — including a late dup against an EVICTED partner emitting
    // nothing (the documented recall trade).
    "q218_bounded_neardup_gate" -> ((s, d) =>
      boundedGate(minhashBandsFromTable(
        corpusMinhash(s, d).withColumn("ts_ms", col("doc")),
        passthrough = Seq("ts_ms"))))
  )

  /** q128 synthesized-line width (words per line). */
  val LineDedupWords = 6

  /** q201: corpus-wide occurrence count at which a line is boilerplate
    * (C4's "more than twice" — reference: Raffel et al. 2020 §2.2).
    */
  val C4LineMinOcc = 3

  /** q201 planted boilerplate line (6 words, the q128 line width). */
  val C4PlantLine = "click here to read more now"

  /** Shared DuckDB CTE chain: words -> shingles -> minhashes -> bands
    * (mirrors [[shingleTable]] + [[minhashCandidates]] exactly).
    */
  private def minhashCtes: String = {
    val mhCols = (0 until MinhashFuncs)
      .map(k => s"min(sha256('$k' || ':' || shingle)) AS mh$k").mkString(",\n    ")
    val bandSelects = (0 until MinhashBands).map { b =>
      val parts = (0 until MinhashFuncs / MinhashBands)
        .map(r => s"mh${b * (MinhashFuncs / MinhashBands) + r}").mkString(" || ")
      s"SELECT doc, $b AS band_idx, sha256($parts) AS band_hash FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""$shingleCtes,
       |mh AS (
       |  SELECT doc,
       |    $mhCols
       |  FROM shingles GROUP BY doc),
       |bands_raw AS (
       |  $bandSelects),
       |bands AS (
       |  SELECT doc, band_idx, band_hash FROM (
       |    SELECT doc, band_idx, band_hash,
       |      row_number() OVER (PARTITION BY band_idx, band_hash
       |        ORDER BY doc) AS brk
       |    FROM bands_raw)
       |  WHERE brk <= $BandBucketCap)""".stripMargin
  }

  /** DuckDB twin of [[shingleTable]] (words -> distinct per-doc
    * 3-gram shingles); the prefix of [[minhashCtes]] and the base for
    * the q74/q77 oracles.
    */
  private def shingleCtes: String =
    s"""WITH w AS (
       |  SELECT doc_id AS doc, ${TextOps.wordsSql} AS ws FROM documents),
       |shingles AS (
       |  SELECT DISTINCT doc,
       |    unnest(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM w WHERE len(ws) >= 3)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q159_cluster_canonical" ->
      s"""WITH RECURSIVE ${minhashCtes.stripPrefix("WITH ")},
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM cands
         |  UNION SELECT doc_b, doc_a FROM cands),
         |reach(doc, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc),
         |labels AS (
         |  SELECT doc AS doc_id, min(label) AS cluster_id
         |  FROM reach GROUP BY doc),
         |wd AS (
         |  SELECT doc_id,
         |    CAST(len(${TextOps.wordsSql}) AS BIGINT) AS n_words
         |  FROM documents)
         |SELECT l.cluster_id, count(*) AS n_members,
         |  (max(struct_pack(w := wd.n_words, k := -l.doc_id))).w
         |    AS survivor_words,
         |  -(max(struct_pack(w := wd.n_words, k := -l.doc_id))).k
         |    AS survivor_id
         |FROM labels l JOIN wd ON wd.doc_id = l.doc_id
         |GROUP BY 1""".stripMargin,

    "q151_prefix_join" -> {
      val t = PrefixJoinT
      val posC = t / (1 + t)
      s"""$shingleCtes,
         |counts AS (SELECT doc, count(*) AS n_sh FROM shingles GROUP BY 1),
         |dfreq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1),
         |pre AS (
         |  SELECT doc, shingle, r, n_sh FROM (
         |    SELECT s.doc, s.shingle, c.n_sh,
         |      row_number() OVER (PARTITION BY s.doc
         |        ORDER BY f.df, s.shingle) AS r
         |    FROM shingles s
         |    JOIN dfreq f ON f.shingle = s.shingle
         |    JOIN counts c ON c.doc = s.doc)
         |  WHERE r <= n_sh - CAST(ceil($t * n_sh) AS BIGINT) + 1),
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b,
         |    min(a.r) AS ra, min(b.r) AS rb,
         |    max(a.n_sh) AS na, max(b.n_sh) AS nb
         |  FROM pre a JOIN pre b
         |    ON a.shingle = b.shingle AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |filt AS (
         |  SELECT doc_a, doc_b, na, nb FROM cands
         |  WHERE least(na, nb) >= $t * greatest(na, nb)
         |    AND 1 + least(na - ra, nb - rb) >= ceil($posC * (na + nb))),
         |inter AS (
         |  SELECT f.doc_a, f.doc_b, count(*) AS n_inter
         |  FROM filt f
         |  JOIN shingles sa ON sa.doc = f.doc_a
         |  JOIN shingles sb ON sb.doc = f.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |jacs AS (
         |  SELECT f.doc_a, f.doc_b,
         |    CAST(i.n_inter AS DOUBLE) / (f.na + f.nb - i.n_inter) AS jac
         |  FROM filt f
         |  JOIN inter i ON i.doc_a = f.doc_a AND i.doc_b = f.doc_b)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard,
         |  CAST(jac >= $t AS BIGINT) AS passes
         |FROM jacs""".stripMargin
    },

    "q188_dedup_recall" -> {
      val t = PrefixJoinT
      s"""$minhashCtes,
         |counts AS (SELECT doc, count(*) AS n_sh FROM shingles GROUP BY 1),
         |dfreq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1),
         |pre AS (
         |  SELECT doc, shingle FROM (
         |    SELECT s.doc, s.shingle, c.n_sh,
         |      row_number() OVER (PARTITION BY s.doc
         |        ORDER BY f.df, s.shingle) AS r
         |    FROM shingles s
         |    JOIN dfreq f ON f.shingle = s.shingle
         |    JOIN counts c ON c.doc = s.doc)
         |  WHERE r <= n_sh - CAST(ceil($t * n_sh) AS BIGINT) + 1),
         |tcands AS (
         |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
         |  FROM pre a JOIN pre b
         |    ON a.shingle = b.shingle AND a.doc < b.doc),
         |tinter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM tcands c
         |  JOIN shingles sa ON sa.doc = c.doc_a
         |  JOIN shingles sb ON sb.doc = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM tcands c
         |  LEFT JOIN tinter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  JOIN counts ca ON ca.doc = c.doc_a
         |  JOIN counts cb ON cb.doc = c.doc_b
         |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |      / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)) >= $t),
         |mcands AS (
         |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc),
         |t1 AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |t2 AS (SELECT CAST(count(*) AS BIGINT) AS n_cands FROM mcands),
         |t3 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_tp
         |  FROM truth tr JOIN mcands m
         |    ON m.doc_a = tr.doc_a AND m.doc_b = tr.doc_b)
         |SELECT n_truth, n_cands, n_tp,
         |  round(CAST(n_tp AS DOUBLE) / n_truth, 6) AS recall,
         |  round(CAST(n_tp AS DOUBLE) / n_cands, 6) AS cand_precision
         |FROM t1 CROSS JOIN t2 CROSS JOIN t3""".stripMargin
    },

    "q210_lsh_scurve" -> {
      val t = PrefixJoinT
      val posC = t / (1 + t)
      val theoCase = ScurveTheoPpm.map { case (b, p) =>
        s"WHEN $b THEN CAST($p AS BIGINT)" }.mkString(" ")
      s"""$minhashCtes,
         |counts AS (SELECT doc, count(*) AS n_sh FROM shingles GROUP BY 1),
         |dfreq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1),
         |pre AS (
         |  SELECT doc, shingle, r, n_sh FROM (
         |    SELECT s.doc, s.shingle, c.n_sh,
         |      row_number() OVER (PARTITION BY s.doc
         |        ORDER BY f.df, s.shingle) AS r
         |    FROM shingles s
         |    JOIN dfreq f ON f.shingle = s.shingle
         |    JOIN counts c ON c.doc = s.doc)
         |  WHERE r <= n_sh - CAST(ceil($t * n_sh) AS BIGINT) + 1),
         |pcands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b,
         |    min(a.r) AS ra, min(b.r) AS rb,
         |    max(a.n_sh) AS na, max(b.n_sh) AS nb
         |  FROM pre a JOIN pre b
         |    ON a.shingle = b.shingle AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |filt AS (
         |  SELECT doc_a, doc_b, na, nb FROM pcands
         |  WHERE least(na, nb) >= $t * greatest(na, nb)
         |    AND 1 + least(na - ra, nb - rb) >= ceil($posC * (na + nb))),
         |inter AS (
         |  SELECT f.doc_a, f.doc_b, count(*) AS n_inter
         |  FROM filt f
         |  JOIN shingles sa ON sa.doc = f.doc_a
         |  JOIN shingles sb ON sb.doc = f.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |tru AS (
         |  SELECT f.doc_a, f.doc_b,
         |    round(CAST(i.n_inter AS DOUBLE) / (f.na + f.nb - i.n_inter), 6)
         |      AS jaccard
         |  FROM filt f
         |  JOIN inter i ON i.doc_a = f.doc_a AND i.doc_b = f.doc_b
         |  WHERE CAST(i.n_inter AS DOUBLE) / (f.na + f.nb - i.n_inter) >= $t),
         |mcands AS (
         |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc),
         |bkt AS (
         |  SELECT greatest(6, least(10,
         |      CAST(floor(tr.jaccard * 10) AS BIGINT))) AS bucket,
         |    CASE WHEN m.doc_a IS NULL THEN 0 ELSE 1 END AS det
         |  FROM tru tr
         |  LEFT JOIN mcands m ON m.doc_a = tr.doc_a AND m.doc_b = tr.doc_b)
         |SELECT bucket, count(*) AS n_pairs,
         |  CAST(sum(det) AS BIGINT) AS n_detected,
         |  CASE bucket $theoCase END AS theo_detect_ppm
         |FROM bkt GROUP BY bucket""".stripMargin
    },

    "q130_minhash_estimate" -> {
      val agreeSql = (0 until MinhashFuncs)
        .map(k => s"CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      val exactSql = "CAST(coalesce(i.n_inter, 0) AS DOUBLE)" +
        " / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0))"
      s"""$minhashCtes,
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |counts AS (SELECT doc, count(*) AS n_sh FROM shingles GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cands c
         |  JOIN shingles sa ON sa.doc = c.doc_a
         |  JOIN shingles sb ON sb.doc = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT c.doc_a, c.doc_b, $agreeSql AS n_agree
         |  FROM cands c
         |  JOIN mh a ON a.doc = c.doc_a
         |  JOIN mh b ON b.doc = c.doc_b)
         |SELECT e.doc_a, e.doc_b, CAST(e.n_agree AS BIGINT) AS n_agree,
         |  round(CAST(e.n_agree AS DOUBLE) / 9.0, 6) AS jaccard_est,
         |  round($exactSql, 6) AS jaccard_exact,
         |  round(abs(CAST(e.n_agree AS DOUBLE) / 9.0 - $exactSql), 6)
         |    AS est_err
         |FROM est e
         |LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
         |JOIN counts ca ON ca.doc = e.doc_a
         |JOIN counts cb ON cb.doc = e.doc_b""".stripMargin
    },

    "q202_source_boilerplate" ->
      s"""WITH w AS (
         |  SELECT doc_id, source, ${TextOps.wordsSql} AS ws FROM documents),
         |base AS (
         |  SELECT doc_id, source,
         |    list_transform(range(0, (len(ws) - 1) // $LineDedupWords + 1),
         |      i -> array_to_string(
         |        ws[i * $LineDedupWords + 1 : i * $LineDedupWords + $LineDedupWords],
         |        ' ')) AS ls
         |  FROM w WHERE len(ws) > 0),
         |planted AS (
         |  SELECT doc_id, source,
         |    list_concat([('header line for ' || source || ' page top')], ls) AS ls
         |  FROM base),
         |e AS (SELECT source, doc_id, unnest(ls) AS line FROM planted),
         |perline AS (
         |  SELECT source, line, count(DISTINCT doc_id) AS n_docs
         |  FROM e GROUP BY 1, 2),
         |persrc AS (
         |  SELECT source, count(*) AS n_source_docs FROM planted GROUP BY 1)
         |SELECT p.source, p.line, CAST(p.n_docs AS BIGINT) AS n_docs,
         |  CAST(s.n_source_docs AS BIGINT) AS n_source_docs
         |FROM perline p JOIN persrc s USING (source)
         |WHERE p.n_docs * 2 >= s.n_source_docs""".stripMargin,

    "q203_exactsubstr_trim" ->
      s"""WITH w AS (
         |  SELECT doc_id AS doc, ${TextOps.wordsSql} AS ws FROM documents),
         |words AS (
         |  SELECT doc, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
         |  FROM (SELECT doc, ws, unnest(range(1, len(ws) + 1)) AS i
         |        FROM w WHERE len(ws) > 0)),
         |p AS (
         |  SELECT doc, ws, unnest(range(1, len(ws) - 1)) AS i
         |  FROM w WHERE len(ws) >= 3),
         |posh AS (
         |  SELECT doc, CAST(i - 1 AS BIGINT) AS pos,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
         |  FROM p),
         |r AS (
         |  SELECT doc, pos,
         |    row_number() OVER (PARTITION BY shingle ORDER BY doc, pos) AS rn,
         |    count(*) OVER (PARTITION BY shingle) AS n_occ
         |  FROM posh),
         |cut AS (
         |  SELECT DISTINCT doc, pos + o AS pos
         |  FROM r CROSS JOIN (SELECT unnest([0, 1, 2]) AS o) t
         |  WHERE n_occ >= 2 AND rn > 1),
         |k AS (
         |  SELECT ww.doc, ww.pos, ww.word
         |  FROM words ww LEFT JOIN cut c
         |    ON ww.doc = c.doc AND ww.pos = c.pos
         |  WHERE c.doc IS NULL),
         |ka AS (
         |  SELECT doc, count(*) AS n_kept,
         |    sha256(string_agg(word, ' ' ORDER BY pos)) AS kh
         |  FROM k GROUP BY doc),
         |n AS (SELECT doc, len(ws) AS n_in FROM w WHERE len(ws) > 0)
         |SELECT n.doc AS doc_id, CAST(n.n_in AS BIGINT) AS n_words_in,
         |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_words_kept,
         |  CAST(n.n_in - coalesce(ka.n_kept, 0) AS BIGINT) AS n_words_removed,
         |  coalesce(ka.kh, sha256('')) AS kept_hash
         |FROM n LEFT JOIN ka USING (doc)""".stripMargin,

    "q201_c4_line_removal" ->
      s"""WITH w AS (
         |  SELECT doc_id, ${TextOps.wordsSql} AS ws FROM documents),
         |base AS (
         |  SELECT doc_id,
         |    list_transform(range(0, (len(ws) - 1) // $LineDedupWords + 1),
         |      i -> array_to_string(
         |        ws[i * $LineDedupWords + 1 : i * $LineDedupWords + $LineDedupWords],
         |        ' ')) AS ls
         |  FROM w WHERE len(ws) > 0),
         |planted AS (
         |  SELECT doc_id, list_concat(['$C4PlantLine'], ls) AS ls FROM base),
         |e AS (
         |  SELECT doc_id, unnest(ls) AS line,
         |    generate_subscripts(ls, 1) AS pos
         |  FROM planted),
         |boiler AS (
         |  SELECT line FROM e GROUP BY line HAVING count(*) >= $C4LineMinOcc),
         |k AS (
         |  SELECT doc_id, pos, line FROM e
         |  WHERE line NOT IN (SELECT line FROM boiler)),
         |ka AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    sha256(string_agg(line, ' ' ORDER BY pos)) AS kh
         |  FROM k GROUP BY doc_id),
         |n AS (SELECT doc_id, len(ls) AS n_in FROM planted)
         |SELECT n.doc_id, CAST(n.n_in AS BIGINT) AS n_lines_in,
         |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_lines_kept,
         |  CAST(n.n_in - coalesce(ka.n_kept, 0) AS BIGINT) AS n_lines_removed,
         |  coalesce(ka.kh, sha256('')) AS kept_hash
         |FROM n LEFT JOIN ka USING (doc_id)""".stripMargin,

    "q128_line_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id, ${TextOps.wordsSql} AS ws FROM documents),
         |base AS (
         |  SELECT doc_id,
         |    list_transform(range(0, (len(ws) - 1) // $LineDedupWords + 1),
         |      i -> array_to_string(
         |        ws[i * $LineDedupWords + 1 : i * $LineDedupWords + $LineDedupWords],
         |        ' ')) AS ls
         |  FROM w WHERE len(ws) > 0),
         |planted AS (SELECT doc_id, list_append(ls, ls[1]) AS ls FROM base),
         |e AS (
         |  SELECT doc_id, len(ls) AS n_in, unnest(ls) AS line,
         |    generate_subscripts(ls, 1) AS pos
         |  FROM planted),
         |f AS (SELECT doc_id, n_in, line, min(pos) AS p
         |      FROM e GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(max(n_in) AS BIGINT) AS n_lines_in,
         |  count(*) AS n_lines_out,
         |  CAST(max(n_in) - count(*) AS BIGINT) AS n_dup_lines,
         |  sha256(string_agg(line, ' ' ORDER BY p)) AS dedup_hash
         |FROM f GROUP BY doc_id""".stripMargin,

    "q40_dedup_exact" ->
      """SELECT sha256(lower(trim(text))) AS content_key,
        |  min(doc_id) AS survivor_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q145_priority_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, sha256(lower(trim(text))) AS content_key,
        |    CAST(CAST(substring(source, 4, 10) AS INT) AS BIGINT) AS prio
        |  FROM documents),
        |r AS (
        |  SELECT content_key, doc_id, prio,
        |    row_number() OVER (PARTITION BY content_key
        |      ORDER BY prio, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY content_key) AS n_copies
        |  FROM p)
        |SELECT content_key, doc_id AS survivor_id,
        |  prio AS survivor_prio, CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1""".stripMargin,

    "q97_dedup_cap" ->
      """SELECT doc_id, content_key, copy_rank FROM (
        |  SELECT doc_id, sha256(lower(trim(text))) AS content_key,
        |    CAST(row_number() OVER (
        |      PARTITION BY sha256(lower(trim(text))) ORDER BY doc_id)
        |      AS INT) AS copy_rank
        |  FROM documents)
        |WHERE copy_rank <= 2""".stripMargin,

    "q41_dedup_near" ->
      s"""$minhashCtes
         |SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared_bands
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |  AND a.doc < b.doc
         |GROUP BY 1, 2""".stripMargin,

    "q49_ngram_jaccard" ->
      s"""$minhashCtes,
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |counts AS (SELECT doc, count(*) AS n_sh FROM shingles GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cands c
         |  JOIN shingles sa ON sa.doc = c.doc_a
         |  JOIN shingles sb ON sb.doc = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b,
         |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |        / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
         |FROM cands c
         |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |JOIN counts ca ON ca.doc = c.doc_a
         |JOIN counts cb ON cb.doc = c.doc_b""".stripMargin,

    "q179_containment_dedup" ->
      s"""$shingleCtes,
         |counts AS (SELECT doc, count(*) AS n_sh FROM shingles GROUP BY 1),
         |mid AS (
         |  SELECT shingle FROM shingles
         |  GROUP BY shingle HAVING count(*) BETWEEN 2 AND $RareShingleMaxDf),
         |rare AS (
         |  SELECT s.shingle, s.doc FROM shingles s JOIN mid USING (shingle)),
         |cands AS (
         |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
         |  FROM rare a JOIN rare b
         |    ON a.shingle = b.shingle AND a.doc < b.doc),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cands c
         |  JOIN shingles sa ON sa.doc = c.doc_a
         |  JOIN shingles sb ON sb.doc = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b, i.n_inter,
         |  round(CAST(i.n_inter AS DOUBLE) / least(ca.n_sh, cb.n_sh), 6)
         |    AS containment
         |FROM inter i
         |JOIN counts ca ON ca.doc = i.doc_a
         |JOIN counts cb ON cb.doc = i.doc_b
         |WHERE CAST(i.n_inter AS DOUBLE) / least(ca.n_sh, cb.n_sh)
         |  >= $ContainmentThreshold""".stripMargin,

    "q55_edit_distance" ->
      s"""$minhashCtes,
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b,
         |  levenshtein(da.text, db.text) AS edit_dist
         |FROM cands c
         |JOIN documents da ON da.doc_id = c.doc_a
         |JOIN documents db ON db.doc_id = c.doc_b""".stripMargin,

    "q46_simhash" -> {
      val bitCols = (0 until SimhashBits).map { j =>
        s"CASE WHEN sum(CASE WHEN substring(wh, ${j + 1}, 1) IN " +
          "('8','9','a','b','c','d','e','f') THEN cnt ELSE -cnt END) > 0 " +
          "THEN '1' ELSE '0' END"
      }.mkString(" ||\n    ")
      s"""WITH counts AS (
         |  SELECT doc_id AS doc, word, count(*) AS cnt, sha256(word) AS wh
         |  FROM (SELECT doc_id, unnest(${TextOps.wordsSql}) AS word FROM documents)
         |  GROUP BY doc_id, word)
         |SELECT doc,
         |    $bitCols AS simhash
         |FROM counts GROUP BY doc""".stripMargin
    },

    // Connected components in ANSI SQL: `reach` enumerates every
    // (doc, ancestor-that-reaches-it) pair over the candidate-pair
    // edges (UNION dedup bounds the recursion); cluster_id = min label,
    // exactly the propagation fixpoint computed by [[neardupClusters]].
    "q57_neardup_clusters" ->
      s"""WITH RECURSIVE ${minhashCtes.stripPrefix("WITH ")},
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM cands
         |  UNION SELECT doc_b, doc_a FROM cands),
         |reach(doc, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc),
         |labels AS (
         |  SELECT doc AS doc_id, min(label) AS cluster_id FROM reach GROUP BY doc)
         |SELECT d.doc_id, l.cluster_id,
         |  CAST(d.doc_id = l.cluster_id AS BIGINT) AS is_survivor
         |FROM documents d JOIN labels l ON l.doc_id = d.doc_id""".stripMargin,

    // The length guard lowers FIRST, like the Spark side — for exotic
    // characters whose lowercase has a different length (e.g. U+0130),
    // filtering on the raw length would diverge between engines.
    "q61_winnow_fingerprint" ->
      s"""WITH t AS (
         |  SELECT doc_id AS doc, lower(text) AS t FROM documents
         |  WHERE length(lower(text)) >= $WinnowK),
         |g AS (
         |  SELECT doc, t,
         |    unnest(range(1, length(t) - $WinnowK + 2)) AS pos
         |  FROM t),
         |h AS (
         |  SELECT doc, pos,
         |    md5(substring(t, CAST(pos AS INT), $WinnowK)) AS h
         |  FROM g),
         |wm AS (
         |  SELECT doc, pos,
         |    min(h) OVER (PARTITION BY doc ORDER BY pos
         |      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wm
         |  FROM h)
         |SELECT doc,
         |  CAST(max(pos) AS BIGINT) AS n_grams,
         |  CAST(count(DISTINCT wm) AS BIGINT) AS n_fingerprints,
         |  md5(string_agg(DISTINCT wm, '' ORDER BY wm)) AS fp_md5
         |FROM wm WHERE pos >= $WinnowW
         |GROUP BY doc""".stripMargin,

    "q47_embed_neardup" -> {
      val bandSelects = (0 until EmbBands).map { b =>
        s"""SELECT vec_id, $b AS band_idx,
           |    ${Similarity.hyperplaneSigSql("embedding", EmbBitsPerBand, b * EmbBitsPerBand)} AS band_sig
           |  FROM embeddings""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH bands_raw AS (
         |  $bandSelects),
         |bands AS (
         |  SELECT vec_id, band_idx, band_sig FROM (
         |    SELECT vec_id, band_idx, band_sig,
         |      row_number() OVER (PARTITION BY band_idx, band_sig
         |        ORDER BY vec_id) AS brk
         |    FROM bands_raw)
         |  WHERE brk <= $BandBucketCap),
         |probes AS (
         |  SELECT vec_id, band_idx,
         |    unnest(${Similarity.probeSigsSql("band_sig", EmbBitsPerBand)}) AS band_sig
         |  FROM bands),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM probes a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
         |    AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT p.vec_a, p.vec_b,
         |    round(
         |      list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
         |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
         |  FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b)
         |WHERE cosine >= $NearDupThreshold""".stripMargin
    },

    "q74_decontaminate" ->
      s"""$shingleCtes,
         |ev AS (SELECT doc AS eval_doc, shingle FROM shingles WHERE doc % 20 = 0),
         |tr AS (SELECT doc AS train_doc, shingle FROM shingles WHERE NOT doc % 20 = 0),
         |sz AS (SELECT eval_doc, count(*) AS n_eval_shingles FROM ev GROUP BY 1),
         |ov AS (
         |  SELECT train_doc, eval_doc, count(*) AS n_shared
         |  FROM tr JOIN ev USING (shingle) GROUP BY 1, 2)
         |SELECT train_doc, eval_doc, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / n_eval_shingles, 6) AS contamination
         |FROM ov JOIN sz USING (eval_doc)
         |WHERE n_shared >= 2""".stripMargin,

    // The candidate-pruning phase is semantically invisible (exact
    // superset, re-filtered) — the oracle is the plain doc-frequency
    // threshold.
    "q77_boilerplate" ->
      s"""$shingleCtes
         |SELECT shingle, count(*) AS n_docs
         |FROM shingles GROUP BY 1 HAVING count(*) >= 5""".stripMargin,

    "q84_leakage_safe_split" ->
      s"""WITH RECURSIVE ${minhashCtes.stripPrefix("WITH ")},
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM cands
         |  UNION SELECT doc_b, doc_a FROM cands),
         |reach(doc, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc),
         |labels AS (
         |  SELECT doc AS doc_id, min(label) AS cluster_id FROM reach GROUP BY doc)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN substring(sha256(CAST(cluster_id AS VARCHAR)), 1, 8)
         |         < '${TextAnalytics.sampleThreshold(0.8)}' THEN 'train'
         |       WHEN substring(sha256(CAST(cluster_id AS VARCHAR)), 1, 8)
         |         < '${TextAnalytics.sampleThreshold(0.9)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM labels""".stripMargin,

    "q78_append_dedup" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    sha256(array_to_string(list_sort(list_distinct(${TextOps.wordsSql})), ' '))
         |      AS content_key
         |  FROM documents),
         |old AS (SELECT content_key FROM k WHERE NOT doc_id % 10 = 7),
         |batch AS (SELECT doc_id, content_key FROM k WHERE doc_id % 10 = 7),
         |surv AS (SELECT content_key, min(doc_id) AS doc_id
         |         FROM batch GROUP BY 1)
         |SELECT s.doc_id, s.content_key FROM surv s
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM old o WHERE o.content_key = s.content_key)""".stripMargin,

    "q163_dup_spans" ->
      s"""WITH w AS (
         |  SELECT doc_id AS doc, ${TextOps.wordsSql} AS ws FROM documents),
         |p AS (
         |  SELECT doc, ws, unnest(range(1, len(ws) - 1)) AS i
         |  FROM w WHERE len(ws) >= 3),
         |posh AS (
         |  SELECT doc, CAST(i - 1 AS BIGINT) AS pos,
         |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
         |  FROM p),
         |dup AS (
         |  SELECT shingle FROM posh GROUP BY shingle
         |  HAVING count(DISTINCT doc) >= 2),
         |isl AS (
         |  SELECT doc, pos,
         |    pos - row_number() OVER (PARTITION BY doc ORDER BY pos) AS g
         |  FROM posh WHERE shingle IN (SELECT shingle FROM dup))
         |SELECT doc AS doc_id, min(pos) AS span_start,
         |  max(pos) + 2 AS span_end,
         |  max(pos) + 2 - min(pos) + 1 AS span_words,
         |  count(*) AS n_grams
         |FROM isl GROUP BY doc, g""".stripMargin,

    "q206_dup_profile" ->
      s"""WITH w AS (
         |  SELECT doc_id AS doc, ${TextOps.wordsSql} AS ws FROM documents),
         |p AS (
         |  SELECT doc, ws, unnest(range(1, len(ws) - 1)) AS i
         |  FROM w WHERE len(ws) >= 3),
         |posh AS (
         |  SELECT doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
         |  FROM p),
         |dup AS (
         |  SELECT shingle FROM posh GROUP BY shingle
         |  HAVING count(DISTINCT doc) >= 2),
         |tot AS (SELECT doc, count(*) AS n_grams FROM posh GROUP BY doc),
         |dupc AS (
         |  SELECT doc, count(*) AS n_dup
         |  FROM posh WHERE shingle IN (SELECT shingle FROM dup)
         |  GROUP BY doc)
         |SELECT t.doc AS doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
         |  CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_grams,
         |  CAST((coalesce(c.n_dup, 0) * 1000000) // t.n_grams AS BIGINT)
         |    AS dup_ppm
         |FROM tot t LEFT JOIN dupc c USING (doc)""".stripMargin,

    "q171_append_neardup" ->
      s"""$minhashCtes
         |SELECT a.doc AS batch_doc, b.doc AS corpus_doc,
         |  count(*) AS n_shared_bands
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |WHERE a.doc % 10 = 7 AND b.doc % 10 <> 7
         |GROUP BY 1, 2""".stripMargin,

    "q172_source_overlap" ->
      s"""$minhashCtes,
         |cands AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b,
         |    count(*) AS n_shared_bands
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT least(sa.source, sb.source) AS source_x,
         |  greatest(sa.source, sb.source) AS source_y,
         |  count(*) AS n_pairs,
         |  round(avg(n_shared_bands), 6) AS avg_bands
         |FROM cands c
         |JOIN documents sa ON sa.doc_id = c.doc_a
         |JOIN documents sb ON sb.doc_id = c.doc_b
         |GROUP BY 1, 2""".stripMargin,

    // Probes are UNCAPPED (bands_raw: every doc probes the index);
    // members are the capped `bands` CTE (first BandBucketCap per
    // bucket in doc order — the streaming list-state cap).
    "q208_stream_neardup_gate" ->
      s"""$minhashCtes
         |SELECT a.doc AS doc_id,
         |  CAST(count(DISTINCT b.doc) AS BIGINT) AS n_partners,
         |  min(b.doc) AS first_partner,
         |  CAST(count(*) AS BIGINT) AS n_shared_bands
         |FROM bands_raw a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |  AND b.doc < a.doc
         |GROUP BY a.doc""".stripMargin,

    // Bounded gate: both sides of the join are UNCAPPED (every doc is
    // admitted under LRU), the horizon predicate is event-time aging
    // with ts_ms = doc, and the recency window over the join output is
    // the per-bucket LRU cap — exactly [[boundedGatePairs]].
    "q218_bounded_neardup_gate" ->
      s"""$minhashCtes
         |SELECT doc AS doc_id,
         |  CAST(count(DISTINCT partner) AS BIGINT) AS n_partners,
         |  min(partner) AS first_partner,
         |  CAST(count(*) AS BIGINT) AS n_shared_bands
         |FROM (
         |  SELECT a.doc AS doc, b.doc AS partner,
         |    row_number() OVER (PARTITION BY a.band_idx, a.band_hash, a.doc
         |      ORDER BY b.doc DESC) AS rec
         |  FROM bands_raw a JOIN bands_raw b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND b.doc < a.doc AND b.doc > a.doc - $GateHorizonMs)
         |WHERE rec <= $BandBucketCap
         |GROUP BY doc""".stripMargin
  )
}
