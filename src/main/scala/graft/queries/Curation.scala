package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables.documents
import graft.queries.TextAnalytics.{hashFraction, hashFractionSql}

/** Corpus-curation operators #2 (round 7): the retrieval-index,
  * mixture-design, and export-layout side of a training-data pipeline.
  * Reference scope anchor: the reference's pipeline stops at
  * chunk→LLM-map→combine (/root/reference/internal/cli/mapreduce.go:30-281);
  * everything here is the surrounding large-scale curation surface the
  * task brief names as first-class.
  *
  * Shared engineering contract with the rest of the catalog:
  * deterministic outputs (every sampled/hashed decision rides the
  * sha256-derived [[TextAnalytics.hashFraction]], bit-identical in
  * DuckDB), no unbounded fan-out (every self-join is blocked AND
  * capped), and no global single-partition windows.
  */
object Curation {

  /** Mid-band document-frequency window for the inverted index: terms
    * below keep no discriminating power to prune (hapaxes bloat the
    * index), terms above are effectively stopwords whose posting lists
    * are the classic index skew (a stopword's postings ~= the corpus).
    */
  val IndexMinDf = 5L
  val IndexMaxDf = 40L

  val ShardCount = 64

  /** q192 DSIR feature space: hashed word buckets (a power of two, so
    * `hash_fraction * DsirBuckets` floors identically in both engines)
    * and the source stratum standing in for the curated target domain.
    */
  val DsirBuckets = 256
  val DsirTarget = "src0"

  /** q193 tertile points, spelled as the identical double literal on
    * both engines.
    */
  val Tertile1 = "0.3333333333333333"
  val Tertile2 = "0.6666666666666666"

  /** q207 Pareto shape — the published keep-rule constant (Brown et
    * al. 2020, GPT-3 Appendix A: "documents were kept if
    * np.random.pareto(9) > 1 - document_score").
    */
  val ParetoAlpha = 9

  /** q199: deterministic eval-set rate and overlap n-gram width. The
    * published decontamination recipes test 8–13-gram overlap against
    * benchmark sets; the fixture's ~15–40-word docs scale that to 5
    * (the parameter, not the operator, is fixture-sized).
    */
  val DecontamEvalFrac = 0.02
  val DecontamN = 5

  /** q199 body — TEST-SET DECONTAMINATION (the GPT-3/PaLM appendix
    * recipe as an operator): a deterministic hash-held-out slice of
    * the corpus stands in for the benchmark/eval set; every TRAINING
    * doc sharing at least one word [[DecontamN]]-gram with any eval
    * doc is flagged, with its count of distinct shared n-grams (the
    * audit column — "how contaminated", not just whether).
    *
    * Scale shape: the train side is one explode + array_distinct per
    * doc, an n-gram-keyed semi-join, and one doc-keyed aggregate — the
    * per-doc distinct means a stopword-run gram contributes one row
    * per DOC, not per occurrence, so no n-gram key is hotter than the
    * doc count. In production the eval side is a fixed benchmark set
    * (thousands of docs) whose distinct-gram table broadcasts; THIS
    * fixture's stand-in is a 2% hash-slice of the corpus, which grows
    * WITH the corpus — so the join carries no broadcast hint and the
    * planner (AQE at runtime) picks broadcast while the eval side is
    * small and degrades gracefully to a shuffled semi-join when it is
    * not (ADVICE r9: a hard `broadcast()` here would exceed the
    * broadcast limit at the 100-TB scale the old doc claimed).
    */
  /** Per-doc DISTINCT word [[DecontamN]]-grams — the shared front end
    * of [[decontaminate]] and its Bloom-gated q205 form.
    */
  private def decontamGrams(docs: DataFrame): DataFrame = {
    val n = DecontamN
    graft.Tables.spread(docs, "doc_id") // kernel-heavy map side: spread the scan
      .select(col("doc_id"), TextOps.wordsOf(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        TextOps.wordGrams(col("ws"), n))).as("g"))
  }

  /** The corpus (doc, distinct 5-gram) table, memoized (guide §3
    * build-once; the shared:dedup_shingles pattern): q199 and q205
    * each rebuilt the identical gram explode per evaluation — the
    * corpus-sized front end of both decontamination plans. Itemized
    * under `shared:decontam_grams`; dropped by `clearAll()` every
    * pass. Spec fixtures keep passing their own docs frames through
    * [[decontaminate]]/[[bloomDecontaminate]]'s default path.
    */
  def sharedDecontamGrams(s: SparkSession, d: String): DataFrame =
    SessionCache.shared(s, s"cur:decontam_grams:$d") {
      decontamGrams(documents(s, d))
    }

  /** q205 body — see the catalog entry's doc; split out so the spec
    * can drive the planted-overlap fixture through the gated path.
    */
  def bloomDecontaminate(docs: DataFrame,
                         gramsIn: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ExprBridge
    val grams = gramsIn.getOrElse(decontamGrams(docs))
    val isEval = hashFraction(col("doc_id")) < DecontamEvalFrac
    val evalGrams = grams.filter(isEval).select(col("g")).distinct()
      .transform(SessionCache.persist)
    val nEval = math.max(evalGrams.count(), 1000L)
    val bf = evalGrams.agg(ExprBridge.column(
      new BloomFilterAggregate(
        ExprBridge.expression(xxhash64(col("g"))),
        Literal(nEval), Literal(8L * nEval)).toAggregateExpression()).as("bf"))
    val pre = grams.filter(!isEval)
      .filter(ExprBridge.column(new BloomFilterMightContain(
        ScalarSubquery(bf.queryExecution.analyzed),
        ExprBridge.expression(xxhash64(col("g"))))))
    pre.join(evalGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  def decontaminate(docs: DataFrame,
                    gramsIn: Option[DataFrame] = None): DataFrame = {
    val grams = gramsIn.getOrElse(decontamGrams(docs))
    val isEval = hashFraction(col("doc_id")) < DecontamEvalFrac
    val evalGrams = grams.filter(isEval).select(col("g")).distinct()
    val hits = grams.filter(!isEval)
      .join(evalGrams, Seq("g")) // no hint: see scale shape above
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams")) // grams are per-doc distinct
    docs.filter(!isEval)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0L)
          .cast("long").as("contaminated"))
  }

  /** q211 budget denominator: select the best prefix that fits
    * total_tokens / BudgetDenom tokens (25% — the "train on the best
    * quarter of the crawl" shape).
    */
  val BudgetDenom = 4

  /** Token-budget-constrained greedy selection (q211): the compute-
    * budgeting step every curated pretraining run ends with — given a
    * token budget (a fixed fraction of the corpus here; the published
    * recipes fix it in absolute tokens), keep the documents with the
    * best quality-per-token until the budget is spent (greedy by value
    * density — the classic knapsack relaxation, and exactly how
    * classifier-scored corpora like GPT-3's curated CommonCrawl or
    * FineWeb-Edu are cut to size). Quality here is the stopword rate
    * per token (the q45 naturalness signal; the SCORE is the
    * operator's parameter — any per-doc double plugs in). Determinism
    * & parity: density is one IEEE division of two integer counts
    * (bit-identical across engines), ties break on doc_id, and the
    * cumulative token sum is [[graft.plans.GlobalOrder.runningSum]]
    * over (density DESC, doc_id) — the scalable global-order discipline
    * (no single-partition window), with the budget comparison in exact
    * integers. Scale shape: one corpus scan, sorted within partitions
    * and persisted; a one-partition corpus keeps its partitioning, and
    * a multi-partition one (whose (density, id) ranges follow no
    * partition order) takes one range shuffle; a 1-row broadcast
    * budget. At 100 TB the range sort on (density, id) is the same
    * shape as any global top-k export.
    */
  def budgetSelect(docs: DataFrame): DataFrame = {
    val stops = array(TextAnalytics.Stopwords.map(lit): _*)
    val base = docs
      .withColumn("ws", TextOps.wordsOf(col("text")))
      .withColumn("n_tok",
        graft.functions.token_count(col("text")).cast("long"))
      .withColumn("stop_n",
        size(filter(col("ws"), w => array_contains(stops, w))).cast("long"))
      .filter(col("n_tok") > 0L)
      .withColumn("density", col("stop_n").cast("double") / col("n_tok"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("density"))
    val cum = graft.plans.GlobalOrder
      .runningSum(base, Seq(col("density").desc, col("doc_id")), "n_tok", "cum_tok")
    // the final cumulative value IS the corpus total — read it off the
    // persisted prefix-sum table instead of re-scanning the corpus
    val budget = cum.agg(max(col("cum_tok")).as("w_tot"))
      .select(expr(s"w_tot div $BudgetDenom").as("budget"))
    cum.crossJoin(broadcast(budget))
      .filter(col("cum_tok") <= col("budget"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sel"), sum(col("n_tok")).as("tok_sel"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token-budget corpus cut — see [[budgetSelect]].
    "q211_budget_select" -> ((s, d) => budgetSelect(documents(s, d))),

    // Inverted-index build — the retrieval side of a curation stack
    // (BM25/q114 scores ad hoc; this MATERIALIZES the postings): one
    // row per (term, doc) with tf, annotated with the term's df, kept
    // only for mid-band terms ([[IndexMinDf]], [[IndexMaxDf]]).
    // Scale shape: both aggregations and the df join key on `term`, so
    // the df annotation rides the tf aggregation's exchange
    // (co-partitioned, no extra shuffle); the df band-pass prunes
    // stopword posting lists BEFORE they are materialized — the skew
    // defense (a stopword's bucket is the whole corpus). At 100 TB the
    // posting table is hive-partitioned by a term-hash prefix on write
    // (q91's clustered-write layout); the build plan is unchanged.
    "q174_inverted_index" -> ((s, d) => {
      val words = documents(s, d).select(col("doc_id"),
        explode(TextOps.wordsOf(col("text"))).as("term"))
      // tf feeds BOTH the df aggregate and the join's posting side —
      // persist it or the corpus explode+aggregate runs twice (the
      // r7 plan audit caught the duplicated exchange)
      val tf = words.groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .transform(SessionCache.persist)
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(IndexMinDf, IndexMaxDf))
      tf.join(df, Seq("term"))
        .select(col("term"), col("df"), col("doc_id"), col("tf"))
    }),

    // Temperature-scaled mixture sampling (alpha = 0.5) — the
    // multilingual/multi-source rebalance every LLM data recipe uses
    // (sampling share ∝ natural share^alpha: big sources damped, small
    // sources boosted, vs q99's hard rebalance-to-min). Target volume
    // is half the corpus; per-source keep rate = min(1, target_s/n_s),
    // membership decided by the engine-portable hash fraction.
    // Float parity: the alpha-weights go through exact integer
    // micro-units (round(sqrt(n)*1e6) summed as BIGINT) so the
    // weight-sum is order-independent; every later step is a fixed
    // association of exact values. Scale shape: two tiny aggregates
    // (per-source counts, 1-row totals) broadcast back over a pure
    // projection filter — no data shuffle at all.
    "q175_temperature_mixture" -> ((s, d) => {
      val docs = documents(s, d)
      // counts feeds both the totals and the rate table — persist the
      // 20-row aggregate or the corpus scan behind it runs twice
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
        .withColumn("w_micro", round(sqrt(col("n_src")) * 1e6, 0).cast("long"))
        .transform(SessionCache.persist)
      val tot = counts.agg(sum(col("w_micro")).as("w_tot"),
        sum(col("n_src")).as("n_tot"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_src"),
          least(lit(1.0),
            (col("w_micro").cast("double") / col("w_tot"))
              * (col("n_tot") * lit(0.5)) / col("n_src")).as("rate"))
      docs.join(broadcast(rates), Seq("source"))
        .filter(hashFraction(col("doc_id")) < col("rate"))
        .groupBy(col("source"), col("n_src"), round(col("rate"), 6).as("rate"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    }),

    // Fuzzy entity linkage by deletion neighborhoods (the SymSpell
    // blocking): every name at edit distance EXACTLY 1 from another —
    // the record-linkage / near-identical-entity primitive (OCR'd
    // names, typo'd usernames, id-collision sweeps). Candidate key set
    // of a name = the name itself plus its |name| single-character
    // deletions; two names within edit distance 1 ALWAYS share a key
    // (substitution at i → same deletion-at-i; insertion/deletion →
    // the longer name's deletion set contains the shorter name), so
    // recall is EXACT — unlike prefix/suffix blocking, which a
    // first-position edit escapes. levenshtein (O(len^2) per pair)
    // runs only inside key buckets, and a bucket is bounded by
    // ~2x alphabet size per deleted position, never by corpus size:
    // the index is |names| x len keys, linear in the corpus, and the
    // one shuffle keys on the deletion string. distinct() collapses
    // pairs that collide on several keys before the verify.
    "q176_fuzzy_linkage" -> ((s, d) => {
      val names = graft.Tables.customer(s, d)
        .select(lower(col("c_name")).as("name")).distinct()
      val keys = names.select(col("name"),
        explode(array_distinct(concat(
          array(col("name")),
          transform(sequence(lit(1), length(col("name"))), i =>
            concat(col("name").substr(lit(1), i - 1),
              col("name").substr(i + 1, length(col("name")) - i))))))
          .as("key"))
        // both self-join sides read this — persist or the deletion
        // explode builds twice
        .transform(SessionCache.persist)
      // banded verify: levenshtein with threshold 1 computes a 3-cell
      // band per row instead of the full len^2 DP (−1 = "exceeds 1"),
      // ~8x cheaper over the ~1M candidate rows the key join emits.
      // Verify BEFORE distinct: key-collision multiplicity is ~1.02 (a
      // distance-1 pair rarely shares two deletion keys), so the extra
      // levenshtein evaluations are nearly free while the distinct now
      // shuffles only verified pairs instead of the full candidate set.
      keys.as("a").join(keys.as("b"),
          col("a.key") === col("b.key") && col("a.name") < col("b.name"))
        .filter(levenshtein(col("a.name"), col("b.name"), 1) === 1)
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
        .distinct()
    }),

    // Training-shard manifest: deterministic hash-assignment of every
    // document to one of [[ShardCount]] export shards plus the
    // per-shard audit row (doc count, word volume, id bounds) a
    // reproducible training run checks against. Assignment is a pure
    // projection on the portable hash fraction — stable across runs,
    // engines, and cluster sizes — and the manifest aggregate shuffles
    // to exactly ShardCount groups. The actual export is q91's
    // clustered write partitioned by shard_id; this op is the
    // assignment + manifest contract.
    "q177_training_shards" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          floor(hashFraction(col("doc_id")) * ShardCount).cast("int")
            .as("shard_id"),
          size(TextOps.wordsOf(col("text"))).cast("long").as("n_words"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    }),

    // Token-budget epoch planner — the data-RECIPE table (LLaMA-style):
    // given a training token budget (here 2× the corpus, data-derived)
    // and temperature-damped source shares (∝ token-mass^0.5, the q175
    // math applied to token counts instead of doc counts), how many
    // EPOCHS of each source does the run consume? Small sources repeat
    // (epochs > 1, capped at 4 as recipes do), dominant sources are
    // subsampled (epochs < 1). q175 SAMPLES rows to a mixture; this
    // PLANS the repeat factors a trainer's data loader executes.
    // Parity: token counts are exact longs (the C2 canonical counter),
    // sqrt-weights go through integer micro-units, and every later
    // step is a fixed association of exact values. Two tiny aggregates
    // + one 1-row broadcast; nothing touches the corpus twice.
    "q191_epoch_planner" -> ((s, d) => {
      // perSrc feeds the totals AND the final projection — persist the
      // 20-row aggregate or the corpus token scan runs twice
      val perSrc = documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.token_count(col("text")).cast("long"))
            .as("n_tokens"))
        .withColumn("w_micro",
          round(sqrt(col("n_tokens")) * 1e6, 0).cast("long"))
        .transform(SessionCache.persist)
      val tot = perSrc.agg(sum(col("w_micro")).as("w_tot"),
        sum(col("n_tokens")).as("tok_tot"))
      perSrc.crossJoin(broadcast(tot))
        .withColumn("share", col("w_micro").cast("double") / col("w_tot"))
        .withColumn("epochs",
          (col("share") * (col("tok_tot") * lit(2.0))) / col("n_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("share"), 6).as("share"),
          round(col("epochs"), 4).as("epochs"),
          round(least(lit(4.0), col("epochs")), 4).as("epochs_capped"))
    }),

    // Per-source quantile normalization of a quality signal — the fair
    // cross-source mixing primitive: raw scores from heterogeneous
    // sources aren't comparable (one crawl's "long" is another's
    // median), so each doc gets its source-relative percentile and a
    // decile bin; downstream mixing filters on the NORMALIZED score.
    // percent_rank over (source, length, doc_id) — the doc_id
    // tie-break makes ranks unique hence engine-identical, and the
    // window partitions by source (never global: PlanGuard). Rank is
    // (rk-1)/(n-1), a single int/int double division — exact parity.
    "q178_quantile_normalize" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(percent_rank().over(w), 6).as("pct"),
          least(lit(9), floor(percent_rank().over(w) * 10)).cast("int")
            .as("decile"))
    }),

    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every RAW
    // document by how target-domain-like its hashed word-feature
    // distribution is — weight = Σ_occurrences ln(p_target(bucket) /
    // p_raw(bucket)) under add-one-smoothed bucket unigram models —
    // the selection signal behind importance-resampled pretraining
    // mixes. Target here = the [[DsirTarget]] source stratum (the
    // in-corpus stand-in for a curated target domain); features are
    // words hashed into [[DsirBuckets]] buckets via the cross-engine
    // [[hashFraction]] (×256 is a power-of-two multiply, so bucket ids
    // are bit-identical in DuckDB).
    // Scale shape: one word-explode feeding both aggregates (persisted);
    // the bucket model is a 256-row broadcast joined straight onto the
    // occurrences; the per-doc pass is ONE doc-keyed aggregate whose
    // map-side combine collapses occurrences — word-count shuffle
    // class, nothing quadratic, model size independent of corpus size.
    // Parity: per-bucket log-ratios land in integer micro-units
    // (q167's rule) so the doc sums are exact integer arithmetic.
    "q192_dsir_weights" -> ((s, d) => dsirWeights(documents(s, d), DsirTarget)),

    // CCNet perplexity buckets (Wenzek et al. 2020): score each doc by
    // its mean NLL under the corpus unigram LM, then split every
    // language stratum into the paper's head/middle/tail tertiles —
    // the standard crawl-quality triage (head ≈ fluent, tail ≈ noise)
    // that downstream mixes filter on. Tertile BOUNDARIES come from an
    // exact grouped percentile (per-lang, a bounded-cardinality
    // aggregate) joined back broadcast — never an ntile window over
    // the corpus, so no per-lang global sort at scale. Doc scores run
    // in integer micro-units (q167's rule); boundary comparisons are
    // safe because 4-decimal scores are ≥1e-4 apart while interpolated
    // boundaries sit strictly inside a bracketing pair's gap.
    "q193_ccnet_buckets" -> ((s, d) => ccnetBuckets(documents(s, d))),

    // Test-set decontamination — see [[decontaminate]].
    "q199_decontaminate" -> ((s, d) =>
      decontaminate(documents(s, d), Some(sharedDecontamGrams(s, d)))),

    // Bloom-GATED decontamination — [[decontaminate]]'s 100-TB serving
    // shape. In production the eval n-gram table is benchmark-sized,
    // but the TRAIN side is the corpus, and q199's n-gram semi-join
    // shuffles every training gram. Here a Bloom sketch of the eval
    // grams — sized from the eval set's measured cardinality (one
    // cheap count at build time; 8 bits/item ≈ 2% fpp, the q126
    // sizing rule), embedded as a scalar subquery, the same shape
    // AQE's injected runtime filters take — kills the ~98% of clean
    // grams MAP-SIDE at the scan, so only sketch-survivors pay the
    // exchange, and the exact confirming semi-join removes the false
    // positives. The answer is EXACT (the oracle is plain SQL): the
    // sketch changes the plan, not the result. Output lists only the
    // contaminated docs with their audit counts.
    "q205_bloom_decontaminate" -> ((s, d) =>
      bloomDecontaminate(documents(s, d), Some(sharedDecontamGrams(s, d)))),

    // GPT-3-style QUALITY-CLASSIFIER keep rule (Brown et al. 2020,
    // Appendix A; also the Pile/PaLM crawl filter): train a classifier
    // with the curated corpus as the positive class and the raw crawl
    // as the negative, score every raw document, and keep it iff
    // `pareto(9) > 1 - score` — the published Pareto-smoothed
    // stochastic rule that admits a quality-biased but not
    // quality-truncated sample. Deterministic re-expression: the
    // classifier is add-one-smoothed multinomial log-odds over the
    // q192 hashed word-feature space (the fastText hashing trick; the
    // model is DsirBuckets rows regardless of corpus size), the score
    // is the sigmoid of the doc's MEAN per-word log-odds, and the
    // Pareto draw rides [[hashFraction]]: with u = hash(doc),
    // pareto(a) = (1-u)^(-1/a) - 1, so keep  <=>  u > 1 - (2-p)^(-9)
    // — closed form, so the DECISION needs only exact IEEE
    // multiply/divide on the rounded p (no transcendental at the
    // comparison; the spec proves the algebra equals the published
    // rule). q192 outputs resampling WEIGHTS (DSIR); this outputs the
    // keep/drop VERDICT of the classifier-filter recipe — the other
    // published selection family.
    // Scale shape: q192's exactly — one word explode feeding two
    // combiner-friendly aggregates (persisted), a 256-row broadcast
    // model, a doc-keyed aggregate, then pure projections. Parity:
    // bucket log-odds in integer micro-units (q167's rule); sigmoid's
    // argument is an exact rational of integers so exp sees the
    // identical double in both engines, guarded by round-6.
    "q207_quality_classifier" -> ((s, d) =>
      qualityClassifier(documents(s, d), DsirTarget))
  )

  /** The q192 operator over any documents-shaped frame (doc_id, source,
    * text) — see the catalog entry's scaladoc for design/citation.
    */
  def dsirWeights(docs: DataFrame, targetSource: String): DataFrame = {
    val occ = docs
      .select(col("doc_id"), col("source"),
        explode(TextOps.wordsOf(col("text"))).as("w"))
      .withColumn("b",
        floor(hashFraction(col("w")) * DsirBuckets).cast("long"))
      .transform(SessionCache.persist)
    val isTarget = col("source") === targetSource
    val bt = occ.groupBy(col("b"))
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
        sum(when(!isTarget, 1L).otherwise(0L)).as("cr"))
    val tot = bt.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lr = bt.crossJoin(broadcast(tot))
      .select(col("b"),
        round((log((col("ct") + 1.0) / (col("nt") + lit(DsirBuckets.toDouble)))
          - log((col("cr") + 1.0) / (col("nr") + lit(DsirBuckets.toDouble))))
          * 1e6, 0).cast("long").as("lr_micro"))
    // The model join is a 256-row BROADCAST, so the old (doc_id, b)
    // pre-aggregate bought nothing: occurrences never crossed an
    // exchange before it, and the doc-keyed aggregate's map-side
    // combine already collapses them — the pre-agg was a second full
    // exchange + hash-agg pass of the (doc, b) table. Join occurrences
    // to the broadcast model directly and aggregate ONCE by doc; the
    // per-doc sums are exact integer arithmetic either way
    // (sum n*lr == sum lr over occurrences), so values are identical.
    occ.filter(!isTarget).join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("lr_micro")).as("w_micro"))
      .select(col("doc_id"), col("n_words"),
        round(col("w_micro") / 1e6, 4).as("dsir_weight"),
        round(col("w_micro") / 1e6 / col("n_words"), 6)
          .as("dsir_weight_per_word"))
  }

  /** The q207 operator over any documents-shaped frame (doc_id, source,
    * text) — see the catalog entry's scaladoc for design/citation.
    * Exposed so the spec can drive a planted curated-vs-junk fixture
    * through it and check the Pareto algebra against the published
    * form.
    */
  def qualityClassifier(docs: DataFrame, curatedSource: String): DataFrame = {
    val occ = docs
      .select(col("doc_id"), col("source"),
        explode(TextOps.wordsOf(col("text"))).as("w"))
      .withColumn("b",
        floor(hashFraction(col("w")) * DsirBuckets).cast("long"))
      .transform(SessionCache.persist)
    val isPos = col("source") === curatedSource
    val bt = occ.groupBy(col("b"))
      .agg(sum(when(isPos, 1L).otherwise(0L)).as("cp"),
        sum(when(!isPos, 1L).otherwise(0L)).as("cn"))
    val tot = bt.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"))
    val lr = bt.crossJoin(broadcast(tot))
      .select(col("b"),
        round((log((col("cp") + 1.0) / (col("np") + lit(DsirBuckets.toDouble)))
          - log((col("cn") + 1.0) / (col("nn") + lit(DsirBuckets.toDouble))))
          * 1e6, 0).cast("long").as("lr_micro"))
    // Same fusion as dsirWeights: the model join is a 256-row
    // broadcast, so the (doc, source, b) pre-aggregate was a second
    // full exchange of the occurrence-grain table for nothing — join
    // occurrences to the broadcast model and aggregate ONCE; exact
    // integer sums are order-independent, values identical.
    val scored = occ.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("lr_micro")).as("s_micro"))
    // p = sigmoid(mean log-odds): the argument is an exact rational of
    // integers, so exp receives the identical double in both engines.
    // The log-odds audit column stays the exact integer micro-SUM —
    // a rounded mean is a ratio of integers and lands exactly on
    // half-boundaries where the engines' double rounding diverges
    // (observed at sf0.1: 4/5000 rows).
    val p = scored.select(col("doc_id"), col("source"), col("n_words"),
      col("s_micro").as("logodds_micro"),
      round(lit(1.0) / (lit(1.0)
        + exp(-(col("s_micro") / 1e6 / col("n_words")))), 6).as("p_curated"))
    // keep <=> u > 1 - (2-p)^(-ParetoAlpha), (2-p)^9 built by the
    // fixed association ((d2*d2)*(d2*d2))*d — every op from the
    // rounded p onward is exact IEEE arithmetic, mirrored in the
    // oracle step for step
    val d1 = lit(2.0) - col("p_curated")
    val d2 = d1 * d1
    val d4 = d2 * d2
    p.withColumn("kept",
      (hashFraction(col("doc_id")) > lit(1.0) - lit(1.0) / ((d4 * d4) * d1))
        .cast("long"))
  }

  /** The q193 operator over any documents-shaped frame (doc_id, lang,
    * text) — see the catalog entry's scaladoc for design/citation.
    */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"), col("lang"),
        explode(TextOps.wordsOf(col("text"))).as("w"))
      .transform(SessionCache.persist)
    val cw = occ.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val tot = occ.agg(count(lit(1)).as("n_tot"))
    // docScore feeds the tertile boundaries AND the final bucket
    // assignment, so its lineage (occ cache scan + vocab-model join +
    // doc aggregate) runs twice per evaluation. Persisting the
    // doc-sized result was measured r16 and REVERTED: flat-to-worse at
    // BOTH sf0.1 (min 1.08 -> 1.12 s) and 10x (min 5.92 -> 6.67 s) —
    // the recompute rides the occ cache and broadcast joins, while the
    // persist adds a full materialization barrier before the bounds
    // broadcast can even start.
    val docScore = occ.join(cw, Seq("w"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"),
        round(-log(col("cw").cast("double") / col("n_tot")), 6).as("nll"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_words"),
        round(sum(round(col("nll") * 1e6).cast("long")) / 1e6
          / count(lit(1)), 4).as("mean_nll"))
    val bounds = docScore.groupBy(col("lang"))
      .agg(expr(s"percentile(mean_nll, $Tertile1)").as("b1"),
        expr(s"percentile(mean_nll, $Tertile2)").as("b2"))
    docScore.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("mean_nll"),
        when(col("mean_nll") <= col("b1"), "head")
          .when(col("mean_nll") <= col("b2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  def oracles: Map[String, String] = Map(

    "q211_budget_select" -> {
      val stops = TextAnalytics.Stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(${RefPipeline.tokenCountSql("text")} AS BIGINT) AS n_tok,
         |    CAST(len(list_filter(${TextOps.wordsSql}, w ->
         |      list_contains([$stops], w))) AS BIGINT) AS stop_n
         |  FROM documents),
         |f AS (SELECT * FROM t WHERE n_tok > 0),
         |b AS (SELECT CAST(sum(n_tok) AS BIGINT) // $BudgetDenom AS budget
         |      FROM f),
         |c AS (SELECT source, n_tok,
         |    sum(n_tok) OVER (
         |      ORDER BY CAST(stop_n AS DOUBLE) / n_tok DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM f)
         |SELECT source, count(*) AS n_sel, CAST(sum(n_tok) AS BIGINT) AS tok_sel
         |FROM c WHERE cum <= (SELECT budget FROM b)
         |GROUP BY source""".stripMargin
    },

    "q199_decontaminate" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |      range(1, len(ws) - ${DecontamN - 2}),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
         |        || ws[i+3] || ' ' || ws[i+4]))) AS g
         |  FROM (SELECT doc_id, ${TextOps.wordsSql} AS ws FROM documents)
         |  WHERE len(ws) >= $DecontamN),
         |ev AS (
         |  SELECT DISTINCT g FROM g
         |  WHERE ${hashFractionSql("doc_id")} < $DecontamEvalFrac),
         |hits AS (
         |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
         |  FROM g JOIN ev USING (g)
         |  WHERE ${hashFractionSql("g.doc_id")} >= $DecontamEvalFrac
         |  GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |  coalesce(h.n_shared_grams, 0) AS n_shared_grams,
         |  CAST(coalesce(h.n_shared_grams, 0) > 0 AS BIGINT) AS contaminated
         |FROM documents d
         |LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE ${hashFractionSql("d.doc_id")} >= $DecontamEvalFrac""".stripMargin,

    // EXACT semantics — the Bloom gate is a plan optimization, not an
    // approximation; the oracle is q199's hit table.
    "q205_bloom_decontaminate" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |      range(1, len(ws) - ${DecontamN - 2}),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
         |        || ws[i+3] || ' ' || ws[i+4]))) AS g
         |  FROM (SELECT doc_id, ${TextOps.wordsSql} AS ws FROM documents)
         |  WHERE len(ws) >= $DecontamN),
         |ev AS (
         |  SELECT DISTINCT g FROM g
         |  WHERE ${hashFractionSql("doc_id")} < $DecontamEvalFrac)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
         |FROM g JOIN ev USING (g)
         |WHERE ${hashFractionSql("g.doc_id")} >= $DecontamEvalFrac
         |GROUP BY g.doc_id""".stripMargin,

    "q174_inverted_index" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(${TextOps.wordsSql}) AS term FROM documents),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM w GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         |SELECT t.term, d.df, t.doc_id, t.tf
         |FROM tf t JOIN df d USING (term)
         |WHERE d.df BETWEEN $IndexMinDf AND $IndexMaxDf""".stripMargin,

    "q175_temperature_mixture" ->
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_src,
         |    CAST(round(sqrt(n_src) * 1e6, 0) AS BIGINT) AS w_micro
         |  FROM documents GROUP BY source),
         |t AS (SELECT sum(w_micro) AS w_tot, sum(n_src) AS n_tot FROM counts),
         |rates AS (
         |  SELECT source, n_src,
         |    least(1.0,
         |      (CAST(w_micro AS DOUBLE) / w_tot)
         |        * (n_tot * 0.5) / n_src) AS rate
         |  FROM counts CROSS JOIN t)
         |SELECT d.source, r.n_src, round(r.rate, 6) AS rate,
         |  count(*) AS n_kept,
         |  min(d.doc_id) AS min_doc, max(d.doc_id) AS max_doc
         |FROM documents d JOIN rates r ON d.source = r.source
         |WHERE ${hashFractionSql("d.doc_id")} < r.rate
         |GROUP BY 1, 2, 3""".stripMargin,

    "q176_fuzzy_linkage" ->
      """WITH names AS (SELECT DISTINCT lower(c_name) AS name FROM customer),
        |keys AS (
        |  SELECT name, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(name) + 1),
        |      i -> substring(name, 1, i - 1)
        |        || substring(name, i + 1, length(name) - i)), name))) AS key
        |  FROM names),
        |cand AS (
        |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |  FROM keys a JOIN keys b
        |    ON a.key = b.key AND a.name < b.name)
        |SELECT name_a, name_b FROM cand
        |WHERE levenshtein(name_a, name_b) = 1""".stripMargin,

    "q177_training_shards" ->
      s"""SELECT CAST(floor(${hashFractionSql("doc_id")} * $ShardCount) AS INTEGER)
         |    AS shard_id,
         |  count(*) AS n_docs,
         |  CAST(sum(len(${TextOps.wordsSql})) AS BIGINT) AS n_words,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents
         |GROUP BY 1""".stripMargin,

    "q191_epoch_planner" ->
      s"""WITH per_src AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(${RefPipeline.tokenCountSql("text")}) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n_docs, n_tokens,
         |    CAST(round(sqrt(n_tokens) * 1e6, 0) AS BIGINT) AS w_micro
         |  FROM per_src),
         |t AS (SELECT sum(w_micro) AS w_tot, sum(n_tokens) AS tok_tot FROM w),
         |x AS (
         |  SELECT source, n_docs, n_tokens,
         |    CAST(w_micro AS DOUBLE) / w_tot AS share,
         |    ((CAST(w_micro AS DOUBLE) / w_tot) * (tok_tot * 2.0)) / n_tokens
         |      AS epochs
         |  FROM w CROSS JOIN t)
         |SELECT source, n_docs, n_tokens,
         |  round(share, 6) AS share, round(epochs, 4) AS epochs,
         |  round(least(4.0, epochs), 4) AS epochs_capped
         |FROM x""".stripMargin,

    "q178_quantile_normalize" ->
      """SELECT doc_id, source, n_chars,
        |  round(percent_rank() OVER w, 6) AS pct,
        |  CAST(least(9, floor(percent_rank() OVER w * 10)) AS INTEGER)
        |    AS decile
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)""".stripMargin,

    "q192_dsir_weights" ->
      s"""WITH occ AS (
         |  SELECT doc_id, source,
         |    CAST(floor(${hashFractionSql("w")} * $DsirBuckets) AS BIGINT) AS b
         |  FROM (SELECT doc_id, source, unnest(${TextOps.wordsSql}) AS w
         |        FROM documents)),
         |bt AS (
         |  SELECT b,
         |    sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN source <> '$DsirTarget' THEN 1 ELSE 0 END) AS cr
         |  FROM occ GROUP BY b),
         |t AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bt),
         |lr AS (
         |  SELECT b, CAST(round(
         |      (ln((ct + 1.0) / (nt + $DsirBuckets.0))
         |        - ln((cr + 1.0) / (nr + $DsirBuckets.0))) * 1e6, 0)
         |    AS BIGINT) AS lr_micro
         |  FROM bt CROSS JOIN t),
         |db AS (
         |  SELECT doc_id, b, count(*) AS n FROM occ
         |  WHERE source <> '$DsirTarget' GROUP BY 1, 2)
         |SELECT d.doc_id, CAST(sum(d.n) AS BIGINT) AS n_words,
         |  round(CAST(sum(d.n * l.lr_micro) AS BIGINT) / 1e6, 4)
         |    AS dsir_weight,
         |  round(CAST(sum(d.n * l.lr_micro) AS BIGINT) / 1e6 / sum(d.n), 6)
         |    AS dsir_weight_per_word
         |FROM db d JOIN lr l USING (b)
         |GROUP BY d.doc_id""".stripMargin,

    "q193_ccnet_buckets" ->
      s"""WITH occ AS (
         |  SELECT doc_id, lang, unnest(${TextOps.wordsSql}) AS w
         |  FROM documents),
         |cw AS (SELECT w, count(*) AS cw FROM occ GROUP BY w),
         |t AS (SELECT count(*) AS n_tot FROM occ),
         |ds AS (
         |  SELECT doc_id, lang, count(*) AS n_words,
         |    round(CAST(sum(CAST(round(
         |        round(-ln(CAST(c.cw AS DOUBLE) / t.n_tot), 6) * 1e6, 0)
         |      AS BIGINT)) AS BIGINT) / 1e6 / count(*), 4) AS mean_nll
         |  FROM occ o JOIN cw c USING (w) CROSS JOIN t
         |  GROUP BY doc_id, lang),
         |bounds AS (
         |  SELECT lang, quantile_cont(mean_nll, $Tertile1) AS b1,
         |    quantile_cont(mean_nll, $Tertile2) AS b2
         |  FROM ds GROUP BY lang)
         |SELECT d.doc_id, d.lang, CAST(d.n_words AS BIGINT) AS n_words,
         |  d.mean_nll,
         |  CASE WHEN d.mean_nll <= b.b1 THEN 'head'
         |       WHEN d.mean_nll <= b.b2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM ds d JOIN bounds b USING (lang)""".stripMargin,

    // The kept comparison mirrors the Spark association exactly:
    // d2 = d*d, d4 = d2*d2, threshold = 1 - 1/((d4*d4)*d).
    "q207_quality_classifier" ->
      s"""WITH occ AS (
         |  SELECT doc_id, source,
         |    CAST(floor(${hashFractionSql("w")} * $DsirBuckets) AS BIGINT) AS b
         |  FROM (SELECT doc_id, source, unnest(${TextOps.wordsSql}) AS w
         |        FROM documents)),
         |bt AS (
         |  SELECT b,
         |    sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS cp,
         |    sum(CASE WHEN source <> '$DsirTarget' THEN 1 ELSE 0 END) AS cn
         |  FROM occ GROUP BY b),
         |t AS (SELECT sum(cp) AS np, sum(cn) AS nn FROM bt),
         |lr AS (
         |  SELECT b, CAST(round(
         |      (ln((cp + 1.0) / (np + $DsirBuckets.0))
         |        - ln((cn + 1.0) / (nn + $DsirBuckets.0))) * 1e6, 0)
         |    AS BIGINT) AS lr_micro
         |  FROM bt CROSS JOIN t),
         |db AS (
         |  SELECT doc_id, source, b, count(*) AS n FROM occ GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT d.doc_id, d.source, CAST(sum(d.n) AS BIGINT) AS n_words,
         |    CAST(sum(d.n * l.lr_micro) AS BIGINT) AS s_micro
         |  FROM db d JOIN lr l USING (b)
         |  GROUP BY 1, 2),
         |sp AS (
         |  SELECT doc_id, source, n_words, s_micro AS logodds_micro,
         |    round(1.0 / (1.0 + exp(-(s_micro / 1e6 / n_words))), 6)
         |      AS p_curated
         |  FROM sc),
         |k2 AS (SELECT *, (2.0 - p_curated) * (2.0 - p_curated) AS d2
         |       FROM sp),
         |k4 AS (SELECT *, d2 * d2 AS d4 FROM k2)
         |SELECT doc_id, source, n_words, logodds_micro, p_curated,
         |  CAST(${hashFractionSql("doc_id")} >
         |    1.0 - 1.0 / ((d4 * d4) * (2.0 - p_curated)) AS BIGINT) AS kept
         |FROM k4""".stripMargin
  )
}
