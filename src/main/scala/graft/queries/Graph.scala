package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables._

/** Iterative graph computation — the operator family behind link
  * analysis and influence scoring. PageRank here runs over the
  * supplier-nation → customer-nation trade graph derived from the
  * TPC-H facts (who ships to whom, edge weight = shipment count).
  *
  * The iteration is BIT-EXACT across engines: ranks are carried as
  * integer micro-units (1e-8), transition probabilities as 1e-6
  * units, and each edge contribution is the INTEGER division
  * (pr·85·trans) div 1e8 — no floating point exists anywhere in the
  * loop, so Spark and the unrolled-CTE DuckDB oracle agree to the
  * last unit at any iteration count. (Float
  * PageRank accumulates summation-order noise per iteration; integer
  * units make the fixpoint reproducible, which a dedup/authority
  * pipeline wants anyway.)
  *
  * Scale shape: the edge build is two fact⋈dim joins meeting on
  * orderkey (standard star-join shuffles), aggregated to a
  * nations²-bounded edge table that is persisted ONCE and reused by
  * every iteration. The rank vector is node-sized: broadcast here
  * (nation dim); for a web-scale graph pass `broadcastRanks = false`
  * and the ranks shuffle-join the edges on src instead — the
  * per-iteration plan is one join + one aggregate either way, and the
  * two paths are bit-identical (GraphSpec).
  */
object Graph {

  /** Damping = 85/100, teleport = 0.15/N, all in exact 1e-8 units. */
  val PrIters = 3
  val PrScale = 100000000L // 1e8 micro-units

  /** Sweeps executed by the most recent [[iterateToFixpoint]] call on
    * this thread — a diagnostics surface (the early-stop spec reads
    * it; ThreadLocal so concurrent query construction can't race).
    */
  val lastSweepsRun: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))

  /** The round states of an iterative loop: the current one and the one
    * it came from, each re-rooted on its own rows, so every round plans
    * one round deep (a step that reads its input twice otherwise doubles
    * the plan per round).
    */
  final class Rounds(init: DataFrame) {
    private var held = List(SessionCache.checkpoint(init, eager = false))

    def state: DataFrame = held.head

    /** Make `step(state)` the state, materialized at once if `eager`,
      * and release the oldest state. Unless `state` is the initial one,
      * a job must have read it in full first: it derives from that one.
      */
    def advance(step: DataFrame => DataFrame, eager: Boolean = false): DataFrame = {
      held = SessionCache.checkpoint(step(state), eager) :: held
      held.drop(2).foreach(SessionCache.release)
      held = held.take(2)
      state
    }
  }

  /** Run `step` up to `maxSweeps` times, STOPPING EARLY after the
    * first sweep that leaves the state unchanged: every iterative
    * operator here is a deterministic function of the previous state,
    * so state_t = state_{t+1} implies state_T = state_t for all
    * T ≥ t — the early-stopped output IS the fixed-count output
    * (GraphSpec asserts equality and that a fixture actually stops).
    * The convergence probe is one node-keyed `exceptAll` per sweep —
    * the price that turns "diameter unknown, schedule 100 sweeps"
    * into "stop at the 12th" on a web-scale graph. Its job also
    * materializes the sweep's state for [[Rounds]]; sweep 1, never
    * probed, is materialized eagerly when more sweeps follow.
    */
  def iterateToFixpoint(init: DataFrame, maxSweeps: Int)
                       (step: DataFrame => DataFrame): DataFrame = {
    val rounds = new Rounds(init)
    var sweeps = 0
    var converged = false
    while (sweeps < maxSweeps && !converged) {
      val prev = rounds.state
      sweeps += 1
      // probe only while stopping can still SAVE a sweep — never after
      // the final sweep (the loop exits anyway) and never after the
      // first (a nontrivial graph always changes state on sweep 1; if
      // init WAS a fixpoint the extra sweeps are no-ops, so skipping
      // the probe is output-identical either way). Without this guard
      // q143's proven 2-round bound paid two probe jobs that could
      // never fire — 2.1× its r7 wall.
      val next = rounds.advance(step, eager = sweeps == 1 && sweeps < maxSweeps)
      converged = sweeps >= 2 && sweeps < maxSweeps && next.exceptAll(prev).isEmpty
    }
    lastSweepsRun.set(sweeps)
    rounds.state
  }

  /** Edges (src, dst, w, out_w): supplier nation ships to customer
    * nation, weight = lineitem count over the joined facts.
    */
  /** The (src, dst, w) trade-weight aggregate every graph operator's
    * edge table derives from — supplier nation ships to customer
    * nation, weight = lineitem count over the joined facts — memoized
    * per (session, dir) as `shared:trade_edges` (r15: q119/q127/q138/
    * q141/q143/q146/q166 each re-ran the identical
    * lineitem⋈orders⋈customer⋈supplier lineage per evaluation — seven
    * corpus-fact join passes for one 625-row-max table; same
    * train-once-serve-many attribution as the dedup/IVF shared
    * builds, and the production shape: an edge list is materialized
    * once, then every graph algorithm reads it). src/dst are cast to
    * long here so every derivation agrees on the node id type.
    */
  def sharedTradeWeights(s: SparkSession, d: String): DataFrame =
    SessionCache.shared(s, s"graph:tradew:$d") {
      val co = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey").as("dst"))
      val ls = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("s_nationkey").as("src"))
      ls.join(co, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .agg(count(lit(1)).as("w"))
    }

  def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val edges = sharedTradeWeights(s, d)
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    // Transition probability quantized ONCE per edge to exact 1e-6
    // units: the per-iteration product pr·85·t is then bounded by
    // 1e8·85·1e6 ≈ 8.5e15 — no long overflow no matter how large the
    // raw edge weights grow (pr·85·w would overflow at web scale).
    edges.join(broadcast(outw), Seq("src"))
      .select(col("src"), col("dst"),
        expr("(w * 1000000) div out_w").as("trans_micro"))
  }

  /** `iters` exact-integer PageRank sweeps; returns (node, pr_micro,
    * pr). Nodes with no inbound edges keep the bare teleport mass.
    * `nodeCount` is supplied by the caller (a known dim cardinality or
    * one count() over the node dim — never the fact side).
    *
    * `broadcastRanks` picks the per-iteration join strategy for the
    * rank vector: `true` (default) broadcasts it — right whenever the
    * node set is dimension-sized (nations here: 25 rows). `false` is
    * the WEB-SCALE path: ranks shuffle-join the edge table on src
    * (both sides hash-partitioned on the key; the rank vector at 1e9
    * nodes is tens of GB — unbroadcastable), and every downstream step
    * is unchanged. The two paths are the SAME integer arithmetic on
    * the same rows, so their outputs are bit-identical — GraphSpec
    * asserts exact pr_micro equality between them.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
               nodeCount: Long, broadcastRanks: Boolean = true): DataFrame = {
    val init = PrScale / nodeCount
    val teleport = (PrScale * 15L / 100L) / nodeCount
    val e = SessionCache.persist(edges)
    val pr = iterateToFixpoint(
        nodes.select(col("node"), lit(init).as("pr_micro")), iters) { pr0 =>
      // shuffle_hash hint: without it Catalyst would see the tiny test
      // fixture and silently pick broadcast anyway, making the web-scale
      // path untested
      val ranks = if (broadcastRanks) broadcast(pr0) else pr0.hint("shuffle_hash")
      val contrib = e.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          expr("(pr_micro * 85 * trans_micro) div 100000000").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(teleport) + coalesce(col("in_sum"), lit(0L))).as("pr_micro"))
    }
    pr.select(col("node"), col("pr_micro"),
      (col("pr_micro").cast("double") / PrScale).as("pr"))
  }

  /** Undirected distinct trade edges with canonical (a < b) orientation
    * — self-loops dropped. The id ordering is what makes the triangle
    * join count each triangle EXACTLY once.
    */
  def undirectedTradeEdges(s: SparkSession, d: String): DataFrame =
    // straight off the shared (src, dst, w) table: the transition
    // lineage tradeEdges adds (out_w aggregate + broadcast join) is an
    // inner join that keeps every edge row, so the pair set is
    // identical and deriving from the weights directly drops two
    // operators from every undirected consumer (q127/q138/q141/q143)
    sharedTradeWeights(s, d)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Re-orient undirected (a < b) edges by the TOTAL order
    * (degree, id): each edge points from its lower-(degree, id)
    * endpoint to the higher one. Any total order on nodes makes the
    * two-join triangle pattern count each triangle exactly once, so
    * [[triangleCount]] is orientation-agnostic — but under DEGREE
    * order a node's out-neighbors are only its neighbors of equal or
    * larger degree, which caps every out-list at O(sqrt(m)) on any
    * graph (a node with out-degree d has d neighbors of degree >= its
    * own >= d, so d^2 <= 2m). That bounds the e1.b = e2.a join fan-in
    * per key: a power-law hub contributes its edges as IN-edges (dst
    * side, one row each), never as an out-neighbor list joined against
    * itself — the classic fix for skew that plain id orientation hits
    * when a hub happens to get a small id (GraphSpec plants exactly
    * that hub and asserts the bound).
    *
    * Scale shape: the degree table is node-sized and built with one
    * aggregate over the edge list; attaching it is two shuffle joins
    * on a node key (broadcastable when the node set is
    * dimension-sized — Catalyst decides from stats).
    */
  def degreeOrientEdges(und: DataFrame): DataFrame = {
    // the edge list feeds the degree build twice and the orientation
    // join once — persist it or the upstream fact joins run 3x
    val e = SessionCache.persist(und)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val lowFirst = e
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        when(col("deg_a") < col("deg_b") ||
          (col("deg_a") === col("deg_b") && col("a") < col("b")),
          struct(col("a"), col("b")))
          .otherwise(struct(col("b").as("a"), col("a").as("b")))
          .as("e"))
    lowFirst.select(col("e.a").as("a"), col("e.b").as("b"))
  }

  /** Triangle count over edges oriented by ANY total order on nodes:
    * e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c in that order by
    * construction — two equi-joins, each triangle matched once. Plain
    * id orientation ([[undirectedTradeEdges]]) is right for the
    * nations²-bounded fixture; [[degreeOrientEdges]] is the web-scale
    * orientation (bounded join fan-in under power-law skew), and the
    * two are count-identical by the total-order argument.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = SessionCache.persist(edges)
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = e.agg(count(lit(1)).as("n_edges"))
    stats.crossJoin(tri).select(col("n_edges"), col("n_triangles"))
  }

  /** Connected components by min-label propagation over undirected
    * (a, b) edges: every node starts labeled with its own id; each
    * sweep replaces a node's label with the min over itself and its
    * neighbors. After `iters` sweeps a node's label is the minimum id
    * within distance `iters` — run diameter-many sweeps for the exact
    * components: min-label propagation needs O(diameter) sweeps, and
    * [[Dedup.neardupClusters]] runs exactly this sweep to its fixpoint
    * (GraphSpec proves both the converged multi-component case and the
    * partial-propagation semantics).
    *
    * Scale shape per sweep: one equi-join of the symmetrized edge list
    * (persisted once) against the node-sized label table + one min
    * aggregate — the q119 iteration discipline; all-integer, so the
    * unrolled-CTE oracle matches exactly.
    */
  /** `broadcastLabels` mirrors q119's `broadcastRanks`: the label
    * table is node-sized, so broadcast it (and the node-sized
    * neighbor-min result) whenever the node set is dimension-sized —
    * each sweep then costs ONE shuffle (the min aggregate over the
    * persisted edge list). `false` is the web-scale path (a 10^9-node
    * label table is unbroadcastable): both joins shuffle on the node
    * key, same arithmetic, bit-identical output (GraphSpec).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, iters: Int,
                          broadcastLabels: Boolean = true): DataFrame =
    minLabelRounds(nodes, edges, iters, broadcastLabels)(identity)

  /** `rounds` min-label sweeps over undirected (a, b) edges, each
    * sweep's (node, comp) labels passed through `hop` — the shared
    * round of both connected-components operators.
    */
  private def minLabelRounds(nodes: DataFrame, edges: DataFrame, rounds: Int,
                             broadcastLabels: Boolean)
                            (hop: DataFrame => DataFrame): DataFrame = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      .transform(SessionCache.persist)
    // each round reads the label table TWICE (sweep + merge) plus the
    // convergence probe — iterateToFixpoint checkpoints per round
    iterateToFixpoint(
        nodes.select(col("node"), col("node").as("comp")), rounds) { lab =>
      val l = if (broadcastLabels) broadcast(lab) else lab.hint("shuffle_hash")
      val nbrMin = sym.join(l, col("v") === col("node"))
        .groupBy(col("u")).agg(min(col("comp")).as("nbr_comp"))
      val m = if (broadcastLabels) broadcast(nbrMin)
        else nbrMin.hint("shuffle_hash")
      hop(lab.join(m, lab("node") === m("u"), "left")
        .select(lab("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
            .as("comp")))
    }
  }

  /** Label sweeps for q141: the trade graph's diameter is 1–2 at
    * every SF (every nation trades broadly), so 3 sweeps converge
    * with slack — the q119 iteration-count convention; each sweep is
    * a fixed per-round cost on the fixture.
    */
  val CcIters = 3

  /** The WEB-SCALE complement of [[connectedComponents]]: each round
    * runs the same neighbor-min sweep and then a POINTER-DOUBLING hop
    * — comp(v) ← comp(comp(v)), one self-join of the node-sized label
    * table (comp values are always node ids, so the join is total).
    * When ids increase along every path, label reach doubles per round
    * on top of the one-hop sweep, so convergence takes O(log diameter)
    * rounds instead of O(diameter). That bound needs the id order: a
    * driver-side simulation of this exact round on a 200-node path took
    * 8 rounds with sorted ids, 100 with sorted ids but the minimum moved
    * to the midpoint, and 34–134 over 10 seeded shuffles (one-hop
    * propagation: 200, 101 and 106–194).
    * Per round: one edge⋈label join + one min aggregate + one
    * label⋈label self-join, every shuffle on a node key. GraphSpec
    * proves (a) exact agreement with the converged one-hop result and
    * (b) the convergence gap on a planted sorted-id chain.
    */
  def connectedComponentsFast(nodes: DataFrame, edges: DataFrame,
                              rounds: Int,
                              broadcastLabels: Boolean = true): DataFrame =
    // `swept` feeds the doubling self-join twice — persist it
    minLabelRounds(nodes, edges, rounds, broadcastLabels) { sweep =>
      val swept = SessionCache.persist(sweep)
      val y = swept.select(col("node").as("c_node"), col("comp").as("c_comp"))
      val yb = if (broadcastLabels) broadcast(y) else y.hint("shuffle_hash")
      swept.as("x")
        .join(yb, col("comp") === col("c_node"))
        .select(col("node"), col("c_comp").as("comp"))
    }

  /** Rounds for q143: the one-hop sweeps alone cover 2 hops in 2
    * rounds (the doubling hop adds reach where ids are monotone along
    * paths) — the trade graph's diameter is 1–2 at every SF (every
    * nation ships broadly); the fixed count
    * keeps the oracle unrollable. On the fixture each round costs
    * FIXED Spark job latency (cache materializations + broadcast
    * builds over a 25-row label table), not data work — at web scale
    * the same 2-joins-plus-one-aggregate per round dominate instead,
    * which is the shape the operator is for.
    */
  val CcFastRounds = 2

  /** Directed trade edges with an integer traversal COST — the SSSP
    * input: busier lanes are cheaper (cost = max(1, 1e6 div w)), so the
    * "shortest" route follows high-volume trade corridors. Integer
    * division keeps the whole SSSP loop in exact BIGINT arithmetic
    * (the q119 discipline); the floor at 1 keeps every cost positive
    * at any scale factor, which Bellman-Ford relaxation requires for a
    * fixed sweep count to be meaningful.
    */
  def costedTradeEdges(s: SparkSession, d: String): DataFrame =
    sharedTradeWeights(s, d)
      .select(col("src"), col("dst"),
        expr("greatest(CAST(1 AS BIGINT), 1000000 div w)").as("cost"))

  /** Single-source shortest paths — Bellman-Ford relaxation sweeps,
    * the iterative-graph operator behind reachability-with-cost
    * (routing, influence radius, dedup-graph distance cutoffs). Each
    * sweep relaxes EVERY edge once: cand(v) = min over edges u→v of
    * dist(u) + cost(u,v), then dist'(v) = min(dist(v), cand(v)) with
    * NULL standing for "unreached" (infinity). After k sweeps the
    * distances are exact for every path of ≤ k hops — the unrolled
    * oracle runs the identical sweeps, so agreement is exact whether
    * or not the graph has converged.
    *
    * All-integer (BIGINT costs and distances), so Spark and DuckDB
    * agree to the last unit — no float accumulates per sweep.
    *
    * `broadcastDist` mirrors q119's `broadcastRanks`: the distance
    * table is node-sized — broadcast it while the node set is
    * dimension-sized; `false` is the web-scale path where both joins
    * shuffle on the node key (bit-identical output, GraphSpec). Per
    * sweep: one edge⋈dist join + one min aggregate + one node-sized
    * merge join — the q119/q141 iteration discipline.
    */
  def sssp(nodes: DataFrame, edges: DataFrame, source: Long, sweeps: Int,
           broadcastDist: Boolean = true): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("cost"))
      .transform(SessionCache.persist)
    // each sweep reads the distance table twice (relax + merge) plus
    // the convergence probe — iterateToFixpoint checkpoints per sweep
    iterateToFixpoint(
        nodes.select(col("node"),
          when(col("node") === source, lit(0L))
            .otherwise(lit(null).cast("long")).as("dist")), sweeps) { dist =>
      val dd = if (broadcastDist) broadcast(dist) else dist.hint("shuffle_hash")
      val relax = e.join(dd, col("src") === col("node"))
        .filter(col("dist").isNotNull)
        .groupBy(col("dst")).agg(min(col("dist") + col("cost")).as("cand"))
      val r = if (broadcastDist) broadcast(relax) else relax.hint("shuffle_hash")
      // explicit CASE instead of least(): the engines disagree on
      // least()'s NULL handling, and NULL here means infinity
      dist.join(r, dist("node") === r("dst"), "left")
        .select(dist("node"),
          when(dist("dist").isNull, col("cand"))
            .when(col("cand").isNull, dist("dist"))
            .otherwise(least(dist("dist"), col("cand"))).as("dist"))
    }
  }

  /** Sweeps for q146: distances are exact for paths of ≤ k hops; the
    * trade graph's diameter is 1–2 at every SF, so 3 sweeps converge
    * with slack — the q119/q141 fixed-iteration-count convention that
    * keeps the oracle unrollable.
    */
  val SsspSweeps = 3

  /** q166 sweeps (unrolled in the oracle) and the out-edge fan-in cap:
    * LPA runs on the TOP-[[LpaTopK]]-weighted out-edges per node — the
    * kNN-graph sparsification every embedding-space community pipeline
    * applies first. It is also what makes the demo non-degenerate: the
    * raw trade graph is near-complete (25 nations all shipping to all),
    * so unsparsified LPA correctly collapses it to ONE community, while
    * the k-strongest-partners graph resolves real blocks (12 on the
    * sf0.01 fixture).
    */
  val LpaIters = 3
  val LpaTopK = 3

  /** Directed trade edges with their RAW weight (shipment count) —
    * the [[costedTradeEdges]] build without the cost inversion.
    */
  def weightedTradeEdges(s: SparkSession, d: String): DataFrame =
    sharedTradeWeights(s, d)

  /** Synchronous weighted label propagation (Raghavan et al. 2007) —
    * community detection, the MODE-label complement to
    * [[connectedComponents]]' min-label reachability: labels start as
    * the node id and each sweep every node adopts the label with the
    * LARGEST incoming edge-weight sum among its in-neighbors (min
    * label on weight ties; a node with no in-edges keeps its own).
    * Fully deterministic: weights are exact integer counts and the
    * argmax is a struct-max over (wsum, -label) — map-side
    * combinable, no per-node sort, no floats anywhere.
    *
    * Scale shape per sweep: one labels⋈edges equi-join on src (labels
    * are node-sized; broadcast OR shuffle join both correct — the
    * optimizer picks by size, exactly the q119 freedom), one
    * (dst, label)-keyed partial-aggregated vote count, one dst-keyed
    * argmax, one node-sized left join. The edge table is persisted
    * once and reused by every sweep.
    */
  def labelProp(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val e = SessionCache.persist(edges)
    val labels = iterateToFixpoint(
        nodes.select(col("node"), col("node").as("label")), iters) { labs =>
      val votes = e
        .join(labs.select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("wsum"))
      val best = votes.groupBy(col("dst"))
        .agg(max(struct(col("wsum").as("w"), (-col("label")).as("k"))).as("b"))
        .select(col("dst").as("node"), (-col("b.k")).as("nbr_label"))
      nodes.select(col("node"))
        .join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("nbr_label"), col("node")).as("label"))
    }
    labels.select(col("node"), col("label").as("community"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q166_label_prop" -> ((s, d) => {
      val nodes = nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
      // kNN-graph sparsification: keep each node's LpaTopK strongest
      // out-edges ((w desc, dst) order — deterministic). The window
      // partitions by src: it rides the edge aggregate's exchange and
      // its input is one node's out-list, never the corpus.
      val sparse = weightedTradeEdges(s, d)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src"))
            .orderBy(col("w").desc, col("dst"))))
        .filter(col("rn") <= LpaTopK).drop("rn")
      labelProp(nodes, sparse, LpaIters)
    }),

    "q146_sssp" -> ((s, d) => {
      val nodes = nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
      sssp(nodes, costedTradeEdges(s, d), source = 0L, SsspSweeps)
    }),

    "q119_pagerank" -> ((s, d) => {
      val nodes = nation(s, d).select(col("n_nationkey").as("node"))
      // 25 nations, fixed by the TPC-H spec at every scale factor.
      pageRank(nodes, tradeEdges(s, d), PrIters, nodeCount = 25L)
    }),

    "q127_triangle_count" -> ((s, d) =>
      triangleCount(undirectedTradeEdges(s, d))),

    // Same triangle count under the web-scale degree orientation — the
    // oracle re-derives the orientation in SQL, so the hash check
    // proves count-invariance independently of GraphSpec's planted-hub
    // fan-in bound.
    "q138_triangle_degree" -> ((s, d) =>
      triangleCount(degreeOrientEdges(undirectedTradeEdges(s, d)))),

    "q141_connected_components" -> ((s, d) => {
      // long node ids on both engines (the label column type must
      // survive the least/min chain identically)
      val nodes = nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
      connectedComponents(nodes, undirectedTradeEdges(s, d), CcIters)
    }),

    "q143_cc_pointer_doubling" -> ((s, d) => {
      val nodes = nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
      connectedComponentsFast(nodes, undirectedTradeEdges(s, d), CcFastRounds)
    })
  )

  /** One unrolled iteration of the integer sweep (DuckDB `//` is the
    * same floor division as Spark's `div` on non-negative operands).
    */
  private def iterSql(prev: String, cur: String, teleport: Long): String =
    s"""$cur AS (
       |  SELECT n.node,
       |    $teleport + COALESCE(
       |      CAST(sum((p.pr_micro * 85 * e.trans_micro) // 100000000)
       |           AS BIGINT), 0)
       |      AS pr_micro
       |  FROM nodes n
       |  LEFT JOIN e ON e.dst = n.node
       |  LEFT JOIN $prev p ON p.node = e.src
       |  GROUP BY n.node)""".stripMargin

  /** One unrolled min-label sweep (mirrors [[connectedComponents]]). */
  private def ccIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT p.node,
       |    least(p.comp, coalesce(m.nbr_comp, p.comp)) AS comp
       |  FROM $prev p
       |  LEFT JOIN (
       |    SELECT s.u, min(p2.comp) AS nbr_comp
       |    FROM sym s JOIN $prev p2 ON p2.node = s.v
       |    GROUP BY s.u) m ON m.u = p.node)""".stripMargin

  /** Shared oracle prelude: trade edges → symmetrized adjacency →
    * long-typed nodes → self-labeled l0.
    */
  private val ccPreludeSql: String =
    """co AS (
      |  SELECT o.o_orderkey, c.c_nationkey AS dst
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |ls AS (
      |  SELECT l.l_orderkey, s.s_nationkey AS src
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |ed AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM ls JOIN co ON ls.l_orderkey = co.o_orderkey
      |  WHERE src <> dst),
      |sym AS (
      |  SELECT a AS u, b AS v FROM ed
      |  UNION ALL SELECT b AS u, a AS v FROM ed),
      |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
      |l0 AS (SELECT node, node AS comp FROM nodes)""".stripMargin

  /** One unrolled fast round: min-sweep then comp(v) ← comp(comp(v)). */
  private def ccFastRoundSql(prev: String, cur: String, i: Int): String =
    s"""sw$i AS (
       |  SELECT p.node,
       |    least(p.comp, coalesce(m.nbr_comp, p.comp)) AS comp
       |  FROM $prev p
       |  LEFT JOIN (
       |    SELECT s.u, min(p2.comp) AS nbr_comp
       |    FROM sym s JOIN $prev p2 ON p2.node = s.v
       |    GROUP BY s.u) m ON m.u = p.node),
       |$cur AS (
       |  SELECT x.node, y.comp
       |  FROM sw$i x JOIN sw$i y ON y.node = x.comp)""".stripMargin

  /** One unrolled Bellman-Ford sweep (mirrors [[sssp]]; NULL = inf). */
  private def ssspIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT p.node,
       |    CASE WHEN p.dist IS NULL THEN m.cand
       |         WHEN m.cand IS NULL THEN p.dist
       |         ELSE least(p.dist, m.cand) END AS dist
       |  FROM $prev p
       |  LEFT JOIN (
       |    SELECT e.dst, min(p2.dist + e.cost) AS cand
       |    FROM ce e JOIN $prev p2 ON p2.node = e.src
       |    WHERE p2.dist IS NOT NULL
       |    GROUP BY e.dst) m ON m.dst = p.node)""".stripMargin

  /** One unrolled LPA sweep (mirrors [[labelProp]]: weighted vote,
    * argmax by (wsum DESC, label ASC), keep-own fallback).
    */
  private def lpaIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT n.node, coalesce(b.lab, n.node) AS label
       |  FROM nodes n LEFT JOIN (
       |    SELECT dst, lab FROM (
       |      SELECT dst, v.label AS lab,
       |        row_number() OVER (PARTITION BY dst
       |          ORDER BY wsum DESC, v.label) AS rn
       |      FROM (
       |        SELECT e.dst, p.label, CAST(sum(e.w) AS BIGINT) AS wsum
       |        FROM e JOIN $prev p ON p.node = e.src
       |        GROUP BY e.dst, p.label) v)
       |    WHERE rn = 1) b ON b.dst = n.node)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q166_label_prop" -> {
      val sweeps = (1 to LpaIters)
        .map(i => lpaIterSql(s"l${i - 1}", s"l$i")).mkString(",\n")
      s"""WITH co AS (
         |  SELECT o.o_orderkey, c.c_nationkey AS dst
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |ls AS (
         |  SELECT l.l_orderkey, s.s_nationkey AS src
         |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
         |ew AS (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
         |    count(*) AS w
         |  FROM ls JOIN co ON ls.l_orderkey = co.o_orderkey
         |  GROUP BY 1, 2),
         |e AS (
         |  SELECT src, dst, w FROM (
         |    SELECT src, dst, w, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM ew)
         |  WHERE rn <= $LpaTopK),
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$sweeps
         |SELECT node, label AS community FROM l$LpaIters""".stripMargin
    },

    "q146_sssp" -> {
      val sweeps = (1 to SsspSweeps)
        .map(i => ssspIterSql(s"d${i - 1}", s"d$i")).mkString(",\n")
      s"""WITH co AS (
         |  SELECT o.o_orderkey, c.c_nationkey AS dst
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |ls AS (
         |  SELECT l.l_orderkey, s.s_nationkey AS src
         |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
         |ew AS (
         |  SELECT src, dst, count(*) AS w
         |  FROM ls JOIN co ON ls.l_orderkey = co.o_orderkey
         |  GROUP BY 1, 2),
         |ce AS (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
         |    greatest(CAST(1 AS BIGINT), 1000000 // w) AS cost
         |  FROM ew),
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
         |d0 AS (
         |  SELECT node,
         |    CASE WHEN node = 0 THEN CAST(0 AS BIGINT) ELSE NULL END AS dist
         |  FROM nodes),
         |$sweeps
         |SELECT node, CAST(dist AS BIGINT) AS dist
         |FROM d$SsspSweeps""".stripMargin
    },

    "q141_connected_components" -> {
      val iters = (1 to CcIters)
        .map(i => ccIterSql(s"l${i - 1}", s"l$i")).mkString(",\n")
      s"""WITH $ccPreludeSql,
         |$iters
         |SELECT node, CAST(comp AS BIGINT) AS comp FROM l$CcIters""".stripMargin
    },

    "q143_cc_pointer_doubling" -> {
      val rounds = (1 to CcFastRounds)
        .map(i => ccFastRoundSql(s"l${i - 1}", s"l$i", i)).mkString(",\n")
      s"""WITH $ccPreludeSql,
         |$rounds
         |SELECT node, CAST(comp AS BIGINT) AS comp
         |FROM l$CcFastRounds""".stripMargin
    },

    "q127_triangle_count" ->
      """WITH co AS (
        |  SELECT o.o_orderkey, c.c_nationkey AS dst
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |ls AS (
        |  SELECT l.l_orderkey, s.s_nationkey AS src
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |ed AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM ls JOIN co ON ls.l_orderkey = co.o_orderkey
        |  WHERE src <> dst),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM ed e1
        |  JOIN ed e2 ON e2.a = e1.b
        |  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM ed) AS n_edges, n_triangles
        |FROM tri""".stripMargin,

    "q138_triangle_degree" ->
      """WITH co AS (
        |  SELECT o.o_orderkey, c.c_nationkey AS dst
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |ls AS (
        |  SELECT l.l_orderkey, s.s_nationkey AS src
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |ed AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM ls JOIN co ON ls.l_orderkey = co.o_orderkey
        |  WHERE src <> dst),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM ed UNION ALL SELECT b AS node FROM ed)
        |  GROUP BY 1),
        |oe AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.a ELSE e.b END AS a,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.b ELSE e.a END AS b
        |  FROM ed e
        |  JOIN deg da ON da.node = e.a
        |  JOIN deg db ON db.node = e.b),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM oe e1
        |  JOIN oe e2 ON e2.a = e1.b
        |  JOIN oe e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM oe) AS n_edges, n_triangles
        |FROM tri""".stripMargin,

    "q119_pagerank" -> {
      val n = 25L
      val init = PrScale / n
      val teleport = (PrScale * 15L / 100L) / n
      val iters = (1 to PrIters)
        .map(i => iterSql(s"pr${i - 1}", s"pr$i", teleport))
        .mkString(",\n")
      s"""WITH co AS (
         |  SELECT o.o_orderkey, c.c_nationkey AS dst
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |ls AS (
         |  SELECT l.l_orderkey, s.s_nationkey AS src
         |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
         |edges AS (
         |  SELECT src, dst, count(*) AS w
         |  FROM ls JOIN co ON ls.l_orderkey = co.o_orderkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
         |         FROM edges GROUP BY 1),
         |e AS (SELECT edges.src, edges.dst,
         |        (edges.w * 1000000) // outw.out_w AS trans_micro
         |      FROM edges JOIN outw USING (src)),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |pr0 AS (SELECT node, CAST($init AS BIGINT) AS pr_micro FROM nodes),
         |$iters
         |SELECT node, pr_micro,
         |  CAST(pr_micro AS DOUBLE) / $PrScale AS pr
         |FROM pr$PrIters""".stripMargin
    }
  )
}
