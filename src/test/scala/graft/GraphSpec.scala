package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Graph

/** Behavioral proofs for the integer PageRank on planted graphs, plus
  * the chi-square zero/association anchors on planted contingency
  * tables (fixture data can only prove oracle parity; the analytic
  * values need graphs whose fixpoint is known).
  */
class GraphSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  /** edges already in transition micro-units, like tradeEdges emits */
  private def edges(e: Seq[(Long, Long, Long)]) =
    e.toDF("src", "dst", "trans_micro")

  private def nodes(n: Long) = (0L until n).toDF("node")

  test("pagerank: symmetric ring stays uniform at every iteration") {
    val n = 5L
    val ring = edges((0L until n).map(i => (i, (i + 1) % n, 1000000L)))
    val pr = Graph.pageRank(nodes(n), ring, 4, n).collect()
    val ranks = pr.map(_.getAs[Long]("pr_micro")).distinct
    assert(ranks.length == 1, s"ring must stay uniform, got ${ranks.toSeq}")
    assert(ranks(0) == Graph.PrScale / n)
  }

  test("pagerank: a hub every node links to accumulates the most mass") {
    val n = 6L
    // spokes 1..5 all point at node 0; node 0 spreads back uniformly
    val star = edges(
      (1L until n).map(i => (i, 0L, 1000000L)) ++
        (1L until n).map(i => (0L, i, 1000000L / (n - 1))))
    val pr = Graph.pageRank(nodes(n), star, 3, n).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr_micro")).toMap
    assert((1L until n).forall(i => pr(0L) > pr(i)),
      s"hub must dominate: $pr")
    // spokes are symmetric — identical mass
    assert((1L until n).map(pr).distinct.size == 1)
  }

  test("pagerank: total mass stays within integer floor loss of 1.0") {
    val n = 5L
    val ring = edges((0L until n).map(i => (i, (i + 1) % n, 1000000L)))
    val pr = Graph.pageRank(nodes(n), ring, 4, n).collect()
    val total = pr.map(_.getAs[Long]("pr_micro")).sum
    // each of the 4 sweeps can floor away at most a few units per edge
    assert(total <= Graph.PrScale)
    assert(total > Graph.PrScale - 1000L, s"mass leaked: $total")
  }

  test("pagerank: shuffle-join rank path is bit-identical to broadcast") {
    // the web-scale variant (rank vector too large to broadcast) must
    // produce the SAME integer fixpoint — same arithmetic, different
    // physical join. Asymmetric graph so the equality isn't vacuous.
    val n = 6L
    val g = edges(Seq(
      (1L, 0L, 1000000L), (2L, 0L, 600000L), (2L, 3L, 400000L),
      (3L, 4L, 1000000L), (4L, 5L, 500000L), (4L, 2L, 500000L),
      (5L, 1L, 1000000L), (0L, 2L, 1000000L)))
    def ranks(bcast: Boolean) =
      Graph.pageRank(nodes(n), g, 4, n, broadcastRanks = bcast)
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr_micro"))
        .toMap
    val b = ranks(bcast = true)
    val s = ranks(bcast = false)
    assert(b == s, s"paths diverged: broadcast=$b shuffle=$s")
    assert(b.values.toSeq.distinct.size > 1) // non-trivial fixpoint
  }

  test("triangle count: planted triangle plus a dangling chain") {
    // 0-1-2 closed, 2-3 and 3-4 open: exactly one triangle, counted once
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
      .toDF("a", "b")
    val out = Graph.triangleCount(e).collect()(0)
    assert(out.getAs[Long]("n_edges") == 5L)
    assert(out.getAs[Long]("n_triangles") == 1L)
    // two triangles sharing an edge: 0-1-2 and 0-2-3 (add 0-3)
    val e2 = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (0L, 3L))
      .toDF("a", "b")
    assert(Graph.triangleCount(e2).collect()(0)
      .getAs[Long]("n_triangles") == 2L)
  }

  test("degree orientation: triangle count identical to id orientation") {
    // same fixtures as above — any total order counts each triangle once
    for (fix <- Seq(
      Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L)) -> 1L,
      Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (0L, 3L)) -> 2L)) {
      val und = fix._1.toDF("a", "b")
      val out = Graph.triangleCount(Graph.degreeOrientEdges(und)).collect()(0)
      assert(out.getAs[Long]("n_edges") == fix._1.size.toLong)
      assert(out.getAs[Long]("n_triangles") == fix._2)
    }
  }

  test("degree orientation: planted hub's neighbor list never joins as one key") {
    // hub 0 (degree 20, and the SMALLEST id — worst case for id
    // orientation) + 20 leaves; leaf-leaf edges (1,2),(2,3),(1,3) plant
    // 3 hub triangles and 1 leaf triangle.
    val und = ((1L to 20L).map(l => (0L, l)) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L))).toDF("a", "b")
    val idOut = Graph.triangleCount(und).collect()(0)
    val degE = Graph.degreeOrientEdges(und)
    val degOut = Graph.triangleCount(degE).collect()(0)
    assert(idOut.getAs[Long]("n_triangles") == 4L)
    assert(degOut.getAs[Long]("n_triangles") == 4L)
    assert(degOut.getAs[Long]("n_edges") == 23L)
    // fan-in of the e1.b = e2.a join key == out-degree of the src node:
    // id orientation hands the hub its whole 20-edge neighbor list;
    // degree orientation points every spoke INTO the hub, so no node's
    // out-list exceeds its (small) degree.
    def maxOut(e: org.apache.spark.sql.DataFrame) =
      e.groupBy(col("a")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
    assert(maxOut(und) == 20L, "id orientation must exhibit the hub skew")
    assert(maxOut(degE) <= 3L, "degree orientation must bound the fan-in")
  }

  test("connected components: two planted components plus an isolate") {
    // {0,1,2,3} chained, {10,11,12} a triangle, 99 isolated
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val ns = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("node")
    // diameter 3 → 3 sweeps converge
    val comp = Graph.connectedComponents(ns, und, 3).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(comp(_) == 0L), comp.toString)
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L), comp.toString)
    assert(comp(99L) == 99L, "an isolate keeps its own label")
  }

  test("connected components: each sweep propagates exactly one hop") {
    // path 0-1-2-3-4: after k sweeps, node i holds min id within k hops
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val ns = (0L to 4L).toDF("node")
    def labels(iters: Int) =
      Graph.connectedComponents(ns, und, iters).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    val one = labels(1)
    assert(one == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    val two = labels(2)
    assert(two == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L))
    assert(labels(4) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("convergence early-stop: output equals fixed sweeps and actually stops early") {
    // path 0-1-2-3-4, diameter 4: convergence at sweep 4, the probe
    // detects it at sweep 5 — a 50-sweep budget must stop there with
    // the identical label table
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val ns = (0L to 4L).toDF("node")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    val fixed = toMap(Graph.connectedComponents(ns, und, 4))
    val budget = toMap(Graph.connectedComponents(ns, und, 50))
    assert(Graph.lastSweepsRun.get() == 5,
      s"expected stop at sweep 5, ran ${Graph.lastSweepsRun.get()}")
    assert(budget == fixed)
    // sssp stops once all ≤k-hop paths are found: chain costs 0-1-2-3
    val ce = Seq((0L, 1L, 7L), (1L, 2L, 5L), (2L, 3L, 1L))
      .toDF("src", "dst", "cost")
    val ns4 = (0L to 3L).toDF("node")
    def dists(k: Int) = Graph.sssp(ns4, ce, 0L, k).collect()
      .map(r => r.getAs[Long]("node") ->
        Option(r.getAs[java.lang.Long]("dist"))).toMap
    val d3 = dists(3)
    val d40 = dists(40)
    assert(Graph.lastSweepsRun.get() == 4,
      s"expected stop at sweep 4, ran ${Graph.lastSweepsRun.get()}")
    assert(d40 == d3)
    // label propagation: two 3-cliques joined by one weak edge settle
    // in 2 sweeps; a 30-sweep budget stops at 3 with identical labels
    val w = Seq(
      (0L, 1L, 9L), (1L, 0L, 9L), (0L, 2L, 9L), (2L, 0L, 9L),
      (1L, 2L, 9L), (2L, 1L, 9L),
      (10L, 11L, 9L), (11L, 10L, 9L), (10L, 12L, 9L), (12L, 10L, 9L),
      (11L, 12L, 9L), (12L, 11L, 9L),
      (2L, 10L, 1L)).toDF("src", "dst", "w")
    val ns6 = Seq(0L, 1L, 2L, 10L, 11L, 12L).toDF("node")
    def comms(k: Int) = Graph.labelProp(ns6, w, k).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("community")).toMap
    val c3 = comms(3)
    val c30 = comms(30)
    val ran = Graph.lastSweepsRun.get()
    assert(ran < 30, s"LPA must converge well before 30 sweeps, ran $ran")
    assert(c30 == c3)
  }

  test("round state is re-rooted: the plan after 8 sweeps is as large as after 2") {
    // 12-node path from node 0: neither loop reaches its fixpoint by
    // sweep 8, so both runs execute every sweep they are given
    val n = 12L
    val und = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val ce = cedges((0L until n - 1).map(i => (i, i + 1, 1L)))
    def planSize(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case p => p }.size
    def sizes(run: Int => org.apache.spark.sql.DataFrame) = Seq(2, 8).map { k =>
      val size = planSize(run(k))
      assert(Graph.lastSweepsRun.get() == k)
      size
    }
    val cc = sizes(k => Graph.connectedComponents(nodes(n), und, k))
    assert(cc(0) == cc(1), s"CC plan nodes at 2 and 8 sweeps: $cc")
    val sp = sizes(k => Graph.sssp(nodes(n), ce, 0L, k))
    assert(sp(0) == sp(1), s"SSSP plan nodes at 2 and 8 sweeps: $sp")
  }

  test("Rounds.releaseAll: no held state is still stored after the loop ends") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    val rounds = new Graph.Rounds(spark.range(100).toDF("id"))
    val states = (1 to 3).map { _ =>
      assert(rounds.state.count() == 100) // the job that reads each state
      rounds.advance(_.select((col("id") + 1).as("id")))
    }
    val held = states.takeRight(2).map(rows)
    assert(rows(states.head).getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(held.forall(r => spark.sparkContext.getPersistentRDDs.contains(r.id)))
    rounds.releaseAll()
    assert(held.forall(r => !spark.sparkContext.getPersistentRDDs.contains(r.id) &&
      r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE))
  }

  test("pointer-doubling CC agrees with converged one-hop CC") {
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val ns = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("node")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    val slow = toMap(Graph.connectedComponents(ns, und, 3))
    val fast = toMap(Graph.connectedComponentsFast(ns, und, 2))
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("CC shuffle-join label path is bit-identical to broadcast (both variants)") {
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val ns = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("node")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    assert(toMap(Graph.connectedComponents(ns, und, 2, broadcastLabels = true))
      == toMap(Graph.connectedComponents(ns, und, 2, broadcastLabels = false)))
    assert(
      toMap(Graph.connectedComponentsFast(ns, und, 2, broadcastLabels = true))
        == toMap(Graph.connectedComponentsFast(ns, und, 2, broadcastLabels = false)))
  }

  test("pointer doubling converges in O(log diameter) on a long chain") {
    // 33-node path with ids sorted along it: one-hop propagation needs
    // 32 sweeps; the doubling hop at least doubles label reach per
    // round only because ids increase along the path (with the minimum
    // id mid-path or shuffled ids it is far from log-many rounds)
    val n = 33
    val und = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val ns = (0L until n.toLong).toDF("node")
    def allZero(df: org.apache.spark.sql.DataFrame) = df.collect()
      .forall(_.getAs[Long]("comp") == 0L)
    assert(!allZero(Graph.connectedComponents(ns, und, 5)),
      "one-hop propagation cannot cover a 32-hop chain in 5 sweeps")
    assert(allZero(Graph.connectedComponentsFast(ns, und, 5)),
      "5 doubling rounds must cover a 32-hop chain (reach >= 2^5)")
  }

  /** weighted directed edges, like costedTradeEdges emits */
  private def cedges(e: Seq[(Long, Long, Long)]) =
    e.toDF("src", "dst", "cost")

  private def distMap(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => r.getAs[Long]("node") ->
      Option(r.getAs[java.lang.Long]("dist")).map(_.toLong)).toMap

  test("sssp: chain distances, one relaxation per sweep, isolate stays NULL") {
    // 0 -5-> 1 -5-> 2 -5-> 3, node 9 unreachable
    val ch = cedges(Seq((0L, 1L, 5L), (1L, 2L, 5L), (2L, 3L, 5L)))
    val ns = Seq(0L, 1L, 2L, 3L, 9L).toDF("node")
    val one = distMap(Graph.sssp(ns, ch, 0L, sweeps = 1))
    assert(one == Map(0L -> Some(0L), 1L -> Some(5L), 2L -> None,
      3L -> None, 9L -> None), s"one sweep = one hop: $one")
    val three = distMap(Graph.sssp(ns, ch, 0L, sweeps = 3))
    assert(three == Map(0L -> Some(0L), 1L -> Some(5L), 2L -> Some(10L),
      3L -> Some(15L), 9L -> None), three.toString)
  }

  test("sssp: cheaper two-hop path beats the direct edge") {
    // direct 0->2 costs 100; via 1 costs 3+4=7
    val g = cedges(Seq((0L, 2L, 100L), (0L, 1L, 3L), (1L, 2L, 4L)))
    val ns = Seq(0L, 1L, 2L).toDF("node")
    // after sweep 1 the direct edge wins (two-hop path not yet relaxed)
    assert(distMap(Graph.sssp(ns, g, 0L, 1))(2L) == Some(100L))
    assert(distMap(Graph.sssp(ns, g, 0L, 2))(2L) == Some(7L),
      "sweep 2 must relax the cheaper two-hop route")
  }

  test("sssp: shuffle-join dist path is bit-identical to broadcast") {
    val g = cedges(Seq((0L, 2L, 100L), (0L, 1L, 3L), (1L, 2L, 4L),
      (2L, 3L, 1L), (1L, 3L, 50L)))
    val ns = Seq(0L, 1L, 2L, 3L, 9L).toDF("node")
    assert(distMap(Graph.sssp(ns, g, 0L, 3, broadcastDist = true))
      == distMap(Graph.sssp(ns, g, 0L, 3, broadcastDist = false)))
  }

  private def stageDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = Harness.tempDir("chisq").toString
    rows.map { case (id, lang, source) => (id, "x", lang, source, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("chi-square: independent grid scores exactly 0") {
    // every (lang, source) cell = 5 -> obs == exp everywhere
    val rows = for {
      l <- Seq("a", "b"); s <- Seq("x", "y"); i <- 0 until 5
    } yield (s"$l$s$i".hashCode.toLong, l, s)
    val out = SparkEntry.queries("q120_chi_square")(spark, stageDocs(rows))
      .collect()(0)
    assert(out.getAs[Long]("dof") == 1L)
    assert(out.getAs[Double]("chi2") == 0.0)
  }

  test("chi-square: perfect 2x2 association scores N") {
    // lang a only in source x, lang b only in source y -> chi2 = N
    val rows = (0 until 5).map(i => (i.toLong, "a", "x")) ++
      (0 until 5).map(i => (100L + i, "b", "y"))
    val out = SparkEntry.queries("q120_chi_square")(spark, stageDocs(rows))
      .collect()(0)
    assert(out.getAs[Double]("chi2") == 10.0,
      s"perfect association must score N=10, got ${out.getAs[Double]("chi2")}")
  }

  test("label propagation resolves two planted communities") {
    import spark.implicits._
    // two symmetric triangles (internal weight 10) joined by one weak
    // bridge 2<->3 (weight 1): LPA must settle on one label per
    // triangle and never let the bridge merge them
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L))
    val edges = (tri.flatMap { case (a, b) =>
      Seq((a, b, 10L), (b, a, 10L)) } ++ Seq((2L, 3L, 1L), (3L, 2L, 1L)))
      .toDF("src", "dst", "w")
    val nodes = (0L to 5L).toDF("node")
    val got = graft.queries.Graph.labelProp(nodes, edges, iters = 3)
      .collect().map(r =>
        r.getAs[Long]("node") -> r.getAs[Long]("community")).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L),
      s"planted communities not recovered: $got")
  }
}
