package graft

import org.apache.spark.sql.functions._

/** PageRank: hand-computed recurrence values, regime equivalence (the
  * single-task fixpoint and the distributed loop must land bit-identical
  * BIGINT ranks on the same graph), and the mass-accounting invariant the
  * integer recurrence preserves.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.{Graph, Regime}
  import org.apache.spark.sql.DataFrame

  /** `f`'s frame and whether `site` chose the single-task regime for it
    * (both regimes land the same output, so only the record tells).
    */
  private def regime(site: String)(f: => DataFrame): (DataFrame, Boolean) = {
    val before = Regime.stats.get(site)
    val out = f
    assert(Regime.stats.get(site) != before, s"$site chose no regime")
    (out, Regime.last(site).get.small)
  }

  private def refRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    var r = nodes.map(_ -> Graph.PrScale).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _) => (r(s) * 85L) / (deg(s) * 100L) }.sum
      }
      r = nodes.map(n => n -> (Graph.PrBase + in.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("single-task path matches the reference recurrence on a hand graph") {
    // two users (0,2), two items (1,3): u0 touches both items, u2 only item 1
    val edges = Seq((0L, 1L), (0L, 3L), (2L, 1L))
    val sym = edges ++ edges.map(_.swap)
    val (df, singleTask) = regime("pagerank")(Graph.pageRank(
      sym.toDF("src", "dst"), iters = 10))
    assert(singleTask)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refRanks(sym, 10))
    // item 1 (two in-edges) must outrank item 3 (one)
    assert(got(1L) > got(3L))
  }

  test("distributed loop lands bit-identical ranks to the single-task path") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(120) {
      (rnd.nextInt(20).toLong * 2, rnd.nextInt(15).toLong * 2 + 1)
    }.distinct
    val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val (one, p1) = regime("pagerank")(Graph.pageRank(sym, iters = 10))
    val (dist, p2) = regime("pagerank")(Graph.pageRank(
      sym, iters = 10, singleTaskBytes = 0L))
    assert(p1 && !p2)
    val a = one.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a == refRanks(edges ++ edges.map(_.swap), 10))
    // the limit is bytes: E two-long edges are 16·E, inclusive
    val bytes = 16L * 2 * edges.size
    val (_, atLimit) = regime("pagerank")(Graph.pageRank(
      sym, iters = 10, singleTaskBytes = bytes))
    assert(atLimit && Regime.last("pagerank").get.size == bytes)
    val (_, belowLimit) = regime("pagerank")(Graph.pageRank(
      sym, iters = 10, singleTaskBytes = bytes - 1))
    assert(!belowLimit)
  }

  test("personalized pagerank: regimes agree; proximity to seeds orders ranks") {
    // chain 0-1-2-3-4-5 (symmetric): seed at node 0 → rank decays with
    // distance from the seed
    val chain = (0L to 4L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val seeds = Seq(0L).toDF("seed")
    val one = Graph.personalizedPageRank(chain.toDF("src", "dst"), seeds, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Graph.personalizedPageRank(chain.toDF("src", "dst"), seeds, 10,
        singleTaskBytes = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == dist)
    // monotone decay along the chain away from the seed
    assert(one(0L) > one(1L) && one(1L) > one(2L) && one(2L) > one(3L))
    // non-seed restart mass is zero: far nodes hold only flowed-in mass
    assert(one(5L) > 0L && one(5L) < one(0L) / 4)
  }

  private def refHits(edges: Seq[(Long, Long)], iters: Int,
      scale: Long): (Map[Long, Long], Map[Long, Long]) = {
    val es = edges.distinct
    val srcs = es.map(_._1).distinct
    val dsts = es.map(_._2).distinct
    var h = srcs.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val araw = dsts.map(d =>
        d -> es.filter(_._2 == d).map(e => h(e._1)).sum).toMap
      val dA = math.max(araw.values.sum / scale, 1L)
      a = araw.map { case (k, v) => k -> v / dA }
      val hraw = srcs.map(s =>
        s -> es.filter(_._1 == s).map(e => a(e._2)).sum).toMap
      val dH = math.max(hraw.values.sum / scale, 1L)
      h = hraw.map { case (k, v) => k -> v / dH }
    }
    (h, a)
  }

  test("hits: reference recurrence + regime equivalence on a bipartite graph") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(150) {
      (rnd.nextInt(20).toLong, 100L + rnd.nextInt(15))
    }.distinct
    val df = edges.toDF("src", "dst")
    val (one, p1) = regime("hits")(Graph.hits(df, iters = 10))
    val (dist, p2) = regime("hits")(Graph.hits(df, iters = 10,
      singleTaskBytes = 0L))
    assert(p1 && !p2)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val a = toMap(one); val b = toMap(dist)
    assert(a == b)
    val (refH, refA) = refHits(edges, 10, Graph.HitsScale)
    assert(refH.map { case (k, v) => (k, "hub") -> v } ++
      refA.map { case (k, v) => (k, "auth") -> v } == a)
  }

  test("hits rejects iters = 0 — the regimes would diverge on it") {
    intercept[IllegalArgumentException] {
      Graph.hits(Seq((0L, 1L)).toDF("src", "dst"), iters = 0)
    }
  }

  test("hits overflow guard bounds post-renorm totals (2x scale, not scale)") {
    // renorm leaves a side's total just under 2*scale, so E*scale alone is
    // not safe — the guard must reject E > Long.MaxValue/(2*scale)
    val ex = intercept[IllegalArgumentException] {
      Graph.hits(Seq((0L, 1L), (2L, 3L)).toDF("src", "dst"),
        iters = 1, scale = Long.MaxValue / 3L)
    }
    assert(ex.getMessage.contains("2 * scale"))
  }

  test("checkSeedMass rejects seed concentration that would wrap round 1") {
    // N over Long.MaxValue/SCALE: the SCALE*N intermediate itself wraps
    intercept[IllegalArgumentException](Graph.checkSeedMass(10000000L, 1L))
    // inside both limits: fine (SCALE*1e5 = 1e17 < Long.MaxValue/85)
    Graph.checkSeedMass(100000L, 1L)
  }

  test("rank ceiling guard fires before a hub rank wraps, both regimes") {
    // star: 140k leaves all pointing at node 0 — after round 1 the hub
    // holds 140000 * floor(0.85e12) = 1.19e17 > Long.MaxValue/85, so the
    // NEXT damping multiply would wrap; the guard must fire instead of
    // letting round 2 produce silently-wrapped ranks
    val star = spark.range(1L, 140001L)
      .selectExpr("id as src", "cast(0 as long) as dst")
    val exOne = intercept[Exception] {
      Graph.pageRank(star, iters = 2)
    }
    assert(exOne.getMessage.contains("damping multiply would wrap") ||
      Option(exOne.getCause).exists(
        _.getMessage.contains("damping multiply would wrap")))
    val exDist = intercept[Exception] {
      Graph.pageRank(star, iters = 2, singleTaskBytes = 0L)
    }
    assert(exDist.getMessage.contains("damping multiply would wrap") ||
      Option(exDist.getCause).exists(
        _.getMessage.contains("damping multiply would wrap")))
  }

  private def refLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lbl = nodes.map { v =>
        val votes = es.filter(_._2 == v).map(e => lbl(e._1)) :+ lbl(v)
        val counts = votes.groupBy(identity).map { case (l, g) => l -> g.size }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lbl
  }

  test("label propagation: reference recurrence, regimes agree, cliques found") {
    // two 4-cliques bridged by one symmetric edge
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((3L, 10L), (10L, 3L))).distinct
    val df = edges.toDF("src", "dst")
    val (one, p1) = regime("label_propagation")(
      Graph.labelPropagation(df, iters = 5))
    val (dist, p2) = regime("label_propagation")(
      Graph.labelPropagation(df, iters = 5, singleTaskBytes = 0L))
    assert(p1 && !p2)
    val a = one.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a == refLpa(edges, 5))
    // the cliques resolve to one community each, and they differ
    assert(Seq(1L, 2L, 3L).forall(n => a(n) == a(0L)))
    assert(Seq(12L, 13L).forall(n => a(n) == a(11L)))
    assert(a(0L) != a(11L))
    // iters = 0: every node keeps its own id, both regimes
    val z1 = Graph.labelPropagation(df, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val z2 = Graph.labelPropagation(df, iters = 0, singleTaskBytes = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(z1 == z2 && z1.forall { case (n, c) => n == c })
  }

  /** True coreness via the textbook min-degree peel (order-independent
    * RESULT even though the peel itself is sequential).
    */
  private def refCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.distinct.groupBy(_._1)
      .map { case (s, g) => s -> g.map(_._2).toSet }
    val deg = scala.collection.mutable.Map.empty[Long, Int]
    adj.foreach { case (v, ns) => deg(v) = ns.size }
    val alive = scala.collection.mutable.Set(adj.keys.toSeq: _*)
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (alive.nonEmpty) {
      val v = alive.minBy(x => (deg(x), x))
      k = math.max(k, deg(v).toLong)
      core(v) = k
      alive -= v
      adj(v).foreach(w => if (alive(w)) deg(w) -= 1)
    }
    core.toMap
  }

  test("coreness: h-index fixpoint equals the min-degree peel, both regimes") {
    // K5 clique (core 4) + a pendant path 100-101-102 off node 0
    // (cores 1) + a K3 hung off node 1 (core 2 for the two new nodes)
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L, 4L)) ++
      Seq((0L, 100L), (100L, 0L), (100L, 101L), (101L, 100L),
        (101L, 102L), (102L, 101L)) ++
      clique(Seq(1L, 200L, 201L))).distinct
    val df = edges.toDF("src", "dst")
    val (one, p1) = regime("coreness")(Graph.coreness(df, iters = 12))
    val (dist, p2) = regime("coreness")(Graph.coreness(df, iters = 12,
      singleTaskBytes = 0L))
    assert(p1 && !p2)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = toMap(one); val b = toMap(dist)
    assert(a == b)
    val ref = refCoreness(edges)
    assert(a.view.mapValues(_._2).toMap == ref)
    // spot-check the strata: clique core 4, K3 members 2, path tail 1
    assert(a(2L)._2 == 4L && a(200L)._2 == 2L && a(102L)._2 == 1L)
    // deg column is the plain degree
    assert(a(0L)._1 == 5L && a(102L)._1 == 1L)
  }

  test("coreness refuses an unconverged round budget instead of truncating") {
    // a 12-node PATH needs ~length/2 h-index rounds (the endpoint 1s walk
    // inward one step per round); iters = 1 cannot converge. (A cycle
    // would be a bad case here: all degrees 2 is already the fixpoint.)
    val cyc = (0L until 11L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val ex1 = intercept[Exception] {
      Graph.coreness(cyc.toDF("src", "dst"), iters = 1).collect()
    }
    def msg(e: Throwable) =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg(ex1).contains("not converged"))
    val ex2 = intercept[Exception] {
      Graph.coreness(cyc.toDF("src", "dst"), iters = 1,
        singleTaskBytes = 0L).collect()
    }
    assert(msg(ex2).contains("not converged"))
  }

  /** Brute-force triangle enumeration over undirected (a < b) pairs. */
  private def refTriangles(und: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = und.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def has(x: Long, y: Long) = es((math.min(x, y), math.max(x, y)))
    val tri = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      if has(nodes(i), nodes(j)) && has(nodes(j), nodes(k)) &&
        has(nodes(i), nodes(k))
    } {
      tri(nodes(i)) += 1; tri(nodes(j)) += 1; tri(nodes(k)) += 1
    }
    tri.toMap.withDefaultValue(0L)
  }

  test("triangles: oriented wedge count matches brute force; lcc exact") {
    // K4 (every node: 3 triangles, lcc 1.0) + square 10-11-12-13 (no
    // triangles) + a pendant edge (deg-1 node: lcc 0 by convention)
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L), (0L, 20L))
    val got = Graph.triangles(und.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val ref = refTriangles(und)
    assert(got.view.mapValues(_._2).toMap ==
      got.keys.map(n => n -> ref(n)).toMap)
    assert(got(1L) == ((3L, 3L, 1000000L))) // K4 interior
    assert(got(0L) == ((4L, 3L, 500000L))) // 3 tri of C(4,2)=6 wedges
    assert(got(10L)._2 == 0L && got(10L)._3 == 0L) // square: no triangles
    assert(got(20L) == ((1L, 0L, 0L))) // deg-1 convention
  }

  test("triangles: random graph matches brute force exactly") {
    val rnd = new scala.util.Random(23)
    val und = Seq.fill(200) {
      val a = rnd.nextInt(25).toLong; val b = rnd.nextInt(25).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val got = Graph.triangles(und.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ref = refTriangles(und)
    assert(got == got.keys.map(n => n -> ref(n)).toMap)
  }

  test("hopDistances: BFS levels on a hand graph; regimes agree; ghosts ignored") {
    // path 0-1-2-3-4-5 (symmetric) plus a disconnected edge 10-11; seed 99
    // is not a graph node and must be silently ignored
    val chain = (0L to 4L).flatMap(i => Seq((i, i + 1), (i + 1, i))) ++
      Seq((10L, 11L), (11L, 10L))
    val edges = chain.toDF("src", "dst")
    val seeds = Seq(0L, 99L).toDF("seed")
    val (one, p1) = regime("hop_distances")(
      Graph.hopDistances(edges, seeds, maxHops = 3))
    val (dist, p2) = regime("hop_distances")(
      Graph.hopDistances(edges, seeds, maxHops = 3, singleTaskBytes = 0L))
    assert(p1 && !p2)
    val a = one.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    // 4,5 are beyond maxHops; 10,11 unreachable — absent, never NULL rows
    assert(a == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // maxHops past the eccentricity: early exit must equal the exact run
    val full = Graph.hopDistances(edges, Seq(0L).toDF("seed"), maxHops = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 5L))
    val full2 = Graph.hopDistances(edges, Seq(0L).toDF("seed"), maxHops = 50,
      singleTaskBytes = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full2 == full)
  }

  test("hopDistances: random graph matches a reference BFS, both regimes") {
    val rnd = new scala.util.Random(31)
    val es = Seq.fill(150) {
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
    }.filter(e => e._1 != e._2).distinct
    val seeds = Seq(1L, 4L, 7L)
    def refBfs(maxHops: Int): Map[Long, Long] = {
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.toSet
      val adj = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
      var dist = seeds.filter(nodes.contains).map(_ -> 0L).toMap
      var frontier = dist.keySet
      var h = 1L
      while (h <= maxHops && frontier.nonEmpty) {
        val nxt = frontier.flatMap(n => adj.getOrElse(n, Nil))
          .diff(dist.keySet)
        dist = dist ++ nxt.map(_ -> h)
        frontier = nxt
        h += 1
      }
      dist
    }
    for (hops <- Seq(0, 2, 5)) {
      val (one, p1) = regime("hop_distances")(Graph.hopDistances(
        es.toDF("src", "dst"), seeds.toDF("seed"), maxHops = hops))
      val (dist, p2) = regime("hop_distances")(Graph.hopDistances(
        es.toDF("src", "dst"), seeds.toDF("seed"), maxHops = hops,
        singleTaskBytes = 0L))
      assert(p1 && !p2)
      val a = one.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"regimes diverge at maxHops=$hops")
      assert(a == refBfs(hops), s"BFS reference mismatch at maxHops=$hops")
    }
  }

  test("minPlusDistances: Bellman-Ford reference, regimes agree, guards fire") {
    val rnd = new scala.util.Random(41)
    val es = Seq.fill(150) {
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        (1 + rnd.nextInt(9)).toLong)
    }.filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq // one weight per edge
    val seeds = Seq(0L, 3L)
    def refBf(rounds: Int): Map[Long, Long] = {
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.toSet
      var d = seeds.filter(nodes.contains).map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val relax = es.flatMap { case (s, t, w) =>
          d.get(s).map(c => t -> (c + w))
        }.groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).min }
        d = (d.keySet ++ relax.keySet).map { n =>
          n -> math.min(d.getOrElse(n, Long.MaxValue),
            relax.getOrElse(n, Long.MaxValue))
        }.toMap
      }
      d
    }
    for (rounds <- Seq(0, 1, 3, 8)) {
      val (one, p1) = regime("min_plus")(Graph.minPlusDistances(
        es.toDF("src", "dst", "w"), seeds.toDF("seed"), rounds))
      val (dist, p2) = regime("min_plus")(Graph.minPlusDistances(
        es.toDF("src", "dst", "w"), seeds.toDF("seed"), rounds,
        singleTaskBytes = 0L))
      assert(p1 && !p2)
      val a = one.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"regimes diverge at rounds=$rounds")
      assert(a == refBf(rounds), s"Bellman-Ford mismatch at rounds=$rounds")
    }
    // a weighted detour must beat a heavy direct edge somewhere in the
    // fixture family: cheap 2-edge path 0->9->8 (1+1) under direct 0->8 (9)
    val hand = Seq((0L, 8L, 9L), (0L, 9L, 1L), (9L, 8L, 1L))
    val got = Graph.minPlusDistances(
        hand.toDF("src", "dst", "w"), Seq(0L).toDF("seed"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 8L -> 2L, 9L -> 1L))
    // guards: negative weights and overflow-capable weights are rejected
    intercept[IllegalArgumentException] {
      Graph.minPlusDistances(Seq((0L, 1L, -1L)).toDF("src", "dst", "w"),
        Seq(0L).toDF("seed"), rounds = 2)
    }
    intercept[IllegalArgumentException] {
      Graph.minPlusDistances(
        Seq((0L, 1L, Long.MaxValue / 2)).toDF("src", "dst", "w"),
        Seq(0L).toDF("seed"), rounds = 3)
    }
  }

  test("mass accounting: total rank stays within floor-loss of N*scale") {
    // each round redistributes total mass N·S: base injects 0.15·N·S and
    // damping passes ≤ 0.85·N·S; floor division only ever LOSES mass, at
    // most 1 unit per (edge, round) — so the fixpoint total is bounded
    // above by N·S and below by N·S minus the loss budget
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 3L), (3L, 0L), (2L, 1L), (1L, 2L))
    val df = Graph.pageRank(edges.toDF("src", "dst"), 10)
    val ranks = df.collect().map(_.getLong(1))
    val n = ranks.length
    val total = ranks.sum
    assert(total <= n * Graph.PrScale)
    assert(total >= n * Graph.PrScale - 10L * edges.size - 10L * n)
  }
}
