package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link analysis over interaction graphs — the classic iterative-compute
  * workload an analytics engine runs beside its aggregations (the
  * reference's Flink sits next to Gelly; Spark's analogue is an iterative
  * DataFrame loop, here with the same two-regime discipline as
  * [[Dedup.connectedComponents]]).
  *
  * All arithmetic is INTEGER-scaled so any engine, any partitioning, any
  * summation order lands on bit-identical ranks (the repo's engine-exact
  * contract): ranks are 10^12-scaled BIGINTs, the damping step is a
  * per-edge BIGINT floor division, and per-node in-flows are integer sums
  * (order-independent). That makes the fixpoint restatable as unrolled
  * SQL CTEs and hash-checkable against DuckDB.
  *
  * One core serves both flavors: uniform PageRank is personalized
  * PageRank whose seed set is every node (restart mass BASE·N div N =
  * BASE), so the recurrence, the regime selection, and the exactness
  * argument are written once.
  */
object Graph {

  /** Rank scale: 1.0 of probability mass = 10^12. The binding constraint
    * is the damping step `r·85`: whatever rank it multiplies must stay
    * ≤ Long.MaxValue/85 or non-ANSI Spark and Scala Long arithmetic wrap
    * silently. Two guards, split by what is knowable when:
    *
    *  - ROUND-1 statically: the personalized seed mass SCALE·N div |S|
    *    (and its SCALE·N intermediate) — [[checkSeedMass]] requires both
    *    products fit before any arithmetic runs.
    *  - LATER ROUNDS at runtime: total mass only leaks (Σrₜ₊₁ ≤
    *    0.15·SCALE·N + 0.85·Σrₜ, contraction toward ≤ SCALE·N), but a hub
    *    can still ABSORB up to the whole total — SCALE·N, which already
    *    exceeds Long.MaxValue/85 past N ≈ 1.08·10^5 at this scale, so a
    *    static worst-case bound would outlaw every graph the distributed
    *    regime exists for. Instead [[checkRankCeiling]] asserts the ACTUAL
    *    per-round max rank, piggybacked on the materialization pass each
    *    round already pays (the distributed loop's per-round `count()`
    *    becomes an `agg(max)`; the in-task loop scans the array it just
    *    filled) — exact, zero false positives, and the overflow surfaces
    *    as a clear error naming the fix (drop the scale a decade) rather
    *    than as silently wrong ranks.
    */
  val PrScale: Long = 1000000000000L

  /** The damping step's hard ceiling: any rank above this wraps in `r·85`. */
  private[graft] val RankCeiling: Long = Long.MaxValue / 85L

  /** Round-1 static overflow guard (see [[PrScale]]): r₀(seed) =
    * SCALE·N div |S| and its SCALE·N intermediate must both fit. Uniform
    * r₀ = SCALE needs nothing (SCALE ≪ ceiling); later rounds of both
    * variants are guarded at runtime by [[checkRankCeiling]].
    */
  private[graft] def checkSeedMass(n: Long, nSeeds: Long): Unit = {
    require(n <= Long.MaxValue / PrScale,
      s"personalizedPageRank: N=$n nodes overflows the SCALE*N seed-mass " +
        s"intermediate at scale $PrScale — drop Graph.PrScale a decade " +
        "per decade of nodes")
    require(PrScale * n / nSeeds <= RankCeiling,
      s"personalizedPageRank: seed restart mass $PrScale * $n / $nSeeds " +
        s"overflows the 85x damping step (N/|S| too large for scale " +
        s"$PrScale) — drop Graph.PrScale or widen the seed set")
  }

  /** Runtime guard for every post-init round (see [[PrScale]]). */
  private[graft] def checkRankCeiling(maxRank: Long, round: Int): Unit =
    require(maxRank <= RankCeiling,
      s"pageRank: max rank $maxRank after round $round exceeds " +
        s"Long.MaxValue/85 — the next damping multiply would wrap. A hub " +
        s"is absorbing too much mass for scale $PrScale; drop " +
        "Graph.PrScale a decade per decade of nodes")

  /** Damped base mass: (1-d)·SCALE with d = 0.85, as exact integers. */
  val PrBase: Long = PrScale * 15L / 100L

  /** PageRank over a directed edge list (`src`, `dst` LONG), `iters`
    * fixed rounds, damping 0.85, NO dangling-mass redistribution (callers
    * passing symmetric edge sets — the bipartite-interaction case — have
    * no dangling nodes by construction; for general graphs the leaked
    * mass only rescales ranks uniformly per round, preserving order).
    *
    * Update rule, all BIGINT:
    *   r₀(v)    = SCALE
    *   rₜ₊₁(v) = BASE + Σ_{u→v} (rₜ(u)·85) div (outdeg(u)·100)
    *
    * Regime selection (the round-8 `connectedComponents` lesson, measured
    * in SCALE.md §8f/§8g for the graph-loop family): the EDGE frame of an
    * interaction graph is the distinct (user,item) pair set — orders of
    * magnitude smaller than the event log it aggregates from — so when
    * one count shows ≤ `singleTaskBytes` of edges (16 B each; the
    * [[Regime]] choice at site `pagerank`) the whole k-round
    * fixpoint runs inside ONE executor task over primitive arrays
    * (`coalesce(1).mapPartitions`, no driver collect): k rounds × 3
    * exchanges of a frame that fits in one task is pure scheduling.
    * Above the limit the distributed loop runs: edges⨝ranks keyed on
    * LONG node ids, per-round in-flow as a map-side-combinable integer
    * sum, each round cut to a leaf by [[Fixpoint.step]] so its plan
    * does not grow with the round count.
    *
    * 100 TB shape: the event log never enters the loop — callers
    * aggregate it to distinct edges first (one shuffle over the raw log);
    * the loop then costs `iters` × (one edge⨝rank shuffle + one dst-keyed
    * agg) over the edge frame only, every key a LONG.
    */
  def pageRank(
      edges: DataFrame, iters: Int = 10,
      singleTaskBytes: Long = Regime.SingleTaskBytes): DataFrame =
    core(edges, None, iters, singleTaskBytes)

  /** Personalized PageRank: identical recurrence, but the restart mass
    * (1−d) injects ONLY at the `seeds` nodes (a one-column LONG frame),
    * each seed receiving BASE·N div |S| so total restart mass matches the
    * uniform variant's; non-seeds start at 0. Ranks then measure
    * proximity to the seed set — the "users like these" recommendation
    * primitive over the same interaction graph.
    *
    *   r₀(v)    = SCALE·N div |S| if v ∈ S else 0
    *   rₜ₊₁(v) = base(v) + Σ_{u→v} (rₜ(u)·85) div (outdeg(u)·100)
    *   base(v)  = BASE·N div |S| if v ∈ S else 0
    *
    * Same two regimes and exactness contract as [[pageRank]]; the seed
    * set ships as a broadcast membership bit on the node frame (or an
    * in-task hash set below the regime limit, where the node count and
    * the normalized mass are ALSO computed in-task — every pre-loop
    * `count()` on a tiny graph is pure scheduling).
    */
  def personalizedPageRank(
      edges: DataFrame, seeds: DataFrame, iters: Int = 10,
      singleTaskBytes: Long = Regime.SingleTaskBytes): DataFrame =
    core(edges, Some(seeds), iters, singleTaskBytes)

  /** Anchor scale for [[hits]] scores: after each half-step the side's
    * total mass renormalizes to ≈ this. With the default 10^12, edge
    * count E must satisfy E·HitsScale ≤ Long.MaxValue (E ≤ ~9·10⁶) —
    * beyond that callers pass a smaller `scale` (decade per decade of
    * edges, the [[PrScale]] rule), asserted before the loop.
    */
  val HitsScale: Long = 1000000000000L

  /** HITS (hubs & authorities) over a bipartite directed edge list
    * (`src`, `dst` LONG) — the second classic link-analysis fixpoint
    * beside [[pageRank]], sharing its regime discipline and its
    * integer-exactness contract: scores are BIGINTs, each half-step is
    * an order-independent integer sum, and renormalization is ONE floor
    * division by the deterministic divisor d = max(total div scale, 1)
    * where total is itself an exact integer — so any partitioning, any
    * engine lands identical scores and the k-round loop restates as
    * unrolled SQL CTEs. (Textbook HITS renormalizes by the L2 norm — a
    * sqrt; the L1-style anchor keeps the same mutual-reinforcement
    * fixpoint direction with zero float arithmetic, the same trade the
    * unigram trainer's hard-EM makes.)
    *
    *   a_{t+1}(v) = (Σ_{u→v} h_t(u))  div d_a,   d_a = max(Σ_v raw div scale, 1)
    *   h_{t+1}(u) = (Σ_{u→v} a_{t+1}(v)) div d_h, analogous
    *
    * Regimes (§8f/§8g; [[Regime]] site `hits`): at or below
    * `singleTaskBytes` of edges the loop runs in ONE task over interned
    * primitive arrays; above it, per-round
    * src-/dst-keyed integer-sum aggregations with each half-step's 1-ROW
    * total collected to the driver (model-sized, the documented
    * bounded-collect contract), each half-step's raw sums cut by
    * [[Fixpoint.step]]. Output: (node, side, score_s) with side 'hub'
    * for the src side and 'auth' for the dst side.
    */
  def hits(edges: DataFrame, iters: Int = 10,
      singleTaskBytes: Long = Regime.SingleTaskBytes,
      scale: Long = HitsScale): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // iters = 0 would diverge between regimes (the single-task path's `a`
    // array is never filled; the distributed path would relabel the hub
    // init frame) — and a 0-round HITS is meaningless anyway
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().cache()
    val nEdges = e.count()
    // 2·scale, not scale: renorm divides by max(tot div scale, 1), so a
    // side's post-renorm TOTAL lands in [scale, 2·scale) (tot div scale = d
    // leaves tot/d just under 2·scale when tot = (d+1)·scale − 1) — a
    // later round's raw sum is bounded by E·max_score ≤ E·2·scale, and
    // guarding only E·scale would let it wrap right at the boundary
    require(nEdges <= Long.MaxValue / (2L * scale),
      s"hits: $nEdges edges overflow scale $scale (raw half-step sums are " +
        "bounded by E * 2 * scale) — drop the scale a decade per decade " +
        "of edges")

    if (Regime.choose("hits", nEdges * e.schema.defaultSize,
        singleTaskBytes)) {
      val out = e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val pairs = it.toArray
        // the two sides intern separately (a raw id may appear on both)
        def interner() = (scala.collection.mutable.LongMap.empty[Int],
          scala.collection.mutable.ArrayBuffer.empty[Long])
        val (sIdx, sIds) = interner(); val (dIdx, dIds) = interner()
        def intern(m: scala.collection.mutable.LongMap[Int],
            ids: scala.collection.mutable.ArrayBuffer[Long], x: Long): Int =
          m.getOrElseUpdate(x, { ids += x; ids.length - 1 })
        val srcI = new Array[Int](pairs.length)
        val dstI = new Array[Int](pairs.length)
        var i = 0
        while (i < pairs.length) {
          srcI(i) = intern(sIdx, sIds, pairs(i)._1)
          dstI(i) = intern(dIdx, dIds, pairs(i)._2)
          i += 1
        }
        var h = Array.fill(sIds.length)(scale)
        val a = new Array[Long](dIds.length)
        var round = 0
        while (round < iters) {
          java.util.Arrays.fill(a, 0L)
          i = 0
          while (i < pairs.length) { a(dstI(i)) += h(srcI(i)); i += 1 }
          var tot = 0L
          i = 0; while (i < a.length) { tot += a(i); i += 1 }
          val dA = math.max(tot / scale, 1L)
          i = 0; while (i < a.length) { a(i) /= dA; i += 1 }
          val hn = new Array[Long](h.length)
          i = 0
          while (i < pairs.length) { hn(srcI(i)) += a(dstI(i)); i += 1 }
          tot = 0L
          i = 0; while (i < hn.length) { tot += hn(i); i += 1 }
          val dH = math.max(tot / scale, 1L)
          i = 0; while (i < hn.length) { hn(i) /= dH; i += 1 }
          h = hn
          round += 1
        }
        sIds.indices.iterator.map(j => (sIds(j), "hub", h(j))) ++
          dIds.indices.iterator.map(j => (dIds(j), "auth", a(j)))
      }.toDF("node", "side", "score_s").localCheckpoint()
      e.unpersist()
      return out
    }

    // one half-step: the side's raw sums are cut, their 1-row total
    // (bounded collect: the divisor must be ONE exact integer, not a
    // per-partition approximation) is the round's action, and the
    // renormalized side is a projection of the cut
    def renorm(prev: DataFrame, raw: DataFrame): DataFrame = {
      val (rc, tot) = Fixpoint.step(prev, raw)(
        _.agg(sum(col("raw"))).first().getLong(0))
      val d = math.max(tot / scale, 1L)
      rc.select(col("node"), expr(s"raw div $d").as("s"))
    }
    var h = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale).as("s")).cache()
    var a: DataFrame = h // replaced in round 1
    var round = 0
    while (round < iters) {
      a = renorm(a, e.join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("s")).as("raw")))
      h = renorm(h, e.join(a.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("s")).as("raw")))
      round += 1
    }
    // h and a read cuts; the edge cache is no longer read
    e.unpersist()
    h.select(col("node"), lit("hub").as("side"), col("s").as("score_s"))
      .unionAll(a.select(col("node"), lit("auth").as("side"),
        col("s").as("score_s")))
  }

  /** Label-propagation community detection over a (symmetric) edge list
    * (`src`, `dst` LONG) — the third classic link fixpoint beside
    * [[pageRank]] and [[hits]], sharing their regime discipline and
    * integer-exactness contract. Labels start as the node's own id;
    * each SYNCHRONOUS round every node adopts the most frequent label
    * among its in-neighbors plus ONE vote for its own current label,
    * ties broken by the SMALLEST label — counts and ids only, so any
    * engine lands identical labels and `iters` rounds restate as
    * unrolled SQL CTEs (count → ROW_NUMBER argmax per node). Fixed
    * round count, no convergence test: synchronous LPA can oscillate on
    * bipartite structure, and a deterministic fixed-round snapshot is
    * exactly reproducible where "until stable" is not.
    *
    * Regimes (§8f/§8g; [[Regime]] site `label_propagation`): at or below
    * `singleTaskBytes` of edges the rounds run in ONE task over a
    * dst-sorted edge array (per-node vote counting in
    * a scratch map, O(E) per round); above it, per-round edge⨝label join,
    * (node, label) count aggregate, and a node-partitioned ROW_NUMBER
    * argmax — every key a LONG, each round cut by [[Fixpoint.step]].
    * Output: (node, community).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      singleTaskBytes: Long = Regime.SingleTaskBytes): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(iters >= 0, s"labelPropagation: iters must be >= 0, got $iters")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().cache()
    val nEdges = e.count()

    if (Regime.choose("label_propagation", nEdges * e.schema.defaultSize,
        singleTaskBytes)) {
      val out = e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val g = interned(it.toArray)
        val (ids, srcI, dstI) = (g.ids, g.src, g.dst)
        // each round walks per-node vote groups
        val order = g.byDst
        var lbl = ids.clone() // label₀ = own id
        var round = 0
        while (round < iters) {
          val next = lbl.clone() // isolated nodes keep their label
          val votes = scala.collection.mutable.LongMap.empty[Int]
          var p = 0
          while (p < order.length) {
            val node = dstI(order(p))
            votes.clear()
            var q = p
            while (q < order.length && dstI(order(q)) == node) {
              val l = lbl(srcI(order(q)))
              votes.update(l, votes.getOrElse(l, 0) + 1)
              q += 1
            }
            val own = lbl(node)
            votes.update(own, votes.getOrElse(own, 0) + 1)
            var bestL = Long.MaxValue; var bestC = -1
            votes.foreach { case (l, c) =>
              if (c > bestC || (c == bestC && l < bestL)) {
                bestC = c; bestL = l
              }
            }
            next(node) = bestL
            p = q
          }
          lbl = next
          round += 1
        }
        ids.indices.iterator.map(j => (ids(j), lbl(j)))
      }.toDF("node", "community").localCheckpoint()
      e.unpersist()
      return out
    }

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    var lbl = nodes.select(col("node"), col("node").as("lbl")).cache()
    var round = 0
    import org.apache.spark.sql.expressions.Window
    while (round < iters) {
      val votes = e.join(lbl.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("lbl"))
        .unionAll(lbl) // one self-vote
      val counted = votes.groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val next = counted
        .withColumn("rn", row_number().over(Window.partitionBy(col("node"))
          .orderBy(col("c").desc, col("lbl").asc)))
        .filter(col("rn") === 1).select(col("node"), col("lbl"))
      lbl = Fixpoint.step(lbl, next)(_.count())._1
      round += 1
    }
    e.unpersist()
    nodes.unpersist()
    lbl.withColumnRenamed("lbl", "community")
  }

  /** Coreness (k-core number) per node over an UNDIRECTED simple edge
    * list given SYMMETRICALLY (`src`, `dst` LONG; both directions
    * present) — the degeneracy decomposition every graph-curation
    * pipeline runs to separate the dense interaction core from the
    * sparse periphery. Computed by the h-index fixpoint (Lü, Zhou,
    * Zhang, Stanley 2016, "The H-index of a network node"): start every
    * node at its degree, then synchronously replace each node's value
    * with the h-index of its neighbors' values (the largest h such that
    * ≥ h neighbors hold value ≥ h); the sequence is monotonically
    * non-increasing and its fixpoint IS the core number. Unlike the
    * textbook min-degree peel this iteration is ORDER-INDEPENDENT —
    * counts and comparisons only, so any partitioning, any engine lands
    * identical values and `iters` rounds restate as unrolled SQL CTEs
    * (neighbor join → per-node DESC rank → MAX(LEAST(rank, value))).
    *
    * `iters` is a fixed round count for determinism; the final round is
    * REQUIRED to be a no-op (asserted), so the output is exactly the
    * coreness, not a truncated iterate — callers raise `iters` when the
    * assert names a deeper graph (convergence takes O(diameter)-ish
    * rounds; ≤ 9 on every fixture probed).
    *
    * Regimes ([[pageRank]] scaladoc; SCALE.md §8f/§8g; [[Regime]] site
    * `coreness`): at or below `singleTaskBytes` of edges the loop runs in
    * ONE task over a dst-sorted edge array (per-node h-index from a sorted neighbor scan, O(E log E)
    * once + O(E) per round); above it, per-round edge⨝value join, a
    * node-partitioned DESC row_number (catalog-keyed window, never a
    * global funnel), and a map-side-combinable MAX aggregate, each round
    * cut by [[Fixpoint.step]] with its changed bit computed in-row.
    * Output: (node, deg, coreness).
    */
  def coreness(edges: DataFrame, iters: Int = 12,
      singleTaskBytes: Long = Regime.SingleTaskBytes): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(iters >= 1, s"coreness: iters must be >= 1, got $iters")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().cache()
    val nEdges = e.count()

    if (Regime.choose("coreness", nEdges * e.schema.defaultSize,
        singleTaskBytes)) {
      val out = e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val g = interned(it.toArray)
        val (ids, srcI, dstI) = (g.ids, g.src, g.dst)
        // each round walks per-node neighbor groups
        val order = g.byDst
        val deg = new Array[Long](ids.length)
        var i = 0; while (i < dstI.length) { deg(dstI(i)) += 1L; i += 1 }
        var c = deg.clone()
        var round = 0
        var converged = false
        while (round < iters && !converged) {
          val next = c.clone() // isolated nodes (none by construction) keep
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          var p = 0
          while (p < order.length) {
            val node = dstI(order(p))
            buf.clear()
            var q = p
            while (q < order.length && dstI(order(q)) == node) {
              buf += c(srcI(order(q))); q += 1
            }
            val vs = buf.toArray
            java.util.Arrays.sort(vs)
            // h-index: vs ascending; h = max over r of min(d-j, vs(j))
            var h = 0L
            var j = vs.length - 1
            var rank = 1L
            while (j >= 0) {
              val m = math.min(rank, vs(j))
              if (m > h) h = m
              j -= 1; rank += 1
            }
            next(node) = h
            p = q
          }
          converged = java.util.Arrays.equals(next, c)
          c = next
          round += 1
        }
        if (!converged) throw new IllegalStateException(
          s"coreness: h-index fixpoint not converged after $iters rounds — " +
            "raise iters (convergence needs O(diameter)-ish rounds)")
        ids.indices.iterator.map(j => (ids(j), deg(j), c(j)))
      }.toDF("node", "deg", "coreness").localCheckpoint()
      e.unpersist()
      return out
    }

    import org.apache.spark.sql.expressions.Window
    val deg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg")).cache()
    var c = deg.select(col("node"), col("deg").as("c")).cache()
    var round = 0
    var stable = false
    while (round < iters && !stable) {
      val nb = e.join(c.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("c"))
      val ranked = nb.withColumn("r",
        row_number().over(Window.partitionBy(col("node"))
          .orderBy(col("c").desc)))
      val next = ranked.groupBy(col("node"))
        .agg(max(least(col("r").cast("long"), col("c"))).as("c"))
      // the changed bit rides the round (the connectedComponents rule): a
      // node-keyed join to the previous values, counted by the action that
      // materializes the cut
      val (cut, changed) = Fixpoint.step(c,
        next.join(c.withColumnRenamed("c", "pc"), "node")
          .select(col("node"), col("c"), (col("c") =!= col("pc")).as("chg")))(
        _.filter(col("chg")).count())
      stable = changed == 0
      c = cut.select(col("node"), col("c"))
      round += 1
    }
    require(stable,
      s"coreness: h-index fixpoint not converged after $iters rounds — " +
        "raise iters (convergence needs O(diameter)-ish rounds)")
    e.unpersist()
    deg.join(c, "node")
      .select(col("node"), col("deg"), col("c").as("coreness"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * UNDIRECTED simple edge list (`a` < `b` LONG, distinct) — the
    * cohesion metric beside [[coreness]]'s density stratification.
    *
    * Degree-ordered orientation ("compact-forward"): each edge points
    * from its (deg, id)-lexicographically smaller endpoint to the
    * larger, which bounds every oriented out-degree by O(√E), so the
    * wedge self-join — THE quadratic zone of naive triangle counting —
    * enumerates at most Σ outdeg² = O(E^1.5) candidate wedges
    * regardless of hub degrees (the standard heavy-hitter-proof bound).
    * Each triangle is then closed by ONE equi-join of the wedge frame
    * against the oriented edge set and counted exactly once.
    *
    * Exactness: counts and one ppm floor division —
    * lcc_ppm = (2·tri·10⁶) div (deg·(deg−1)), 0 below degree 2 — so the
    * whole frame hash-matches any engine. Scale shape: two int-keyed
    * joins (wedge build on the shared endpoint, closure on the (v,w)
    * pair), one explode(3) + count per triangle, one broadcast-sized
    * degree join back; no window, no global funnel. The degree and
    * oriented-edge caches register with `scope`.
    */
  def triangles(und: DataFrame,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val e = und.select(col("a").cast("long"), col("b").cast("long"))
    // node-sized, referenced by both orientation sides and the final join
    val deg = scope.cache(e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val ed = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // orient: u = (deg,id)-smaller endpoint; carry v's key for the wedge order
    val oriented = scope.cache(ed.select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv")))
    val wedges = oriented.alias("x").join(oriented.alias("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("t1"), col("x.v").as("t2"), col("y.v").as("t3"))
    val tris = wedges.join(
      oriented.select(col("u").as("t2"), col("v").as("t3")), Seq("t2", "t3"))
    val perNode = tris
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_ppm",
        when(col("deg") < 2, lit(0L))
          .otherwise(expr("(2 * tri * 1000000) div (deg * (deg - 1))")))
  }

  /** Multi-source BFS hop distances over a directed edge list (`src`,
    * `dst` LONG) from a seed frame (`seed` LONG): every node reachable
    * within `maxHops` hops gets its exact shortest hop count — the
    * reachability/"influence radius" primitive beside [[pageRank]]'s
    * stationary mass (crawl frontiers, blast-radius analysis, cohort
    * expansion). Seeds not present in the graph are ignored (distances
    * are defined on the node set); unreachable nodes are absent from the
    * output, not NULL rows.
    *
    * Exactness: hop counts are integers and min-propagation is
    * order-independent, so any partitioning, any engine lands the
    * identical frame and `maxHops` rounds restate as unrolled SQL CTEs
    * (frontier join → anti-join against the settled set). BFS levels are
    * monotone: a node is settled the first round it is reached, so early
    * exit on an empty frontier is semantically invisible.
    *
    * Regimes ([[pageRank]] scaladoc; SCALE.md §8f/§8g; [[Regime]] site
    * `hop_distances`): at or below `singleTaskBytes` of edges the whole
    * BFS runs in ONE task over interned
    * primitive arrays (the seed set ships as an |S|-sized driver copy,
    * the documented bounded-collect contract); above it, per-round
    * frontier⨝edges equi-join + LONG-keyed anti-join against the settled
    * frame, which each round extends and [[Fixpoint.step]] cuts. Each
    * round shuffles only the FRONTIER (≤ nodes), never the event log the
    * edges were aggregated from. Output: (node, dist).
    */
  def hopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      singleTaskBytes: Long = Regime.SingleTaskBytes): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxHops >= 0, s"hopDistances: maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().cache()
    val nEdges = e.count() // materializes the cache; picks the regime
    val s = seeds.select(col("seed").cast("long")).distinct()

    if (Regime.choose("hop_distances", nEdges * e.schema.defaultSize,
        singleTaskBytes)) {
      // |S|-sized driver copy (bounded-collect contract, as in [[core]])
      val seedSet = s.as[Long].collect().toSet
      val out = e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val g = interned(it.toArray)
        val (ids, srcI, dstI) = (g.ids, g.src, g.dst)
        val n = ids.length
        val dist = Array.fill(n)(Int.MaxValue)
        var j = 0
        while (j < n) { if (seedSet.contains(ids(j))) dist(j) = 0; j += 1 }
        // level-synchronous relaxation: O(E) per hop, monotone levels
        var h = 1
        var changed = true
        while (h <= maxHops && changed) {
          changed = false
          var i = 0
          while (i < srcI.length) {
            if (dist(srcI(i)) == h - 1 && dist(dstI(i)) > h) {
              dist(dstI(i)) = h; changed = true
            }
            i += 1
          }
          h += 1
        }
        ids.indices.iterator.filter(j => dist(j) != Int.MaxValue)
          .map(j => (ids(j), dist(j).toLong))
      }.toDF("node", "dist").localCheckpoint()
      e.unpersist()
      return out
    }

    // Distributed frontier loop over ONE frame: settled = everything
    // reached so far, its frontier = the rows settled exactly last round.
    // Every round reads only the previous round's cut.
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var settled = nodes
      .join(broadcast(s.withColumnRenamed("seed", "node")), Seq("node"))
      .select(col("node"), lit(0L).as("dist")).cache()
    var frontierN = settled.count() // materializes the seed frame
    var h = 1
    while (h <= maxHops && frontierN > 0) {
      val news = e
        .join(settled.filter(col("dist") === h - 1)
          .select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("dist"))
      val (next, n) = Fixpoint.step(settled, settled.unionAll(news))(
        _.filter(col("dist") === h).count())
      settled = next
      frontierN = n
      h += 1
    }
    e.unpersist()
    settled
  }

  /** Multi-source WEIGHTED shortest paths (min-plus / Bellman-Ford) over
    * a directed edge list (`src`, `dst`, `w` LONG, non-negative) from a
    * seed frame (`seed` LONG) — the cost-aware companion of
    * [[hopDistances]] (strongest-connection routing, weighted blast
    * radius). `rounds` synchronous relaxations bound path LENGTH: the
    * output is the exact cheapest cost among paths of ≤ `rounds` edges,
    * which IS the shortest-path cost once `rounds` ≥ the graph's longest
    * shortest path (early exit detects convergence and is semantically
    * invisible — a converged round is a no-op in both regimes).
    *
    * Exactness: integer costs, and min over (sums of integers) is
    * order-independent — any engine, any partitioning lands the
    * identical frame; `rounds` relaxations restate as unrolled SQL CTEs.
    * Overflow guard: maxW·rounds must fit a Long (checked against the
    * edge frame's actual max weight — one agg on the frame the loop
    * reads anyway, the [[checkRankCeiling]] discipline).
    *
    * Regimes ([[pageRank]] scaladoc; [[Regime]] site `min_plus`): single
    * task over interned arrays at or below `singleTaskBytes` of edges —
    * 24 B per (src, dst, w) edge, so the default boundary is about 2.8M
    * edges, not the two-column fixpoints' 4M; above it, per-round
    * edges⨝dist equi-join + dst-keyed MIN aggregate + an in-row
    * changed bit on the merge (the connectedComponents rule — no
    * separate next⨝prev convergence join), each round cut by
    * [[Fixpoint.step]]. Output: (node, cost).
    */
  def minPlusDistances(edges: DataFrame, seeds: DataFrame, rounds: Int,
      singleTaskBytes: Long = Regime.SingleTaskBytes): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(rounds >= 0, s"minPlusDistances: rounds must be >= 0, got $rounds")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("long")).distinct().cache()
    // one pass picks the regime AND carries the overflow/negativity guard
    val stats = e.agg(count(lit(1)), min(col("w")), max(col("w"))).first()
    val nEdges = stats.getLong(0)
    if (nEdges > 0) {
      require(stats.getLong(1) >= 0,
        s"minPlusDistances: negative weight ${stats.getLong(1)} — min-plus " +
          "relaxation requires non-negative costs")
      require(rounds == 0 || stats.getLong(2) <= Long.MaxValue / rounds,
        s"minPlusDistances: max weight ${stats.getLong(2)} over $rounds " +
          "rounds can overflow a Long path cost — rescale the weights")
    }
    val s = seeds.select(col("seed").cast("long")).distinct()

    if (Regime.choose("min_plus", nEdges * e.schema.defaultSize,
        singleTaskBytes)) {
      val seedSet = s.as[Long].collect().toSet // bounded-collect contract
      val out = e.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
        val triples = it.toArray
        val g = interned(triples.length)(triples(_)._1, triples(_)._2)
        val (ids, srcI, dstI) = (g.ids, g.src, g.dst)
        val ws = triples.map(_._3)
        val n = ids.length
        val inf = Long.MaxValue
        var dist = Array.fill(n)(inf)
        var j = 0
        while (j < n) { if (seedSet.contains(ids(j))) dist(j) = 0L; j += 1 }
        var r = 0
        var changed = true
        // SYNCHRONOUS (Jacobi) rounds — read prev, write next — so a fixed
        // round count means the same thing here as in the distributed loop
        // and the unrolled oracle (in-place relaxation would leak multi-hop
        // propagation into one round when the edge order cooperates)
        while (r < rounds && changed) {
          changed = false
          val next = dist.clone()
          var i = 0
          while (i < triples.length) {
            val ds = dist(srcI(i))
            if (ds != inf && ds + ws(i) < next(dstI(i))) {
              next(dstI(i)) = ds + ws(i); changed = true
            }
            i += 1
          }
          dist = next
          r += 1
        }
        ids.indices.iterator.filter(j => dist(j) != inf)
          .map(j => (ids(j), dist(j)))
      }.toDF("node", "cost").localCheckpoint()
      e.unpersist()
      return out
    }

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var dist = nodes
      .join(broadcast(s.withColumnRenamed("seed", "node")), Seq("node"))
      .select(col("node"), lit(0L).as("cost")).cache()
    dist.count()
    var r = 0
    var changed = 1L
    while (r < rounds && changed > 0) {
      val cand = e
        .join(dist.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("cost") + col("w")).as("cand"))
      // full outer merge; the changed bit is computed IN-ROW here
      val merged = dist.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("cost"), lit(Long.MaxValue)),
            coalesce(col("cand"), lit(Long.MaxValue))).as("cost"),
          (col("cost").isNull ||
            (col("cand").isNotNull && col("cand") < col("cost")))
            .cast("long").as("chg"))
      // ONE materialization pass doubles as the convergence count (0 on
      // an empty frame: no seed in the graph)
      val (cut, chg) = Fixpoint.step(dist, merged)(
        _.agg(coalesce(sum(col("chg")), lit(0L))).first().getLong(0))
      changed = chg
      dist = cut.select(col("node"), col("cost"))
      r += 1
    }
    e.unpersist()
    dist
  }

  /** The shared fixpoint. `seeds = None` is the uniform variant — restart
    * mass at every node, which needs no membership structures at all.
    */
  private def core(
      edges: DataFrame, seeds: Option[DataFrame], iters: Int,
      singleTaskBytes: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().cache()
    val nEdges = e.count() // materializes the cache; picks the regime
    val s = seeds.map(_.select(col("seed").cast("long")).distinct())

    if (Regime.choose("pagerank", nEdges * e.schema.defaultSize,
        singleTaskBytes)) {
      // |S|-sized driver copy (None → no set); the node count and the
      // normalized seed mass are computed IN-TASK from the interned graph
      val seedSet = s.map(_.as[Long].collect().toSet)
      val nSeeds = seedSet.map(ss => math.max(ss.size.toLong, 1L))
      val ranks = e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val g = interned(it.toArray)
        val (ids, srcI, dstI) = (g.ids, g.src, g.dst)
        val n = ids.length
        val deg = new Array[Long](n)
        var i = 0
        while (i < srcI.length) { deg(srcI(i)) += 1L; i += 1 }
        val (massOf, baseOf): (Int => Long, Int => Long) = seedSet match {
          case None => (_ => PrScale, _ => PrBase)
          case Some(ss) =>
            checkSeedMass(n.toLong, nSeeds.get)
            val m = PrScale * n / nSeeds.get
            val b = PrBase * n / nSeeds.get
            (j => if (ss.contains(ids(j))) m else 0L,
              j => if (ss.contains(ids(j))) b else 0L)
        }
        val base = Array.tabulate(n)(baseOf)
        var r = Array.tabulate(n)(massOf)
        var round = 0
        while (round < iters) {
          val nxt = base.clone()
          i = 0
          while (i < srcI.length) {
            nxt(dstI(i)) += (r(srcI(i)) * 85L) / (deg(srcI(i)) * 100L)
            i += 1
          }
          r = nxt
          var mx = 0L
          i = 0; while (i < r.length) { if (r(i) > mx) mx = r(i); i += 1 }
          checkRankCeiling(mx, round + 1)
          round += 1
        }
        ids.indices.iterator.map(j => (ids(j), r(j)))
      }.toDF("node", "r").localCheckpoint()
      e.unpersist()
      return ranks
    }

    // Distributed loop. Out-degrees ride the cached edge frame so each
    // round's contribution is computable in-row after ONE rank join; the
    // per-node base lands on the node frame once (broadcast seed join).
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val esd = e.join(deg, "src").cache()
    esd.count() // materialize so the raw edge cache can be released
    e.unpersist()
    val plainNodes = esd.select(col("src").as("node"))
      .union(esd.select(col("dst").as("node"))).distinct()
    val nodes = (s match {
      case None =>
        plainNodes.select(col("node"), lit(PrBase).as("base"),
          lit(PrScale).as("r0"))
      case Some(sd) =>
        val sc = sd.cache()
        val nSeeds = math.max(sc.count(), 1L)
        val nNodes = plainNodes.count()
        checkSeedMass(nNodes, nSeeds)
        val b = PrBase * nNodes / nSeeds
        val m = PrScale * nNodes / nSeeds
        plainNodes
          .join(broadcast(sc.withColumnRenamed("seed", "node"))
            .withColumn("is_seed", lit(true)), Seq("node"), "left")
          .select(col("node"),
            when(col("is_seed"), lit(b)).otherwise(lit(0L)).as("base"),
            when(col("is_seed"), lit(m)).otherwise(lit(0L)).as("r0"))
    }).cache()
    var ranks = nodes.select(col("node"), col("r0").as("r")).cache()
    var round = 0
    while (round < iters) {
      val inflow = esd
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(r * 85) div (deg * 100)")).as("in_r"))
      val next = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (col("base") + coalesce(col("in_r"), lit(0L))).as("r"))
      // the materialization pass doubles as the runtime overflow guard:
      // agg(max) scans (and thus populates) every partition of the cut
      val (cut, mxRow) = Fixpoint.step(ranks, next)(
        _.agg(max(col("r"))).first())
      checkRankCeiling(if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0),
        round + 1)
      ranks = cut
      round += 1
    }
    esd.unpersist()
    nodes.unpersist()
    ranks
  }

  /** A single-task edge array with its node ids numbered densely in
    * first-seen order (each edge's src, then its dst): node `j` is raw id
    * `ids(j)`, edge `i` runs `src(i)` → `dst(i)`.
    */
  private final class Interned(val ids: Array[Long], val src: Array[Int],
      val dst: Array[Int]) {
    /** Edge indices sorted by (dst, src): each node's in-edges adjoin. */
    def byDst: Array[Int] =
      Array.range(0, src.length).sortBy(j => (dst(j), src(j)))
  }

  private def interned(m: Int)(src: Int => Long, dst: Int => Long): Interned = {
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val s = new Array[Int](m)
    val d = new Array[Int](m)
    var i = 0
    while (i < m) { s(i) = id(src(i)); d(i) = id(dst(i)); i += 1 }
    new Interned(ids.toArray, s, d)
  }

  private def interned(pairs: Array[(Long, Long)]): Interned =
    interned(pairs.length)(pairs(_)._1, pairs(_)._2)
}
