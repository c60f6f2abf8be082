package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Corpus-scaled Hamming band plans ([[Dedup.bandPlan]] /
  * [[Dedup.hammingPairsPlanned]], SCALE.md §8e): plan selection by
  * distinct-fingerprint count, and plan-INVARIANCE of the pair output —
  * every plan is a lossless multiplicity-1 candidate generator, so the
  * disjoint 16-bit plan and the super-band plans must emit identical
  * pair sets (the property that lets [[Dedup.hammingPairsAuto]] switch
  * plans without any oracle noticing), in the self-join and in the
  * bipartite probe × build form ([[Dedup.bandedProbe]]).
  */
class BandPlanSpec extends SparkSpec {
  import spark.implicits._

  test("bandPlan reproduces the disjoint 16/16/16/15 split at small F") {
    assert(Dedup.bandPlan(1000L, 3) == Dedup.Bands63.map(Seq(_)))
  }

  test("bandPlan widens to super-bands as F grows (measured crossovers)") {
    // below the measured c=1->2 crossover (~1.4e7 at the derated 64x
    // accidental-cost ratio) the disjoint plan stays optimal — including
    // the probe's 3.6M point where fixed16 measured 2.4x FASTER
    assert(Dedup.bandPlan(3600000L, 3) == Dedup.Bands63.map(Seq(_)))
    // past it: c=2 (k=5 blocks, C(5,2) = 10 bands of >=24 bits)
    val p2 = Dedup.bandPlan(100000000L, 3)
    assert(p2.size == 10 && p2.forall(_.size == 2))
    // c=3 from ~2e9 (k=6, C(6,3) = 20 bands of >=30 bits)
    val p3 = Dedup.bandPlan(10000000000L, 3)
    assert(p3.size == 20 && p3.forall(_.size == 3))
    // the ceiling: huge F caps at c=4 (k=7, C(7,4) = 35 bands)
    val pHuge = Dedup.bandPlan(Long.MaxValue / 4, 3)
    assert(pHuge.size == 35 && pHuge.forall(_.size == 4))
  }

  test("every plan's blocks partition the fingerprint exactly") {
    for (f <- Seq(100L, 1000000L, 100000000L); mh <- Seq(1, 2, 3)) {
      val plan = Dedup.bandPlan(f, mh)
      val blocks = plan.flatten.distinct.sortBy(_._1)
      // contiguous cover of [0, 63), no overlap
      assert(blocks.head._1 == 0 && blocks.map(_._2).sum == 63)
      blocks.sliding(2).foreach {
        case Seq((s1, w1), (s2, _)) => assert(s1 + w1 == s2)
        case _ => ()
      }
      // pigeonhole: k - c >= maxHamming and the plan is ALL c-combinations
      val k = blocks.size
      val c = plan.head.size
      assert(plan.forall(_.size == c) && k - c >= mh)
      def binom(n: Int, r: Int): Int =
        (1 to r).foldLeft(1)((a, i) => a * (n - i + 1) / i)
      assert(plan.size == binom(k, c))
    }
  }

  /** Deterministic 63-bit pseudo-random fingerprints with planted
    * near-pairs: base fps from a splitmix64-style avalanche, plus for
    * every even id a copy at Hamming distance (id mod 4) — distances 0
    * and 2 planted, distance-3 the pigeonhole edge exercised by flips.
    */
  private def fixture = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z ^ (z >>> 31)) & ((1L << 63) - 1)
    }
    val rows = (0L until 200L).map(i => (i, mix(i))) ++
      (0L until 200L by 2).map { i =>
        val flips = (i % 4).toInt // 0 or 2 bits flipped
        val fp = (0 until flips).foldLeft(mix(i))((f, j) =>
          f ^ (1L << ((i / 2 + j * 17) % 63)))
        (i + 1000L, fp)
      }
    rows.toDF("doc_id", "fp")
  }

  /** Brute-force all-pairs reference at tiny N. */
  private def brutePairs(maxHamming: Int) = {
    val f = fixture
    f.alias("a").join(f.alias("b"), $"a.doc_id" < $"b.doc_id")
      .select(least($"a.doc_id", $"b.doc_id").as("doc_a"),
        greatest($"a.doc_id", $"b.doc_id").as("doc_b"),
        bit_count($"a.fp" bitwiseXOR $"b.fp").cast("long").as("hamming"))
      .filter($"hamming" <= maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("super-band plans are lossless and multiplicity-1 (vs brute force)") {
    val expected = brutePairs(3)
    assert(expected.nonEmpty && expected.exists(_._3 == 2L))
    for (c <- 1 to 3) {
      val blocks = c + 3
      val forced = {
        // force blocks-per-band c regardless of F
        val base = 63 / blocks; val rem = 63 % blocks
        val widths = Seq.tabulate(blocks)(i => base + (if (i < rem) 1 else 0))
        val bs = widths.scanLeft(0)(_ + _).zip(widths)
        bs.combinations(c).toSeq
      }
      val got = Dedup.hammingPairsPlanned(fixture, forced, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // multiplicity exactly 1: no pair may appear twice
      assert(got.length == got.toSet.size, s"c=$c emitted duplicates")
      assert(got.toSet == expected, s"c=$c pair set diverged")
    }
  }

  test("bipartite banded probe is lossless and multiplicity-1 (vs brute force)") {
    // probe × build over two overlapping halves of the fixture: every
    // (probe, build) pair within the radius, self pairs included, once
    val probe = fixture.filter($"doc_id" % 3 === 0)
      .select($"doc_id".as("p_id"), $"fp".as("p_fp"))
    val build = fixture.filter($"doc_id" % 3 =!= 1)
      .select($"doc_id".as("b_id"), $"fp".as("b_fp"))
    val expected = probe.crossJoin(build)
      .select($"p_id", $"b_id",
        bit_count($"p_fp" bitwiseXOR $"b_fp").cast("long").as("hamming"))
      .filter($"hamming" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.exists(_._3 == 2L) && expected.exists(r => r._1 != r._2))
    val plans = Seq(
      "disjoint" -> Dedup.Bands63.map(Seq(_)),
      "c=2" -> Dedup.bandBlocks(5, 63).combinations(2).toSeq)
    for ((name, plan) <- plans) {
      val got = Dedup.bandedProbe(probe, "p_fp", build, "b_fp", plan)
        .select($"p_id", $"b_id",
          bit_count($"p_fp" bitwiseXOR $"b_fp").cast("long").as("hamming"))
        .filter($"hamming" <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == got.toSet.size, s"$name emitted duplicates")
      assert(got.toSet == expected, s"$name pair set diverged")
    }
  }

  test("measured model: clustered candidate mass flips the plan, uniform doesn't") {
    // the three clustered-probe operating points (SCALE §8e addendum 2):
    // F = 9e5, exact c=1 candidate mass from hot-band multiplicity
    val c1 = Dedup.Bands63.map(Seq(_))
    // h = 20k hot (2.2%): near-tie, model stays on the cheaper-replication c=1
    assert(Dedup.bandPlanMeasured(900000L, 284281684L, 3) == c1)
    // h = 40k (4.4%): c=2 measured 2x faster — model must switch
    val p40 = Dedup.bandPlanMeasured(900000L, 1043524993L, 3)
    assert(p40.size == 10 && p40.forall(_.size == 2))
    // h = 80k (8.9%): c=2 measured 4.2x faster
    val p80 = Dedup.bandPlanMeasured(900000L, 4080876359L, 3)
    assert(p80.size == 10 && p80.forall(_.size == 2))
    // uniform mass at the same F (birthday ≈ exact): stays c=1, same as
    // the estimate-only form — skew 1 reproduces the unmeasured model
    val birthday1 = 4.0 * 9e5 * 9e5 / math.pow(2, 16)
    assert(Dedup.bandPlanMeasured(900000L, birthday1.toLong, 3) == c1)
    assert(Dedup.bandPlan(900000L, 3) == c1)
  }

  test("hammingPairsAuto matches the explicit Bands63 call on the fixture") {
    val auto = Dedup.hammingPairsAuto(fixture, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fixed = Dedup.hammingPairs(fixture, Dedup.Bands63, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == fixed && auto == brutePairs(3))
  }
}
