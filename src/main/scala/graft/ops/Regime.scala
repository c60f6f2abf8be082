package graft.ops

/** The one place a site picks its regime by input size, and the record of
  * what it picked. Small inputs lose more to per-job coordination than
  * they gain from spreading the work (Drizzle, SOSP 2017), so every
  * adaptive site has a small-input regime — one task, a broadcast, a
  * short-circuit, a spread — and a scale regime:
  *
  *  - the graph fixpoints ([[Graph]]) and the union-find
  *    ([[Dedup.connectedComponents]]): one task below [[SingleTaskBytes]]
  *    of edges;
  *  - the LSH candidate join ([[Similarity.lshTopK]],
  *    [[Similarity.nearDupPairsBlocked]]): broadcast the bucketed corpus
  *    below [[LshBroadcastBytes]];
  *  - [[Dedup.hammingPairsAuto]]: the disjoint band plan with no model
  *    jobs below [[HammingShortCircuitBytes]] of fingerprints;
  *  - the spread before a narrow vector scan: compares partition counts,
  *    not bytes.
  *
  * Sizes are rows × row width, from a count the site runs anyway, so a
  * choice costs no Spark job. Each choice is recorded with its inputs:
  * [[last]] per site for specs, [[stats]] counters for tools.
  */
object Regime {

  /** One decision; `small` = the small-input regime ran. */
  final case class Choice(site: String, size: Long, limit: Long,
      small: Boolean)

  /** Decisions per site, by regime. */
  final case class Stats(small: Long, large: Long)

  /** Edge frames at or below this run their fixpoint in one task: 4M
    * two-long edges (16 B each), about 2.8M min-plus (src, dst, w) edges
    * (24 B). The bound is the task's memory, not speed (SCALE.md §8f: one
    * task beat the distributed loop at every probed size through 16M).
    */
  val SingleTaskBytes: Long = 64L << 20

  /** Bucketed corpora at or below this broadcast into the LSH candidate
    * join: 8 B per dimension, so 1M rows of 64-dim vectors — well under
    * Spark's 8 GB broadcast cap.
    */
  val LshBroadcastBytes: Long = 512L << 20

  /** Fingerprint frames at or below this skip the band-plan model jobs:
    * 16384 (doc_id, fp) rows of 16 B.
    */
  val HammingShortCircuitBytes: Long = 256L << 10

  // guarded by `this`
  private val lastBySite = scala.collection.mutable.Map.empty[String, Choice]
  private val counts = scala.collection.mutable.Map.empty[String, Stats]

  /** True (the small-input regime) when `size <= limit`; records the
    * choice either way.
    */
  def choose(site: String, size: Long, limit: Long): Boolean = {
    val small = size <= limit
    synchronized {
      lastBySite(site) = Choice(site, size, limit, small)
      val s = counts.getOrElse(site, Stats(0, 0))
      counts(site) =
        if (small) s.copy(small = s.small + 1) else s.copy(large = s.large + 1)
    }
    small
  }

  /** The latest choice at `site`, if it has decided at all. */
  def last(site: String): Option[Choice] = synchronized(lastBySite.get(site))

  /** Counters per site so far. */
  def stats: Map[String, Stats] = synchronized(counts.toMap)
}
