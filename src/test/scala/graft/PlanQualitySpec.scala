package graft

import graft.jobs._
import graft.ops.{CacheScope, Handoff}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._

/** Physical-plan assertions: the properties that make these queries viable
  * at 100 TB are pinned here so a refactor can't silently lose them
  * (filter pushdown to parquet, column pruning, dimension broadcasts,
  * two-phase aggregation).
  */
class PlanQualitySpec extends SparkSpec {

  /** The executed plan string. A plan that is only a scan of an existing
    * RDD or local rows (a checkpointed or collected output) fails: every
    * pin on it would pass whatever the query computes — build such a
    * query's output through [[Handoff.lineage]].
    */
  private def plan(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan
    assert(!bareScan(p), s"pin would read a bare scan — use Handoff.lineage:\n$p")
    p.toString
  }

  private def bareScan(p: SparkPlan): Boolean = p match {
    case _: RDDScanExec | _: LocalTableScanExec => true
    case _: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec |
        _: FilterExec => bareScan(p.children.head)
    case _ => false
  }

  test("Handoff.lineage reads a self-joined cut back to its pipeline") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val cut = CacheScope.scoped { scope =>
      val agg = scope.cache(spark.range(0, 200)
        .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n")))
      Handoff.cut(agg.join(spark.range(0, 5).toDF("k"), "k"))
    } // the cached aggregate is released here; the cut still reads
    val x = cut.as("a").join(cut.as("b"), col("a.k") <= col("b.k"))
    val full = Handoff.lineage(x)
    val p = full.queryExecution.executedPlan match {
      case a: adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(p.collect { case r: RDDScanExec => r }.isEmpty,
      s"lineage still reads the cut:\n$p")
    assert(p.toString.contains("Range"), s"pipeline missing:\n$p")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(full) == rows(x) && rows(x).size == 15)
    val plain = spark.range(0, 10).toDF("k").filter(col("k") > 3)
    assert(Handoff.lineage(plain).queryExecution.analyzed ==
      plain.queryExecution.analyzed, "a frame with no cut changed its plan")
  }

  test("q1: filter pushed to parquet scan, columns pruned") {
    val p = plan(RelationalJobs.q1Pricing(spark, sf("sf0.001")))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filter in:\n$p")
    // only the 7 needed columns reach the scan — never the full 11
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      "scan reads unneeded columns")
  }

  test("q3/q5: dimension sides broadcast, fact table never broadcast") {
    val p3 = plan(RelationalJobs.q3Shipping(spark, sf("sf0.001")))
    assert(p3.contains("BroadcastHashJoin"), "q3 lost its broadcast join")
    val p5 = plan(RelationalJobs.q5LocalSupplier(spark, sf("sf0.001")))
    assert(p5.contains("BroadcastHashJoin"), "q5 lost its broadcast joins")
  }

  test("q7: nation-filtered dimension legs broadcast; filters reach the scans") {
    val p = plan(RelationalJobs.q7VolumeShipping(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), s"q7 lost its broadcast joins:\n$p")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"q7 shipdate filter not pushed to the lineitem scan:\n$p")
  }

  test("q10: global top-20 via TakeOrderedAndProject; return flag pushed down") {
    val p = plan(RelationalJobs.q10ReturnedItems(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"),
      s"q10 lost its per-partition top-k merge:\n$p")
    assert(!p.contains("Window"),
      s"q10 regressed to a global-window rank:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R"),
      s"q10 return-flag filter not pushed to the lineitem scan:\n$p")
  }

  test("q6: all three filters pushed to the parquet scan, no join, no shuffle of rows") {
    val p = plan(RelationalJobs.q6ForecastRevenue(spark, sf("sf0.001")))
    // the plan string abbreviates long PushedFilters lists ("L..."), so
    // pin the date pushdown (visible) + the quantity filter's presence in
    // the scan's data-filter list rather than the truncated literal
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") &&
      p.contains("GreaterThanOrEqual(l_shipdate,1998-01-01"),
      s"q6 filters not pushed to the scan:\n$p")
    assert(p.contains("DataFilters: [isnotnull(l_shipdate"),
      s"q6 scan lost its data filters:\n$p")
    assert(!p.contains("Join"), s"q6 grew a join:\n$p")
    // only the 4 consumed columns reach the scan
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      "q6 scan reads unneeded columns")
  }

  test("q14/q19: part dimension broadcast; fact-side filters pushed") {
    val p14 = plan(RelationalJobs.q14PromoEffect(spark, sf("sf0.001")))
    assert(p14.contains("BroadcastHashJoin"), s"q14 lost its broadcast:\n$p14")
    assert(p14.contains("PushedFilters") && p14.contains("l_shipdate"),
      s"q14 shipdate filter not pushed:\n$p14")
    val p19 = plan(RelationalJobs.q19DiscountedRevenue(spark, sf("sf0.001")))
    assert(p19.contains("BroadcastHashJoin"), s"q19 lost its broadcast:\n$p19")
    // the disjunctive part-side prefilter reaches the part scan (the OR
    // of brand/size branches is part-table-only by construction)
    assert(p19.contains("Brand#13"),
      s"q19 part-side disjunction not at the part scan:\n$p19")
  }

  test("eval_panel_sample: local top-k window keyed by spark_partition_id") {
    // the r4 low-cardinality rule: the heavy window must be keyed by
    // (pid, lang) so its cardinality scales with tasks; the per-lang
    // window then runs only over the <= k*P*L survivors
    val p = plan(TextJobs.evalPanelSample(spark, sf("sf0.001")))
    assert(p.contains("windowspecdefinition(pid#"),
      s"eval_panel_sample lost its pid-keyed local top-k window:\n$p")
  }

  test("q3: global top-10 via TakeOrderedAndProject, no single-partition Window") {
    val p = plan(RelationalJobs.q3Shipping(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"),
      s"q3 lost its per-partition top-k merge:\n$p")
    assert(!p.contains("Window"),
      s"q3 regressed to a global-window rank (single-partition funnel):\n$p")
  }

  test("windowed counts: two-phase hash aggregation (map-side partials)") {
    val p = plan(HotItemsJobs.slidingWindowCounts(spark, sf("sf0.001")))
    val hashAggs = "HashAggregate".r.findAllIn(p).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got:\n$p")
    assert(p.contains("event_type"), "filter column missing")
  }

  test("events scan prunes to the referenced columns only") {
    val p = plan(HotItemsJobs.slidingWindowCounts(spark, sf("sf0.001")))
    assert(!p.contains("user_id") && !p.contains("value"),
      "events scan reads columns the query never uses")
  }

  test("neardup + decontamination plans contain no all-pairs join") {
    val pn = plan(Handoff.lineage(SimilarityJobs.embeddingNeardup(spark, sf("sf0.001"))))
    assert(!pn.contains("BroadcastNestedLoopJoin") && !pn.contains("CartesianProduct"),
      s"embedding_neardup regressed to an all-pairs join:\n$pn")
    val pd = plan(DedupJobs.decontamination(spark, sf("sf0.001")))
    assert(!pd.contains("BroadcastNestedLoopJoin") && !pd.contains("CartesianProduct"),
      s"decontamination candidate stage is not an equi-join:\n$pd")
  }

  test("vocab ranking gets the WindowGroupLimit early cutoff") {
    val p = plan(TextJobs.vocabTopK(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"),
      s"per-lang rank lost its top-k pushdown:\n$p")
    val hashAggs = "HashAggregate".r.findAllIn(p).length
    assert(hashAggs >= 2, "token counting lost map-side partials")
  }

  test("corpus curation: semi-join keepers, no cartesian anywhere") {
    val p = plan(DedupJobs.corpusCuration(spark, sf("sf0.001")))
    assert(p.contains("LeftSemi"), s"keeper filter is not a semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("funnel scans events once and shuffles once") {
    val p = plan(FunnelJobs.funnel(spark, sf("sf0.001")))
    assert("FileScan|Scan parquet".r.findAllIn(p).length == 1,
      s"funnel regressed to multiple event scans:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"funnel shuffles events more than once on user_id:\n$p")
  }

  test("minhash signatures: exactly one exchange between scan and signature agg") {
    // min() is duplicate-insensitive, so the gram lineage must NOT pay a
    // set-semantics distinct (a full shuffle of every gram string). The
    // only exchange is the gram window's doc_id partitioning, which the
    // signature groupBy then reuses — the round-2 regression pinned here.
    import org.apache.spark.sql.functions.col
    val sig = graft.ops.Dedup.minhashSignatures(
      graft.io.Tables.documents(spark, sf("sf0.001")),
      col("doc_id"), col("text"), 8)
    val p = plan(sig)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected 1 exchange in the signature lineage, found $exchanges:\n$p")
  }

  test("candidate verification dedups grams on ints, never shuffles strings") {
    // DedupPipeline.distinctGrams: set semantics come from ONE dedup, on
    // int keys, after hashing, with a map-side partial agg absorbing
    // duplicates before the wire. The round-2 regression was a distinct on
    // (doc_id, gram) STRINGS — pin that no exchange ever partitions on a
    // gram string column again. (AQE hides the cached plan's doc_id
    // clustering behind isFinalPlan=false, so the int dedup may plan a
    // 16-byte-row ENSURE_REQUIREMENTS exchange — that one is acceptable;
    // the string shuffle is not.)
    import org.apache.spark.sql.functions.col
    val pipe = new graft.ops.DedupPipeline(
      graft.io.Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), col("text")))
    try {
      val pd = plan(pipe.distinctGrams)
      assert(!"Exchange hashpartitioning\\([^)]*gram#".r.findFirstIn(pd).isDefined,
        s"distinct-gram dedup shuffles gram strings:\n$pd")
      assert("HashAggregate".r.findAllIn(pd).length >= 2,
        s"int dedup lost its map-side partial aggregate:\n$pd")
    } finally pipe.unpersist()
  }

  test("stratified sample gets the WindowGroupLimit early cutoff") {
    val p = plan(DedupJobs.stratifiedSample(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"),
      s"per-stratum rank lost its top-N pushdown:\n$p")
  }

  test("brute-force ANN broadcasts the query side, not the corpus") {
    val p = plan(SimilarityJobs.annCosineTopK(spark, sf("sf0.001")))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  /** The distributed prefix scan behind every global or per-group rank:
    * range partitioning carries the order, one PrefixScan node runs it,
    * no window is keyed by the group alone, and no single-partition
    * exchange funnels rows through one task — the only ones allowed
    * gather keyless partial aggregates (a corpus count or max that rides
    * to the rows as a 1-row broadcast).
    */
  private def assertPrefixScan(df: DataFrame, group: String*): String = {
    val p = plan(df)
    assert(p.contains("rangepartitioning"),
      s"lost the range partitioning that carries the order:\n$p")
    assert(p.contains("PrefixScan"), s"rank is not a prefix scan:\n$p")
    group.foreach { g =>
      assert(!p.contains(s"windowspecdefinition($g#"),
        s"window keyed by $g alone:\n$p")
    }
    val top = df.queryExecution.executedPlan match {
      case a: adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case x => x
    }
    top.foreach {
      case e: exchange.ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        assert(gathersPartials(e.child),
          s"corpus-wide single-partition funnel appeared:\n$p")
      case _ =>
    }
    p
  }

  private def gathersPartials(p: SparkPlan): Boolean = p match {
    case a: aggregate.BaseAggregateExec =>
      a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.forall(_.mode == Partial)
    case _: WholeStageCodegenExec | _: InputAdapter => gathersPartials(p.children.head)
    case _ => false
  }

  test("doc_packing runs the distributed prefix sum, not a per-lang window") {
    val p = assertPrefixScan(TextJobs.docPacking(spark, sf("sf0.001")), "lang")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental dedup joins across sets on band keys, never all-pairs") {
    val p = plan(DedupJobs.dedupIncremental(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental screen regressed to an all-pairs join:\n$p")
  }

  test("identity compression shuffles int group keys, not gram strings") {
    import org.apache.spark.sql.functions.col
    val p = plan(graft.ops.Dedup.jaccardPairs(
      graft.io.Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), col("text"), col("lang").as("block")),
      2, 0.35))
    assert(!"Exchange hashpartitioning\\([^)]*gram#".r.findFirstIn(p).isDefined,
      s"jaccard lineage shuffles gram strings:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("substring dup rate shuffles int hashes only, nothing quadratic") {
    val p = plan(Handoff.lineage(DedupJobs.substringDupRate(spark, sf("sf0.001"))))
    // frequency is an aggregation, not a pairing: no join of the gram
    // lineage against itself, and no exchange ever carries gram strings
    assert(!"Exchange hashpartitioning\\([^)]*gram#".r.findFirstIn(p).isDefined,
      s"window-hash cascade shuffles gram strings:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"quadratic zone appeared:\n$p")
  }

  test("semantic dedup pairs via an int-cell equi-join, never all-pairs") {
    // the registry query checkpoints its output behind a slim handoff
    // (r15), so the pin reads its lineage
    val p = plan(Handoff.lineage(SimilarityJobs.semanticDedup(spark, sf("sf0.001"))))
    // nested-loop joins in this plan are only the C-bounded broadcast
    // centroid assigns (their build side is the ≤C-row centroid frame —
    // never a data×data product); the count of their STRING occurrences
    // varies with cross-suite cache state, so pin the structure instead:
    // no non-broadcast quadratic node, and the pair stage keyed on the
    // int cell id (a rewrite to a non-equi pair condition loses both)
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast quadratic join appeared:\n$p")
    assert("hashpartitioning\\(cell#".r.findFirstIn(p).isDefined ||
      "Join \\[cell#".r.findFirstIn(p).isDefined,
      s"within-cell pair stage is not an equi-join on the cell id:\n$p")
  }

  test("embedding quantization is a single exchange-free codegen scan") {
    val p = plan(SimilarityJobs.embeddingQuantize(spark, sf("sf0.001")))
    assert(!p.contains("Exchange"),
      s"per-vector manifest should never shuffle:\n$p")
    assert(p.contains("int8_quant_stats"), s"native expression missing:\n$p")
    assert(p.contains("*(1)"), s"quantization fell out of codegen:\n$p")
  }

  test("quality classifier evaluates the model inside the scan, zero exchanges") {
    val p = plan(TextJobs.qualityClassifier(spark, sf("sf0.001")))
    assert(!p.contains("Exchange"),
      s"per-document model score should never shuffle:\n$p")
    assert(p.contains("hashed_linear_score"), s"native expression missing:\n$p")
    assert(p.contains("*(1)"), s"classifier fell out of codegen:\n$p")
  }

  test("composed jaccard fence shuffles int keys only, never all-pairs") {
    val p = plan(Handoff.lineage(DedupJobs.ngramJaccardPrefix(spark, sf("sf0.001"))))
    // both fences (identity compression + df-ordered prefix) are int-keyed:
    // no exchange may carry gram strings, and candidate generation must be
    // the prefix equi-join, never a quadratic fallback
    assert(!"Exchange hashpartitioning\\([^)]*gram#".r.findFirstIn(p).isDefined,
      s"composed jaccard lineage shuffles gram strings:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic zone appeared in the composed plan:\n$p")
  }

  test("whole-stage codegen covers the scan→filter→project pipelines") {
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    val p = plan(TextJobs.textStats(spark, sf("sf0.001")))
    assert(p.contains("*(1)"), s"text stats fell out of codegen:\n$p")
  }

  test("substring dedup clean: int-keyed exchanges, no quadratic zone") {
    val p = plan(DedupJobs.substringDedupClean(spark, sf("sf0.001")))
    // the frequency cascade and the covered-position join key on ints
    // (doc_id, pos, gh1, gh2) — token strings ride as payload but may
    // never be a partitioning key
    assert(!"Exchange hashpartitioning\\([^)]*tok#".r.findFirstIn(p).isDefined,
      s"clean cascade partitions on token strings:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"quadratic zone appeared:\n$p")
  }

  test("PQ coding and ADC search broadcast the codebook, shuffle only ints") {
    val pc = plan(SimilarityJobs.pqCodes(spark, sf("sf0.001")))
    assert(pc.contains("BroadcastHashJoin"), s"codebook not broadcast:\n$pc")
    assert(!"Exchange hashpartitioning\\([^)]*sv#".r.findFirstIn(pc).isDefined,
      s"subvector payload used as an exchange key:\n$pc")
    val pa = plan(SimilarityJobs.pqAdcTopK(spark, sf("sf0.001")))
    assert(pa.contains("BroadcastHashJoin"),
      s"query distance table not broadcast:\n$pa")
    assert(!pa.contains("CartesianProduct") &&
      !pa.contains("BroadcastNestedLoopJoin"),
      s"ADC regressed to an all-pairs join:\n$pa")
  }

  test("event_paths prunes the events scan to the referenced columns") {
    val p = plan(AnalyticsJobs.eventPaths(spark, sf("sf0.001")))
    assert(!p.contains("value#") && !p.contains("props#"),
      s"events scan reads columns event_paths never uses:\n$p")
  }

  test("session_paths: global top-20 via TakeOrderedAndProject, vocab_coverage broadcast") {
    val p = plan(AnalyticsJobs.sessionPaths(spark, sf("sf0.001")))
    assert(p.contains("TakeOrderedAndProject"),
      s"journey top-20 lost its per-partition merge:\n$p")
    val pv = plan(TextJobs.vocabCoverage(spark, sf("sf0.001")))
    assert(pv.contains("TakeOrderedAndProject"),
      s"vocab build lost its per-partition top-V merge:\n$pv")
    assert(pv.contains("BroadcastHashJoin"),
      s"vocab membership join not broadcast:\n$pv")
  }

  test("source_caps: WindowGroupLimit cap, no corpus-wide sort, text never shuffles") {
    val p = plan(DedupJobs.sourceCaps(spark, sf("sf0.001")))
    assert(p.contains("WindowGroupLimit"),
      s"per-cell cap lost its pre-exchange group limit:\n$p")
    assert(!"Exchange hashpartitioning\\([^)]*text#".r.findFirstIn(p).isDefined,
      s"document text used as an exchange key:\n$p")
  }

  test("lm_surprise: model joins are int-keyed, text never shuffles") {
    val p = plan(TextJobs.lmSurprise(spark, sf("sf0.001")))
    // bigram extraction hashes in place; every exchange downstream carries
    // (doc_id, ph, bh) ints — a token/text string key would mean the
    // hashing moved above a shuffle
    assert(!"Exchange hashpartitioning\\([^)]*(text|w|nxt)#".r.findFirstIn(p).isDefined,
      s"LM pipeline shuffles token strings:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LM scoring regressed to an all-pairs join:\n$p")
    // model training + scoring read ONE cached bigram frame
    assert(p.contains("InMemoryTableScan"),
      s"bigram frame not shared between model and scoring:\n$p")
  }

  test("training_order assigns the global sequence without a corpus-wide funnel") {
    assertPrefixScan(DedupJobs.trainingOrder(spark, sf("sf0.001")))
  }

  test("score_calibrate ranks per source without a low-cardinality window") {
    assertPrefixScan(TextJobs.scoreCalibrate(spark, sf("sf0.001")), "source")
  }

  test("sorted_neighborhood ranks the blocking key with one prefix scan") {
    assertPrefixScan(Handoff.lineage(
      DedupJobs.sortedNeighborhood(spark, sf("sf0.001"))))
  }

  test("rfm_segments ranks all three metrics with one prefix scan") {
    val p = assertPrefixScan(AnalyticsJobs.rfmSegments(spark, sf("sf0.001")), "metric")
    assert("PrefixScan".r.findAllIn(p).length == 1,
      s"one scan per metric instead of one for all three:\n$p")
  }

  test("classifier_lift ranks the scored corpus with one prefix scan") {
    assertPrefixScan(TextJobs.classifierLift(spark, sf("sf0.001")))
  }

  // one pin over the three trainers: the merges/vocab queries serve the
  // memoized model as local rows, so each pin reads the training pass the
  // memo collects
  for ((name, tk) <- Seq[(String, TextJobs.Tokenizer[_ <: AnyRef])](
      "bpe_merges: one distributed count, then a narrow single-task trainer" ->
        TextJobs.bpe,
      "wordpiece trainer shares the BPE exchange discipline" -> TextJobs.wordpiece,
      "unigram trainer shares the BPE exchange discipline" -> TextJobs.unigram))
    test(name) {
      val p = plan(TextJobs.training(spark, sf("sf0.001"), tk).toDF())
      // the k merge / EM rounds must not re-introduce per-round
      // exchanges: the only exchanges are the word count's partial/final
      // pair plus the coalesce(1) funnel — regression = exchange count
      // growing with k
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 2,
        s"${tk.key} trainer pays per-round exchanges:\n$p")
    }

  test("dedup_clusters: union-find path leaves the vertex frame unshuffled") {
    // the round-8 regime split: a dup-pair-sized candidate graph resolves
    // in one task and BROADCASTS the (node, root) map back — the
    // corpus-sized vertex frame must see no exchange at all
    val p = plan(DedupJobs.dedupClusters(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"),
      s"cluster map-back is not a broadcast join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"vertex frame shuffles on the union-find path:\n$p")
  }

  test("image_neardup: band joins on ints, no cartesian, no string exchange") {
    val p = plan(Handoff.lineage(
      graft.jobs.MultimodalJobs.imageNeardup(spark, sf("sf0.001"))))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"Hamming LSH regressed to all-pairs:\n$p")
    // every exchange keys on fingerprint/band ints — no text, no binary
    assert(!p.contains("Exchange hashpartitioning(content"),
      s"image payload crossed an exchange:\n$p")
  }
}
