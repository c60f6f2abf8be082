package graft.tools

import graft.ops.Handoff

/** Registry-wide physical-plan audit: one row per registered query with
  * the plan features that matter at 100 TB -- exchange count, broadcasts,
  * codegen spans, and the two all-pairs red flags. `PlanQualitySpec` pins
  * the load-bearing shapes test-by-test; this tool sweeps EVERYTHING so a
  * new query can't quietly ship a cartesian product or a string-keyed
  * shuffle storm. Output: markdown to stdout (checked in as PLANAUDIT.md).
  *
  * Plans are built at the given SF and read before their action runs --
  * the audit reads the statically-planned tree (under AQE, the initial
  * plan). Construction runs as it does for every caller: regime counts,
  * fixpoint loops, memo misses, and the slim-handoff pipelines, whose
  * cuts ([[graft.ops.Handoff.cut]]) execute. Each plan is read through
  * [[graft.ops.Handoff.lineage]], so a handoff query shows the pipeline
  * its cut truncated, not an `ExistingRDD` scan, and the regimes shown
  * are the ones the run picks.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(Harness.cores, Harness.PlanChars)

    val out = new StringBuilder
    def emit(l: String = ""): Unit = { out.append(l).append('\n') }

    def count(p: String, needle: String): Int = needle.r.findAllIn(p).length

    // flags that are DESIGNED, with the reason -- the audit exists to catch
    // new unexplained ones, not to re-litigate reviewed plans
    val centroidCross =
      "CROSSes are the C-bounded centroid-frame broadcasts (per k-means " +
        "assign round) -- C is a model constant, never corpus-sized"
    val knownLegit: Map[String, String] = Map(
      "q11_important_parts" -> ("CROSS is the 1-row threshold aggregate broadcast (tot_i, n_parts) against the " +
        "part-bounded value frame — the scale-invariant HAVING scalar, never corpus-sized"),
      "tfidf_topk" -> "CROSS is the 1-row corpus-size aggregate broadcast (N in the idf ratio)",
      "heavy_hitters" -> "CROSS is the 1-row CMS sketch aggregate broadcast",
      "vocab_coverage" -> "CROSS is the 1-row vocab-array broadcast",
      "ann_cosine_topk" -> "CROSS is the bounded query-side broadcast (brute-force baseline, labeled small-scale)",
      "ann_eval" -> ("CROSSes are its two composed inputs' designed shapes: the truth side is ann_cosine_topk's " +
        "bounded query-side broadcast, the approx side ann_ivf's C-bounded centroid broadcasts; " +
        "the eval itself adds only a (query, neighbor)-keyed left join + a query-keyed agg"),
      "ann_eval_pq" -> ("CROSSes are the composed inputs' designed shapes (ann_eval's annotation): the truth " +
        "side's bounded query broadcast plus ann_ivf_pq_rerank's centroid/codebook broadcasts; the eval layer " +
        "itself is the same keyed left join + query-keyed agg"),
      "knn_classify" -> ("CROSS is the bounded test-half broadcast into the brute-force scorer " +
        "(ann_cosine_topk's shape; the IVF/PQ artifact path is the documented scale swap-in feeding the same vote)"),
      "ann_eval_lsh" -> ("CROSS is the truth side's bounded query-side broadcast (ann_cosine_topk's " +
        "designed shape); the LSH side is bucket equi-joins and the eval adds only a keyed left join + agg"),
      "split_balance" -> ("CROSSes are the 1-row corpus-total broadcast (the mixture_plan pattern) and the " +
        "3-row split-literal x bucket-totals grid — both bounded model-sized frames, never corpus-sized"),
      "rfm_segments" -> ("CROSSes are the 1-row corpus-max-day and 1-row user-count broadcasts (the " +
        "mixture_plan pattern) around one metric-grouped prefix-scan rank (one range exchange ranks " +
        "all three metrics) — every build side is a 1-row aggregate, never corpus-sized"),
      "dedup_cluster_sizes" -> "CROSS is the 1-row family-total aggregate broadcast (the mixture_plan pattern)",
      "classifier_lift" -> ("CROSSes are 1-row model/total frames: the loaded Rocchio weights + midpoint " +
        "theta (quality_from_artifact's documented shape) plus the 1-row n_total/pos_total aggregate " +
        "broadcast into the decile arithmetic — never corpus-sized"),
      "rrf_fusion" -> ("CROSS is the bounded query-side broadcast of the dense list's brute-force baseline " +
        "(ann_cosine_topk's shape; the artifact-served IVF path is the documented scale swap-in); " +
        "the sparse list is an inverted-index equi-join on int token hashes, and the fusion join runs on (queries x depth)-bounded frames"),
      "embedding_neardup" -> "CROSS (if present) is the 1-row plane-matrix broadcast",
      "ann_ivf" -> centroidCross,
      "ann_ivf_trained" -> centroidCross,
      "ann_ivf_from_artifact" -> centroidCross,
      "hard_negatives" -> (centroidCross +
        "; candidate pairs come from the nprobe cell join with the label-mismatch filter ahead of the rank -- never corpus x corpus"),
      "ann_ivf_pq" -> (centroidCross +
        "; the ADC stage joins codes against the broadcast per-query distance table on (query_id, s, code) -- never all-pairs"),
      "ann_ivf_pq_rerank" -> (centroidCross +
        "; exact cosine runs only on the shortlist-bounded ADC candidates (O(queries x shortlist) pairs)"),
      "hard_negatives_from_artifact" -> ("CROSSes are the C-bounded LOADED-centroid broadcast assigns " +
        "(the serve-time cell assignment, same shape as hard_negatives' in-line seeds); " +
        "candidate pairs come from the nprobe cell join with the label-mismatch filter ahead of the rank -- never corpus x corpus"),
      "ann_ivf_pq_from_artifact" -> ("CROSS is the C-bounded LOADED-centroid broadcast against the query subset only " +
        "(cells/codes/codebook come from storage, so no corpus-side assign stage exists); " +
        "ADC joins on (query_id, s, code) and exact cosine only on the shortlist -- never all-pairs"),
      "ann_index_erasure" -> ("CROSS is the C-bounded PURGED-index centroid broadcast against the " +
        "query subset (cells/codes are the purged single-part loads -- the ann_ivf_pq_from_artifact " +
        "serve shape over survivor-filtered tables); ADC joins on (query_id, s, code) and exact " +
        "cosine only on the shortlist -- never all-pairs"),
      "ann_ivf_pq_compacted" -> ("CROSS is the C-bounded COMPACTED-index centroid broadcast against the query subset " +
        "(cells/codes are single-part compacted loads, r15 -- the ann_ivf_pq_from_artifact serve shape unchanged); " +
        "ADC joins on (query_id, s, code) and exact cosine only on the shortlist -- never all-pairs"),
      "quality_from_artifact" -> "CROSSes are 1-row model frames (loaded Rocchio weights + midpoint threshold) broadcast into the scoring scan",
      "cluster_purity" -> centroidCross,
      "ann_index_drift" -> (centroidCross +
        " (the established-trained model broadcast into the full-corpus audit argmax)"),
      "ann_index_retrained" -> (centroidCross +
        "; TWO of them because the retrain loop runs two C-bounded assigns -- the drift audit " +
        "against the established model and the serve against whichever model the vote picked"),
      "ann_ivf_pq_retrained" -> (centroidCross +
        "; the same two retrain-loop assigns (drift audit + vote-picked serve), feeding " +
        "ann_ivf_pq_rerank's designed stages -- ADC joins on (query_id, s, code), exact cosine " +
        "only on the shortlist, never all-pairs"),
      "embedding_clusters" -> centroidCross,
      "semantic_dedup" -> centroidCross,
      "semantic_dedup_from_artifact" -> ("CROSSes are the C-bounded LOADED-centroid broadcast assign " +
        "(the serve-time cell assignment against the persisted k-means artifact, same shape as semantic_dedup's in-line trained cells); " +
        "the pair stage stays the within-cell int-keyed equi-join on distinct vectors"),
      "mixture_plan" -> "CROSS is the 1-row total-weight aggregate broadcast",
      "mixture_execute" -> ("CROSS is mixture_plan's 1-row total-weight " +
        "aggregate broadcast, inherited by composing the plan; admission " +
        "itself is a |sources|-row broadcast join + one scan"),
      "basket_pairs" -> "CROSS is the 1-row kept-user-count aggregate broadcast (the mixture_plan pattern)",
      "term_associations" -> "CROSS is the 1-row doc-count aggregate broadcast (the mixture_plan pattern); the pair join itself is vocab-fenced and int-keyed",
      "churn_rates" -> "CROSS is the 1-row corpus-max-week aggregate broadcast (the mixture_plan pattern)",
      "embedding_outliers" -> centroidCross,
      "dedup_eval" -> ("CROSSes are the 1-row count-aggregate broadcasts (n_cand, tp) joined onto n_truth " +
        "for the single metrics row; the pair inputs are the two already-fenced dedup contracts"),
      "simhash_eval" -> ("CROSSes are the same 1-row count-aggregate broadcasts as dedup_eval's scorecard; " +
        "the candidate side is the banded Hamming fence over distinct 60-bit fingerprints, never all-pairs"),
      "coreset_kcenter" -> ("CROSS is the k-row (k=8) chosen-center frame broadcast into the assignment scan " +
        "-- the greedy rounds themselves are TakeOrderedAndProject scans with driver-held centers, never a pair join"),
      "coreset_eval" -> ("CROSSes are the two k-row (k=8) center-frame broadcasts (greedy + hash-sample) into " +
        "their assignment scans -- the coreset_kcenter pattern twice; the sample side adds only a " +
        "TakeOrderedAndProject over (hash, vec_id)"),
      "event_drift" -> ("CROSS is the days x types grid densification -- two DISTINCT aggregates of the " +
        "(day, type) count frame (both bounded by the observed-day count and the type alphabet, never the corpus)"),
      "anomaly_days" -> ("CROSSes are the days x types grid densification over the CACHED (day, type) count frame " +
        "(both sides bounded by the observed-day count and the type alphabet, never the corpus)"),
      "item_triangles" -> ("CROSS is the 1-row kept-user-count broadcast inside the cached lift-graph build " +
        "(the relative lift threshold co*U*100 > 105*na*nb); the wedge stage itself is a degree-ordered " +
        "equi-join on the shared endpoint, never all-pairs"),
      "coreset_assign_from_artifact" -> ("CROSS is the k-row (k=8) LOADED-center frame broadcast into the " +
        "assignment scan (the serve-time twin of coreset_kcenter's assignment; no greedy rounds in this plan at all)"),
      "engagement_decay" -> "CROSS is the 1-row max-timestamp anchor broadcast into the scoring scan",
      "q3_shipping" -> "LeftOuter BNLJ builds on the bounded top-N candidate frame to attach global ranks without a single-partition window",
      "quality_classifier_trained" -> "CROSSes are 1-row model frames (class centroids + midpoint threshold) broadcast into the scoring scan",
      "classifier_agreement" -> ("CROSS is the trained side's 1-row midpoint-theta frame " +
        "(quality_classifier_trained's documented shape); the agreement layer itself adds only " +
        "a doc-keyed join + one 1-row conditional aggregate"),
      "rec_eval" -> ("every CROSS is the ONE-ROW max-day split bound broadcast (mixture_plan " +
        "pattern) — the count is plan-string amplification: the cached (u,i,day) and prefix " +
        "frames embed it once per reference, and the composed recs pipeline references them " +
        "many times; at runtime each is one InMemoryTableScan, never corpus x corpus"),
      "rec_coverage" -> ("the two CROSSes join three 1-ROW aggregate frames (shape x catalog " +
        "count x user count) into the single output row — never corpus-sized; the exchange " +
        "count is the cached recs frame's plan string re-printed per reference"))

    emit("# Plan audit -- every registered query")
    emit()
    emit(s"Generated by `graft.tools.PlanAudit` against `$sfDir` " +
      "(plan shapes only; handoff pipelines execute and their lineage is " +
      "read through `Handoff.lineage`). Flags: CART = " +
      "CartesianProduct/BroadcastNestedLoopJoin -- an all-pairs join " +
      "UNLESS the build side is a 1-row/bounded broadcast (annotated); " +
      "STR-X = an exchange partitioned on a raw text/gram payload column " +
      "(pair lineages must hash to ints before shuffling; final token " +
      "aggregations legitimately key on the token itself).")
    emit()
    emit("| query | exchanges | broadcasts | sorts | codegen spans | flags |")
    emit("|---|---|---|---|---|---|")
    var unexplained = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // each row reads only its own query's caches (Bench, Verify and
        // PlanSnap clear between queries too)
        spark.catalog.clearCache()
        val p = Handoff.lineage(fn(spark, sfDir)).queryExecution.executedPlan
          .toString
        val ex = count(p, "Exchange hashpartitioning") +
          count(p, "Exchange rangepartitioning") +
          count(p, "Exchange SinglePartition")
        val bc = count(p, "BroadcastExchange")
        val so = count(p, "\\bSort \\[")
        val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(p)
          .map(_.group(1)).toSet.size
        val cart = count(p, "CartesianProduct") +
          count(p, "BroadcastNestedLoopJoin")
        // pair-lineage payload columns only: a shuffle keyed on gram/text
        // strings is the round-2/3 regression class
        val strX =
          "Exchange hashpartitioning\\([^)]*\\b(text|gram)#".r
            .findAllIn(p).length
        val flags = Seq(
          if (cart > 0) Some(s"CARTx$cart") else None,
          if (strX > 0) Some(s"STR-Xx$strX") else None).flatten.mkString(" ")
        val note = if (flags.nonEmpty) knownLegit.get(name) match {
          case Some(why) => s"$flags -- OK: $why"
          case None => unexplained += 1; s"$flags -- **UNEXPLAINED**"
        } else ""
        emit(s"| `$name` | $ex | $bc | $so | $wsc | $note |")
      } catch {
        case e: Throwable =>
          unexplained += 1
          emit(s"| `$name` | -- | -- | -- | -- | PLAN-ERROR ${e.getClass.getSimpleName} |")
      }
    }
    emit()
    emit(s"Unexplained flags: $unexplained (gate: must be 0)")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("PLANAUDIT.md"),
      out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    print(out.toString)
    spark.stop()
  }
}
