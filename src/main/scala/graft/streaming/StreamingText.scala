package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{HashedLinearModel, TextModelFunctions}
import graft.ops.{Dedup, TextAnalysis}

/** In-flight text-ingest screen — the STATELESS gate a pipeline runs on
  * the document stream before the stateful screens (`StreamingDedup`,
  * `StreamingSimilarity`): C4/Gopher format rules, the hashed-linear
  * quality classifier, and PII redaction, applied per arriving row.
  *
  * Everything here is a codegen column expression over the row itself —
  * no state, no watermark requirement, no shuffle — so the stage adds
  * zero streaming semantics to reason about, and the decisions are
  * bit-equal to the batch gate queries by construction: the format flags
  * come from the same [[TextAnalysis.c4Columns]] the `c4_filters` oracle
  * checks, the model score from the same codegen expression the
  * `quality_classifier` oracle checks, the scrub from the same
  * [[TextAnalysis.redactPii]] the `text_redact` oracle checks. A doc that
  * passes here passes the batch re-screen, so the downstream corpus never
  * disagrees with its ingest filter.
  */
object StreamingText {

  /** Screen a document stream (any frame with a `text` column; streaming
    * or batch — stateless ops plan identically). Appends the format-rule
    * flags, the classifier columns (n_tokens, score_q, logit, keep_model),
    * the combined `admit` bit, and `text_redacted`. Callers filter on
    * `admit` (or route rejects to a quarantine sink via the flags).
    */
  def screen(docs: DataFrame): DataFrame = {
    val flagged = TextAnalysis.c4Columns(col("text")).foldLeft(docs) {
      case (acc, (n, c)) => acc.withColumn(n, c)
    }
    val toks = TextAnalysis.tokens(col("text"))
    flagged
      .withColumn("score_q", TextModelFunctions.hashed_linear_score(toks))
      .withColumn("logit",
        round(col("score_q").cast("double") /
          (lit(HashedLinearModel.WeightCenter) *
            greatest(col("n_tokens"), lit(1L))).cast("double") + lit(1e-9), 6))
      .withColumn("keep_model", col("score_q") > 0)
      .withColumn("admit", col("kept") && col("keep_model"))
      .withColumn("text_redacted", TextAnalysis.redactPii(col("text")))
  }

  /** In-flight intra-doc repetition trim — the streaming twin of
    * [[graft.ops.Dedup.repetitionClean]]. The batch op distributes one
    * document's positional window hashes across the cluster because a
    * batch corpus is big; a SINGLE arriving document is not, so the
    * identical first-occurrence contract runs as one per-row pass
    * (stateless typed mapPartitions — no state, no shuffle, composes
    * anywhere in the ingest chain) over the batch op's own word split.
    * Spec-pinned bit-equal to the batch op on the same documents.
    *
    * Input needs (doc_id, text); emits (doc_id, n_tokens, n_removed,
    * clean_text) — the batch op's exact schema.
    */
  def cleanRepetitions(docs: DataFrame, w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), Dedup.words(col("text")))
      .as[(Long, Array[String])]
      .mapPartitions { it =>
        it.map { case (id, toks) =>
          val n = toks.length
          val removed = new Array[Boolean](n)
          val firstAt = scala.collection.mutable.HashMap.empty[String, Int]
          // first pass records each window's first start; later starts
          // mark their covered positions — identical to the batch
          // min(spos) + covered-position expansion
          var i = 0
          while (i + w <= n) {
            val win = toks.slice(i, i + w).mkString(" ")
            firstAt.get(win) match {
              case None => firstAt.update(win, i)
              case Some(_) =>
                var j = i
                while (j < i + w) { removed(j) = true; j += 1 }
            }
            i += 1
          }
          val kept = toks.indices.collect {
            case k if !removed(k) => toks(k)
          }
          (id, n.toLong, removed.count(identity).toLong, kept.mkString(" "))
        }
      }.toDF("doc_id", "n_tokens", "n_removed", "clean_text")
  }
}
