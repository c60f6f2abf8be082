package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Drift guard for every model in [[graft.model.ModelMemo]] (centroids,
  * CF lists, jaccard truth pairs, the bpe / wordpiece / unigram
  * tokenizers, rocchio): each entry remembers the
  * [[graft.io.Fingerprint]] of its backing parquet, so REWRITING that
  * parquet in place — same path, new content, the regenerated-fixture /
  * daily-relanded-table case — must retrain/recompute, never serve the
  * stale model. Each test copies a fixture table into a temp dir, serves
  * once (and re-serves to pin memo-hit identity), overwrites the file
  * with the OTHER SF's content, and pins that the re-serve equals a
  * fresh computation on the new content and differs from the old.
  */
class MemoDriftSpec extends SparkSpec {
  import spark.implicits._

  /** Temp dir seeded with `table.parquet` copied from `fromSf`. */
  private def seeded(table: String, fromSf: String): String = {
    val dir = Files.createTempDirectory("memodrift").toString
    reseed(dir, table, fromSf)
    dir
  }

  private def reseed(dir: String, table: String, fromSf: String): Unit =
    Files.copy(Paths.get(sf(fromSf), s"$table.parquet"),
      Paths.get(dir, s"$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  private def driftCheck(table: String,
      serve: String => Set[String]): Unit = {
    val dir = seeded(table, "sf0.001")
    val a1 = serve(dir)
    val a2 = serve(dir) // memo hit
    assert(a1 == a2, "repeat serve on unchanged content must be identical")
    reseed(dir, table, "sf0.01") // in-place rewrite, same path
    val b = serve(dir)
    val fresh = serve(sf("sf0.01")) // never-memoized path, same content
    assert(b == fresh,
      "serve after rewrite must equal a fresh computation on the new content")
    assert(a1 != b,
      s"fixture degenerate: $table must differ between the two SFs")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.selectExpr(cols: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
  }

  test("trainedCents retrains when the embeddings parquet is rewritten in place") {
    driftCheck("embeddings", dir =>
      rows(graft.jobs.SimilarityJobs.trainedCents(spark, dir,
        graft.jobs.SimilarityJobs.vectors(spark, dir))))
  }

  test("CF simLists recompute when the events parquet is rewritten in place") {
    driftCheck("events", dir =>
      rows(graft.jobs.AnalyticsJobs.itemSimilarity(spark, dir)))
  }

  test("cf_erasure (memoized output + persisted count artifacts) recomputes on an in-place events rewrite") {
    // three memo layers share the fingerprint key here: the persisted
    // cf_pair_counts/cf_item_sizes artifacts, and the :cf_erase-tagged
    // output lists — a stale ANY of them would serve the old model
    driftCheck("events", dir =>
      rows(graft.jobs.ArtifactJobs.cfErasure(spark, dir)))
  }

  test("jaccard truth pairs recompute when the documents parquet is rewritten in place") {
    driftCheck("documents", dir =>
      rows(graft.jobs.DedupJobs.jaccardTruthPairs(spark, dir)))
  }

  test("bpe merges retrain when the documents parquet is rewritten in place") {
    driftCheck("documents", dir =>
      rows(graft.jobs.TextJobs.bpeMerges(spark, dir)))
  }

  test("wordpiece merges retrain when the documents parquet is rewritten in place") {
    driftCheck("documents", dir =>
      rows(graft.jobs.TextJobs.wordpieceMerges(spark, dir)))
  }

  test("unigram vocab retrains when the documents parquet is rewritten in place") {
    driftCheck("documents", dir =>
      rows(graft.jobs.TextJobs.unigramVocab(spark, dir)))
  }

  test("rocchio classifier retrains when the documents parquet is rewritten in place") {
    driftCheck("documents", dir =>
      rows(graft.jobs.TextJobs.qualityClassifierTrained(spark, dir)))
  }
}
