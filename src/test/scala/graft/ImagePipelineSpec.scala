package graft

import graft.ops.{CacheScope, Media, MediaPipeline}

/** One decode pass must feed pairs, clusters and curation with outputs
  * identical to the isolated gate queries — the shared-scan contract
  * [[graft.ops.DedupPipeline]] pins for grams, here for image decode.
  */
class ImagePipelineSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq: Seq[Any]).toSet

  test("one cached decode pass reproduces all three image gates") {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    CacheScope.scoped { scope =>
      val pipe = new MediaPipeline(docs, Media.Image, maxHamming = 3, scope)
      val pairs = rows(pipe.pairs
        .select("doc_a", "doc_b", "hamming"))
      val clusters = rows(pipe.clusters)
      val curation = rows(pipe.curation)
      assert(pairs ==
        rows(graft.jobs.MultimodalJobs.imageNeardup(spark, sf("sf0.001"))))
      assert(clusters ==
        rows(graft.jobs.MultimodalJobs.imageClusters(spark, sf("sf0.001"))))
      assert(curation ==
        rows(graft.jobs.MultimodalJobs.imageCuration(spark, sf("sf0.001"))))
      assert(pairs.nonEmpty && clusters.nonEmpty && curation.nonEmpty)
    }
  }
}
