package graft

import graft.jobs.MultimodalJobs
import graft.ops.{CacheScope, Media, MediaPipeline, Multimodal}

/** Acoustic near-dup path: the fingerprint must come from the REAL
  * `javax.sound` decode, the banded LSH must be lossless at the radius,
  * planted groups must collapse, and the shared-scan pipeline must
  * reproduce the isolated gates — the audio mirror of MultimodalSpec's
  * image coverage + ImagePipelineSpec.
  */
class AudioNeardupSpec extends SparkSpec {
  import spark.implicits._

  private def fpMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq: Seq[Any]).toSet

  test("audio fingerprints come from the real WAV decode and match the arithmetic pattern") {
    // PCM is lossless, so fingerprints computed by decoding the actual
    // WAV payloads must equal fingerprints computed straight from the
    // arithmetic sample function — any drift means the decode is broken
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id").limit(40)
    val fromCodec = fpMap(Multimodal.audioScan(spark, docs)
      .select("doc_id", "fp"))
    docs.collect().map(_.getLong(0)).foreach { id =>
      val n = Multimodal.audioNeardupSamples(Multimodal.neardupBase(id))
      val samples = Array.tabulate(n)(i =>
        Multimodal.audioNeardupSample(id, i).toByte)
      assert(fromCodec(id) == Multimodal.audioFp63(samples),
        s"decode-path fingerprint drift for id $id")
    }
  }

  test("decoded sample count equals the fixture formula (codec round-trip)") {
    Multimodal.audioScan(spark,
        graft.io.Tables.documents(spark, sf("sf0.001")).limit(64))
      .collect().foreach { r =>
        val id = r.getLong(0)
        assert(r.getLong(1) ==
          Multimodal.audioNeardupSamples(Multimodal.neardupBase(id)).toLong)
      }
  }

  test("banded Hamming LSH equals brute force at the radius on audio fingerprints") {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id").limit(200)
    val fpm = fpMap(Multimodal.audioScan(spark, docs).select("doc_id", "fp"))
    val expected = (for {
      a <- fpm.keys; b <- fpm.keys if a < b
      hm = java.lang.Long.bitCount(fpm(a) ^ fpm(b))
      if hm <= 3
    } yield (a, b, hm.toLong)).toSet
    val gotSub = MultimodalJobs.audioNeardup(spark, sf("sf0.001"))
      .filter($"doc_a".isin(fpm.keys.toSeq: _*) &&
        $"doc_b".isin(fpm.keys.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSub == expected,
      s"only-lsh=${(gotSub -- expected).take(3)} " +
        s"only-brute=${(expected -- gotSub).take(3)}")
    assert(expected.exists(_._3 > 0), "fixture must plant true near dups")
    assert(expected.exists(_._3 == 0), "fixture must plant exact dups")
  }

  test("audio clusters collapse planted groups to one keeper") {
    val got = MultimodalJobs.audioClusters(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val g = Multimodal.NeardupGroup
    val groupMin = got.keys.groupBy(_ / g).map { case (b, ids) => b -> ids.min }
    got.foreach { case (id, cluster) =>
      assert(cluster == groupMin(id / g),
        s"id $id labelled $cluster, expected its group minimum")
    }
  }

  test("one cached decode pass reproduces all three audio gates") {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    CacheScope.scoped { scope =>
      val pipe = new MediaPipeline(docs, Media.Audio, maxHamming = 3, scope)
      assert(rows(pipe.pairs.select("doc_a", "doc_b", "hamming")) ==
        rows(MultimodalJobs.audioNeardup(spark, sf("sf0.001"))))
      assert(rows(pipe.clusters) ==
        rows(MultimodalJobs.audioClusters(spark, sf("sf0.001"))))
      val curation = rows(pipe.curation)
      assert(curation ==
        rows(MultimodalJobs.audioCuration(spark, sf("sf0.001"))))
      assert(curation.nonEmpty)
    }
  }
}
