package graft

import graft.jobs.MultimodalJobs
import graft.ops.{CacheScope, Media, MediaPipeline, Multimodal}

/** Frame-aligned video near-dup path: per-frame fingerprints must come
  * from the REAL RAWV byte-level parse, the frame-0-anchored banded
  * pairing must be lossless for the same-length/every-frame-within-radius
  * semantics, planted groups must collapse, and the shared-scan pipeline
  * must reproduce the isolated gates — the video mirror of
  * AudioNeardupSpec.
  */
class VideoNeardupSpec extends SparkSpec {
  import spark.implicits._

  // (doc_id -> frame-fp sequence) out of the scan
  private def fpSeqs(
      df: org.apache.spark.sql.DataFrame): Map[Long, IndexedSeq[Long]] =
    df.select("doc_id", "frame_idx", "fp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(_._3).toIndexedSeq
      }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq: Seq[Any]).toSet

  test("RAWV round-trip: encode then byte-level parse recovers dims and pixels") {
    val enc = Multimodal.encodeRawv(5, 3, 2, (f, x, y) => f * 100 + y * 5 + x)
    val (w, h, nf, px) = Multimodal.decodeRawv(enc)
    assert((w, h, nf) == (5, 3, 2))
    assert(px.length == 5 * 3 * 2)
    assert((px(0) & 0xff) == 0 && (px(7) & 0xff) == 7)
    assert((px(15) & 0xff) == 100) // frame 1, pixel (0,0)
  }

  test("RAWV parse refuses corrupt payloads (wrong magic, truncated body)") {
    val good = Multimodal.encodeRawv(4, 3, 2, (_, _, _) => 7)
    val badMagic = good.clone(); badMagic(0) = 'X'
    intercept[IllegalArgumentException] { Multimodal.decodeRawv(badMagic) }
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 1)
    intercept[IllegalArgumentException] { Multimodal.decodeRawv(truncated) }
    val tooShort = Array[Byte]('R', 'A', 'W')
    intercept[IllegalArgumentException] { Multimodal.decodeRawv(tooShort) }
  }

  test("per-frame fingerprints come from the real parse and match the arithmetic pattern") {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id").limit(40)
    val fromParse = fpSeqs(Multimodal.videoScan(spark, docs))
    docs.collect().map(_.getLong(0)).foreach { id =>
      val base = Multimodal.neardupBase(id)
      val (w, h) = Multimodal.neardupDims(base)
      val nf = Multimodal.videoNFrames(base)
      val expected = (0 until nf).map { f =>
        val frame = Array.tabulate(w * h)(i =>
          Multimodal.videoPixel(id, f, i % w, i / w).toByte)
        Multimodal.dHash63(frame, w, h)
      }
      assert(fromParse(id) == expected,
        s"parse-path fingerprint drift for id $id")
    }
  }

  test("parsed frame count equals the fixture formula (container round-trip)") {
    Multimodal.videoScan(spark,
        graft.io.Tables.documents(spark, sf("sf0.001")).limit(64))
      .select("doc_id", "n_frames").distinct()
      .collect().foreach { r =>
        val id = r.getLong(0)
        assert(r.getLong(1) ==
          Multimodal.videoNFrames(Multimodal.neardupBase(id)).toLong)
      }
  }

  test("anchor-banded pairing equals brute force over full frame sequences") {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id").limit(200)
    val seqs = fpSeqs(Multimodal.videoScan(spark, docs))
    val expected = (for {
      a <- seqs.keys; b <- seqs.keys if a < b
      if seqs(a).length == seqs(b).length
      perFrame = seqs(a).zip(seqs(b))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }
      if perFrame.max <= 3
    } yield (a, b, perFrame.map(_.toLong).sum)).toSet
    val gotSub = MultimodalJobs.videoNeardup(spark, sf("sf0.001"))
      .filter($"doc_a".isin(seqs.keys.toSeq: _*) &&
        $"doc_b".isin(seqs.keys.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSub == expected,
      s"only-anchored=${(gotSub -- expected).take(3)} " +
        s"only-brute=${(expected -- gotSub).take(3)}")
    assert(expected.exists(_._3 > 0), "fixture must plant true near dups")
    assert(expected.exists(_._3 == 0), "fixture must plant exact dups")
  }

  test("video clusters collapse planted groups to one keeper") {
    // probed on 5000 docs before wiring: transitive closure collapses all
    // 625 groups to their minimum (17,497 qualifying pairs; the 3 pairs
    // at per-frame Hamming 4 are bridged by adjacent-perturbation chains)
    val got = MultimodalJobs.videoClusters(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val g = Multimodal.NeardupGroup
    val groupMin = got.keys.groupBy(_ / g).map { case (b, ids) => b -> ids.min }
    got.foreach { case (id, cluster) =>
      assert(cluster == groupMin(id / g),
        s"id $id labelled $cluster, expected its group minimum")
    }
  }

  test("thumbnail match links every image to its own clip and matches brute force") {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id").limit(120)
    val imgFp = Multimodal.imageFingerprints(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vidFp = Multimodal.videoScan(spark, docs)
      .filter($"frame_idx" === 0).select("doc_id", "fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      i <- imgFp.keys; v <- vidFp.keys
      hm = java.lang.Long.bitCount(imgFp(i) ^ vidFp(v))
      if hm <= 3
    } yield (i, v, hm.toLong)).toSet
    val got = MultimodalJobs.thumbnailMatch(spark, sf("sf0.001"))
      .filter($"image_id".isin(imgFp.keys.toSeq: _*) &&
        $"video_id".isin(vidFp.keys.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"only-banded=${(got -- expected).take(3)} " +
        s"only-brute=${(expected -- got).take(3)}")
    // the planted fixture shares the base pattern at f = 0, so every id
    // must link to its own clip exactly
    imgFp.keys.foreach { id =>
      assert(got.contains((id, id, 0L)), s"id $id missing its self-match")
    }
  }

  test("one cached parse pass reproduces all three video gates") {
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    CacheScope.scoped { scope =>
      val pipe = new MediaPipeline(docs, Media.Video, maxHamming = 3, scope)
      assert(rows(pipe.pairs.select("doc_a", "doc_b", "hamming")) ==
        rows(MultimodalJobs.videoNeardup(spark, sf("sf0.001"))))
      assert(rows(pipe.clusters) ==
        rows(MultimodalJobs.videoClusters(spark, sf("sf0.001"))))
      val curation = rows(pipe.curation)
      assert(curation ==
        rows(MultimodalJobs.videoCuration(spark, sf("sf0.001"))))
      assert(curation.nonEmpty)
    }
  }
}
