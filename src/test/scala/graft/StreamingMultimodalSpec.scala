package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.ops.{Dedup, Media, Multimodal}
import graft.streaming.StreamingMultimodal

/** The streaming image-ingest screen: in-flight decode + dHash +
  * Hamming banding against the persisted corpus fingerprints must flag
  * exactly the pairs batch brute force finds at the radius — the same
  * stream/batch-equivalence contract the text and embedding screens pin.
  */
class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("stream image screen equals brute force over real decoded fingerprints") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    // corpus: fingerprints of ids 0..199, persisted + reloaded (the
    // serving path reads the landed table, not the builder lineage)
    val corpusDocs = docs.filter($"doc_id" < 200)
    val dir = java.nio.file.Files.createTempDirectory("imgfp").toString
    Multimodal.imageFingerprints(spark, corpusDocs)
      .write.mode("overwrite").parquet(dir)
    val corpusFp = spark.read.parquet(dir)

    // arrivals: ids 60..99 — the planted groups overlap the corpus, so
    // real near-dup hits exist (incl. hamming 1-2); self-ids must NOT
    // self-match
    val arrivals = Multimodal
      .neardupImageAssets(spark,
        docs.filter($"doc_id" >= 60 && $"doc_id" < 100))
      .collect()
      .map(a => (a.asset_id, a.content, a.width, a.height, ts(a.asset_id)))

    val in = MemoryStream[(Long, Array[Byte], Int, Int, Timestamp)]
    val q = StreamingMultimodal.screen(
        in.toDF().toDF("asset_id", "content", "width", "height", "ts"),
        "ts", "0 seconds", corpusFp, Dedup.Bands63, maxHamming = 3,
        media = Media.Image)
      .writeStream.format("memory").queryName("stream_img_screen")
      .outputMode("append").start()
    val got = try {
      in.addData(arrivals.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_img_screen")
        .select($"asset_id", $"corpus_id", $"hamming")
        .as[(Long, Long, Long)].collect().toSet
    } finally q.stop()

    // batch truth: brute-force Hamming over the same fingerprints
    val corpus = corpusFp.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arrFp = Multimodal
      .imageFingerprints(spark, docs.filter($"doc_id" >= 60 && $"doc_id" < 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      (aid, af) <- arrFp.toSeq
      (cid, cf) <- corpus.toSeq if cid != aid
      hm = java.lang.Long.bitCount(af ^ cf).toLong if hm <= 3
    } yield (aid, cid, hm)).toSet

    assert(got == expected,
      s"only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "fixture must produce corpus hits")
    assert(expected.exists(_._3 > 0), "must include true near dups, not just exact")
  }

  test("streaming index erasure: tombstoned ids vanish from the served index in-batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    val dir = java.nio.file.Files.createTempDirectory("imgfp_tomb").toString
    val tomb = java.nio.file.Files.createTempDirectory("tombs").toString + "/t"
    Multimodal.imageFingerprints(spark, docs.filter($"doc_id" < 200))
      .write.mode("overwrite").parquet(dir)

    // before any tombstone: served index = landed index
    assert(StreamingMultimodal.servedIndex(spark, dir, tomb).count() == 200)

    // two micro-batches of tombstones (the erasure_audit cohort + one
    // extra id that participates in near-dup pairs)
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("doc_id")
      .writeStream.outputMode("append")
      .foreachBatch(StreamingMultimodal.tombstoneBatches(tomb))
      .start()
    val cohort = (0L until 200L).filter(_ % 29 == 7)
    try {
      in.addData(cohort.take(3): _*)
      q.processAllAvailable()
      // purged ids are unservable the same batch their tombstone lands
      val mid = StreamingMultimodal.servedIndex(spark, dir, tomb)
        .select($"doc_id").as[Long].collect().toSet
      assert(cohort.take(3).forall(id => !mid.contains(id)))
      in.addData(cohort.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()

    // served index equals a batch rebuild over the survivors
    val served = StreamingMultimodal.servedIndex(spark, dir, tomb)
      .as[(Long, Long)].collect().toSet
    val survivors = Multimodal.imageFingerprints(spark,
        docs.filter($"doc_id" < 200 && $"doc_id" % 29 =!= 7))
      .as[(Long, Long)].collect().toSet
    assert(served == survivors)
    // and a screen over the served index can never flag a purged id
    val arrivals = Multimodal
      .neardupImageAssets(spark, docs.filter($"doc_id" >= 60 && $"doc_id" < 100))
      .collect()
      .map(a => (a.asset_id, a.content, a.width, a.height, ts(a.asset_id)))
    val sin = MemoryStream[(Long, Array[Byte], Int, Int, Timestamp)]
    val sq = StreamingMultimodal.screen(
        sin.toDF().toDF("asset_id", "content", "width", "height", "ts"),
        "ts", "0 seconds",
        StreamingMultimodal.servedIndex(spark, dir, tomb),
        Dedup.Bands63, maxHamming = 3,
        media = Media.Image)
      .writeStream.format("memory").queryName("stream_erased_screen")
      .outputMode("append").start()
    try {
      sin.addData(arrivals.toSeq: _*)
      sq.processAllAvailable()
      val pairs = spark.table("stream_erased_screen")
        .select($"asset_id", $"corpus_id").as[(Long, Long)].collect()
      assert(pairs.nonEmpty)
      assert(pairs.forall(_._2 % 29 != 7),
        "a purged id surfaced from the served index")
    } finally sq.stop()
  }

  test("image index refresh: appended index equals a batch re-fingerprint; screen serves it") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    // yesterday's index: fingerprints of ids < 100, landed
    val dir = java.nio.file.Files.createTempDirectory("imgfp_inc").toString
    Multimodal.imageFingerprints(spark, docs.filter($"doc_id" < 100))
      .write.mode("overwrite").parquet(dir)

    // arrivals: ids 100..199 in two micro-batches through the refresher
    val arrivals = Multimodal
      .neardupImageAssets(spark,
        docs.filter($"doc_id" >= 100 && $"doc_id" < 200))
      .collect().sortBy(_.asset_id)
      .map(a => (a.asset_id, a.content, a.width, a.height, ts(a.asset_id)))
    val in = MemoryStream[(Long, Array[Byte], Int, Int, Timestamp)]
    val q = in.toDF().toDF("asset_id", "content", "width", "height", "ts")
      .writeStream
      .foreachBatch(StreamingMultimodal.indexRefreshBatches(dir, Media.Image))
      .start()
    try {
      in.addData(arrivals.take(50).toSeq: _*); q.processAllAvailable()
      in.addData(arrivals.drop(50).toSeq: _*); q.processAllAvailable()
    } finally q.stop()

    // contract: the landed table equals a batch re-fingerprint of
    // corpus ∪ arrivals, bit for bit
    val served = spark.read.parquet(dir)
      .as[(Long, Long)].collect().toSet
    val rebuilt = Multimodal
      .imageFingerprints(spark, docs.filter($"doc_id" < 200))
      .as[(Long, Long)].collect().toSet
    assert(served.size == 200)
    assert(served == rebuilt,
      s"only-served=${(served -- rebuilt).take(3)} " +
        s"only-rebuilt=${(rebuilt -- served).take(3)}")

    // freshness: a probe screened against the REFRESHED index must hit
    // streamed-in arrivals (ids >= 100), which the static corpus alone
    // could never flag — verified against brute force over the union
    val probes = Multimodal
      .neardupImageAssets(spark,
        docs.filter($"doc_id" >= 60 && $"doc_id" < 100))
      .collect()
      .map(a => (a.asset_id, a.content, a.width, a.height, ts(a.asset_id)))
    val in2 = MemoryStream[(Long, Array[Byte], Int, Int, Timestamp)]
    val q2 = StreamingMultimodal.screen(
        in2.toDF().toDF("asset_id", "content", "width", "height", "ts"),
        "ts", "0 seconds", spark.read.parquet(dir), Dedup.Bands63,
        maxHamming = 3,
        media = Media.Image)
      .writeStream.format("memory").queryName("refresh_img_screen")
      .outputMode("append").start()
    val got = try {
      in2.addData(probes.toSeq: _*)
      q2.processAllAvailable()
      spark.table("refresh_img_screen")
        .select($"asset_id", $"corpus_id", $"hamming")
        .as[(Long, Long, Long)].collect().toSet
    } finally q2.stop()
    val fpMap = rebuilt.toMap
    val probeFp = Multimodal
      .imageFingerprints(spark, docs.filter($"doc_id" >= 60 && $"doc_id" < 100))
      .as[(Long, Long)].collect().toMap
    val expected = (for {
      (aid, af) <- probeFp.toSeq
      (cid, cf) <- fpMap.toSeq if cid != aid
      hm = java.lang.Long.bitCount(af ^ cf).toLong if hm <= 3
    } yield (aid, cid, hm)).toSet
    assert(got == expected,
      s"only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    assert(got.exists(_._2 >= 100),
      "refreshed index must surface streamed-in arrivals as near-dups")
  }

  test("audio index refresh: appended index equals a batch re-fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    val dir = java.nio.file.Files.createTempDirectory("audfp_inc").toString
    Multimodal.audioScan(spark, docs.filter($"doc_id" < 100))
      .select(col("doc_id"), col("fp"))
      .write.mode("overwrite").parquet(dir)

    val arrivals = Multimodal
      .neardupAudioAssets(spark,
        docs.filter($"doc_id" >= 100 && $"doc_id" < 200))
      .collect().sortBy(_.asset_id)
      .map(a => (a.asset_id, a.content, ts(a.asset_id)))
    val in = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q = in.toDF().toDF("asset_id", "content", "ts")
      .writeStream
      .foreachBatch(StreamingMultimodal.indexRefreshBatches(dir, Media.Audio))
      .start()
    try {
      in.addData(arrivals.take(50).toSeq: _*); q.processAllAvailable()
      in.addData(arrivals.drop(50).toSeq: _*); q.processAllAvailable()
    } finally q.stop()

    val served = spark.read.parquet(dir)
      .as[(Long, Long)].collect().toSet
    val rebuilt = Multimodal
      .audioScan(spark, docs.filter($"doc_id" < 200))
      .select(col("doc_id"), col("fp"))
      .as[(Long, Long)].collect().toSet
    assert(served.size == 200)
    assert(served == rebuilt,
      s"only-served=${(served -- rebuilt).take(3)} " +
        s"only-rebuilt=${(rebuilt -- served).take(3)}")
  }

  test("stream audio screen equals brute force over real decoded fingerprints") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    val corpusDocs = docs.filter($"doc_id" < 200)
    val dir = java.nio.file.Files.createTempDirectory("audfp").toString
    Multimodal.audioScan(spark, corpusDocs).select(col("doc_id"), col("fp"))
      .write.mode("overwrite").parquet(dir)
    val corpusFp = spark.read.parquet(dir)

    val arrivals = Multimodal
      .neardupAudioAssets(spark,
        docs.filter($"doc_id" >= 0 && $"doc_id" < 40))
      .collect()
      .map(a => (a.asset_id, a.content, ts(a.asset_id)))

    val in = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q = StreamingMultimodal.screen(
        in.toDF().toDF("asset_id", "content", "ts"),
        "ts", "0 seconds", corpusFp, Dedup.Bands63, maxHamming = 3,
        media = Media.Audio)
      .writeStream.format("memory").queryName("stream_aud_screen")
      .outputMode("append").start()
    val got = try {
      in.addData(arrivals.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_aud_screen")
        .select($"asset_id", $"corpus_id", $"hamming")
        .as[(Long, Long, Long)].collect().toSet
    } finally q.stop()

    val corpus = corpusFp.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arrFp = Multimodal
      .audioScan(spark, docs.filter($"doc_id" >= 0 && $"doc_id" < 40))
      .select(col("doc_id"), col("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      (aid, af) <- arrFp.toSeq
      (cid, cf) <- corpus.toSeq if cid != aid
      hm = java.lang.Long.bitCount(af ^ cf).toLong if hm <= 3
    } yield (aid, cid, hm)).toSet

    assert(got == expected,
      s"only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "fixture must produce corpus hits")
    assert(expected.exists(_._3 > 0), "must include true near dups, not just exact")
  }

  test("video index refresh: appended per-frame index equals a batch re-fingerprint; screen serves it") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    // yesterday's per-frame index: clips < 100, landed
    val dir = java.nio.file.Files.createTempDirectory("vidfp_inc").toString
    Multimodal.videoScan(spark, docs.filter($"doc_id" < 100))
      .write.mode("overwrite").parquet(dir)

    // arrivals: ids 100..199 in two micro-batches through the refresher
    val arrivals = Multimodal
      .neardupVideoAssets(spark,
        docs.filter($"doc_id" >= 100 && $"doc_id" < 200))
      .collect().sortBy(_.asset_id)
      .map(a => (a.asset_id, a.content, ts(a.asset_id)))
    val in = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q = in.toDF().toDF("asset_id", "content", "ts")
      .writeStream
      .foreachBatch(StreamingMultimodal.indexRefreshBatches(dir, Media.Video))
      .start()
    try {
      in.addData(arrivals.take(50).toSeq: _*); q.processAllAvailable()
      in.addData(arrivals.drop(50).toSeq: _*); q.processAllAvailable()
    } finally q.stop()

    // contract: the landed per-frame table equals a batch re-fingerprint
    // of corpus ∪ arrivals, bit for bit (doc, n_frames, frame, fp)
    val served = spark.read.parquet(dir)
      .select(col("doc_id"), col("n_frames"), col("frame_idx"), col("fp"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val rebuilt = Multimodal
      .videoScan(spark, docs.filter($"doc_id" < 200))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(served.map(_._1).size == rebuilt.map(_._1).size)
    assert(served == rebuilt,
      s"only-served=${(served -- rebuilt).take(3)} " +
        s"only-rebuilt=${(rebuilt -- served).take(3)}")

    // freshness: probes screened against the REFRESHED index must hit
    // streamed-in arrivals (ids >= 100), which the static corpus alone
    // could never flag — verified against brute force over the union
    val probes = Multimodal
      .neardupVideoAssets(spark,
        docs.filter($"doc_id" >= 60 && $"doc_id" < 100))
      .collect()
      .map(a => (a.asset_id, a.content, ts(a.asset_id)))
    val in2 = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q2 = StreamingMultimodal.screenVideo(
        in2.toDF().toDF("asset_id", "content", "ts"),
        "ts", "0 seconds",
        StreamingMultimodal.videoCorpusSeqs(spark.read.parquet(dir)),
        Dedup.Bands63, maxPerFrame = 3)
      .writeStream.format("memory").queryName("refresh_vid_screen")
      .outputMode("append").start()
    val got = try {
      in2.addData(probes.toSeq: _*)
      q2.processAllAvailable()
      spark.table("refresh_vid_screen")
        .select($"asset_id", $"corpus_id", $"hamming")
        .as[(Long, Long, Long)].collect().toSet
    } finally q2.stop()
    def seqsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "frame_idx", "fp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toIndexedSeq }
    val union = seqsOf(spark.read.parquet(dir))
    val probeSeqs = seqsOf(Multimodal.videoScan(spark,
      docs.filter($"doc_id" >= 60 && $"doc_id" < 100)))
    val expected = (for {
      (aid, af) <- probeSeqs.toSeq
      (cid, cf) <- union.toSeq
      if cid != aid && af.length == cf.length
      perFrame = af.zip(cf).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }
      if perFrame.max <= 3
    } yield (aid, cid, perFrame.map(_.toLong).sum)).toSet
    assert(got == expected,
      s"only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    assert(got.exists(_._2 >= 100),
      "refreshed index must surface streamed-in arrivals as near-dups")
  }

  test("stream video screen equals brute force over full frame sequences") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
    val corpusDocs = docs.filter($"doc_id" < 200)
    // persisted per-frame index, rolled up to sequences (the serving path
    // reads the landed table, not the builder lineage)
    val dir = java.nio.file.Files.createTempDirectory("vidfp").toString
    Multimodal.videoScan(spark, corpusDocs).write.mode("overwrite").parquet(dir)
    val corpusSeqs = StreamingMultimodal.videoCorpusSeqs(
      spark.read.parquet(dir))

    val arrivals = Multimodal
      .neardupVideoAssets(spark,
        docs.filter($"doc_id" >= 60 && $"doc_id" < 100))
      .collect()
      .map(a => (a.asset_id, a.content, ts(a.asset_id)))

    val in = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q = StreamingMultimodal.screenVideo(
        in.toDF().toDF("asset_id", "content", "ts"),
        "ts", "0 seconds", corpusSeqs, Dedup.Bands63, maxPerFrame = 3)
      .writeStream.format("memory").queryName("stream_vid_screen")
      .outputMode("append").start()
    val got = try {
      in.addData(arrivals.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_vid_screen")
        .select($"asset_id", $"corpus_id", $"hamming")
        .as[(Long, Long, Long)].collect().toSet
    } finally q.stop()

    // batch truth: brute force over full frame sequences (equal frame
    // counts, every aligned frame within the radius)
    def seqsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "frame_idx", "fp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toIndexedSeq }
    val corpus = seqsOf(Multimodal.videoScan(spark, corpusDocs))
    val arr = seqsOf(Multimodal.videoScan(spark,
      docs.filter($"doc_id" >= 60 && $"doc_id" < 100)))
    val expected = (for {
      (aid, af) <- arr.toSeq
      (cid, cf) <- corpus.toSeq
      if cid != aid && af.length == cf.length
      perFrame = af.zip(cf).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }
      if perFrame.max <= 3
    } yield (aid, cid, perFrame.map(_.toLong).sum)).toSet

    assert(got == expected,
      s"only-stream=${(got -- expected).take(3)} " +
        s"only-batch=${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "fixture must produce corpus hits")
    assert(expected.exists(_._3 > 0), "must include true near dups, not just exact")
  }
}
