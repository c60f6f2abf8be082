package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{CacheScope, Dedup, Handoff, Media, MediaPipeline, Multimodal}

/** Multimodal-pipeline queries. `multimodal_meta` (binary payload + typed
  * metadata extraction) is oracle-checked; the decode/feature path runs
  * through the typed `mapPartitions` stages (driver rows-only check +
  * scalatest, since the stub decoder is not SQL-expressible).
  */
object MultimodalJobs {

  /** Binary ingestion + metadata projection: payload byte length, content
    * hash, and the typed metadata columns.
    */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.assetsFromDocuments(spark, Tables.documents(spark, sfDir))
      .toDF()
      .select(
        col("asset_id"),
        octet_length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("content_md5"),
        col("kind"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"))

  val multimodalMetaSql: String =
    """SELECT doc_id AS asset_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5,
      |  ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
      |  64 + (doc_id % 8) * 32 AS width,
      |  64 + ((doc_id // 8) % 8) * 32 AS height,
      |  1 + doc_id % 30 AS n_frames
      |FROM documents""".stripMargin

  private val STRIPES = 4
  private val FRAME_TARGET = 8

  /** Decode → stripe features over the binary payloads. IMAGE rows
    * (doc_id % 3 == 0) carry REAL synthesized PNGs decoded through
    * `javax.imageio`; AUDIO rows (doc_id % 3 == 1) carry REAL synthesized
    * WAVs decoded through `javax.sound.sampled` — the oracle recomputes
    * both expected pixel/sample streams arithmetically
    * (`Multimodal.pixelValue`; PNG and PCM round-trips are lossless), so a
    * broken decoder fails the hash gate. Video rows keep the opaque
    * payload + stub decode (no JDK video codec exists). The library keeps
    * the vector form (`AssetFeatures.feature`); the declared query
    * flattens it to one scalar column per stripe so the output is a plain
    * comparable relation.
    */
  def multimodalFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val opaque = Multimodal.assetsFromDocuments(spark, docs)
      .where(col("kind") === "video")
    val images = Multimodal.imageAssets(spark,
      docs.where(col("doc_id") % 3 === 0))
    val audio = Multimodal.audioAssets(spark,
      docs.where(col("doc_id") % 3 === 1))
    val feats = Multimodal.extractFeatures(
      opaque.unionByName(images).unionByName(audio),
      stripes = STRIPES, frameTarget = FRAME_TARGET).toDF()
    val stripeCols = (0 until STRIPES)
      .map(i => col("feature")(i).as(s"stripe_$i"))
    feats.select(
      Seq(col("asset_id"), col("n_bytes"), col("mean_byte"),
        col("frames_sampled").cast("long").as("frames_sampled")) ++ stripeCols: _*)
  }

  /** DuckDB restatement of the decode pipeline. Audio/video rows: the
    * "decoded samples" are the UTF-8 bytes of `text` (exactly what
    * `decodeStub` yields), read positionally out of `hex(encode(text))`.
    * IMAGE rows: the expected pixels of the synthesized PNGs, recomputed
    * arithmetically from `Multimodal.pixelValue`'s formula — the Spark
    * side reaches the same bytes only by encoding a real PNG and decoding
    * it back through `javax.imageio`, so this branch hash-checks the
    * actual codec round-trip. Stripe bounds are the same integer-division
    * cuts; rounding uses the shared `+1e-9` nudge.
    */
  val multimodalFeaturesSql: String = {
    val hexDigit = (off: String) =>
      s"(strpos('0123456789ABCDEF', substr(h, $off, 1)) - 1)"
    val stripeCase = (1 until STRIPES)
      .map(s => s"WHEN i < n * $s // $STRIPES THEN ${s - 1}")
      .mkString(" ")
    val sCols = (0 until STRIPES)
      .map(s => s"MAX(CASE WHEN stripe = $s THEN m ELSE 0.0 END) AS s$s")
      .mkString(", ")
    val sSum = (0 until STRIPES).map(s => s"COALESCE(s$s, 0.0)").mkString(" + ")
    val sOut = (0 until STRIPES)
      .map(s => s"ROUND(COALESCE(s$s, 0.0) + 1e-9, 4) AS stripe_$s")
      .mkString(",\n  ")
    s"""WITH txt AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |         octet_length(encode(text)) AS n,
       |         1 + doc_id % 30 AS nf
       |  FROM documents WHERE doc_id % 3 = 2
       |), img AS (
       |  SELECT doc_id, 8 + doc_id % 5 AS w,
       |         (8 + doc_id % 5) * (6 + doc_id % 4) AS n,
       |         1 + doc_id % 30 AS nf
       |  FROM documents WHERE doc_id % 3 = 0
       |), aud AS (
       |  SELECT doc_id, 48 + doc_id % 56 AS n, 1 + doc_id % 30 AS nf
       |  FROM documents WHERE doc_id % 3 = 1
       |), meta AS (
       |  SELECT doc_id, n, nf FROM txt
       |  UNION ALL SELECT doc_id, n, nf FROM img
       |  UNION ALL SELECT doc_id, n, nf FROM aud
       |), bytes AS (
       |  SELECT doc_id, n,
       |    ${hexDigit("2*i + 1")} * 16 + ${hexDigit("2*i + 2")} AS byte,
       |    CASE $stripeCase ELSE ${STRIPES - 1} END AS stripe
       |  FROM (SELECT doc_id, h, n, unnest(range(0, n)) AS i FROM txt)
       |  UNION ALL
       |  SELECT doc_id, n,
       |    (31 * doc_id + 7 * (i % w) + 13 * (i // w)) % 256 AS byte,
       |    CASE $stripeCase ELSE ${STRIPES - 1} END AS stripe
       |  FROM (SELECT doc_id, w, n, unnest(range(0, n)) AS i FROM img)
       |  UNION ALL
       |  SELECT doc_id, n,
       |    (31 * doc_id + 7 * i) % 256 AS byte,
       |    CASE $stripeCase ELSE ${STRIPES - 1} END AS stripe
       |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM aud)
       |), sm AS (
       |  SELECT doc_id, stripe, AVG(byte) AS m FROM bytes GROUP BY 1, 2
       |), agg AS (
       |  SELECT doc_id, $sCols FROM sm GROUP BY doc_id
       |)
       |SELECT meta.doc_id AS asset_id,
       |  CAST(meta.n AS BIGINT) AS n_bytes,
       |  ROUND(($sSum) / $STRIPES + 1e-9, 4) AS mean_byte,
       |  LEAST($FRAME_TARGET,
       |    (nf + CAST(ceil(nf / $FRAME_TARGET.0) AS BIGINT) - 1)
       |      // CAST(ceil(nf / $FRAME_TARGET.0) AS BIGINT)) AS frames_sampled,
       |  $sOut
       |FROM meta LEFT JOIN agg ON agg.doc_id = meta.doc_id""".stripMargin
  }

  private val RESIZE_MAX_SIDE = 64

  /** Resize stage as a declared query: proportional metadata scaling +
    * payload truncation (the stubbed transform with real plumbing),
    * projected to scalar outputs.
    */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.resize(
        Multimodal.assetsFromDocuments(spark, Tables.documents(spark, sfDir)),
        maxSide = RESIZE_MAX_SIDE).toDF()
      .select(col("asset_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        octet_length(col("content")).cast("long").as("n_bytes"))

  /** Same arithmetic in SQL. Scala's `.toInt` truncates toward zero while
    * DuckDB's double→int CAST rounds — hence TRUNC before every cast.
    */
  val multimodalResizeSql: String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id,
       |    64 + (doc_id % 8) * 32 AS w,
       |    64 + ((doc_id // 8) % 8) * 32 AS h,
       |    octet_length(encode(text)) AS n
       |  FROM documents
       |), s AS (
       |  SELECT asset_id, w, h, n,
       |    LEAST(1.0, $RESIZE_MAX_SIDE.0 / GREATEST(w, h)) AS scale
       |  FROM a
       |)
       |SELECT asset_id,
       |  CAST(GREATEST(1, CAST(TRUNC(w * scale) AS BIGINT)) AS BIGINT) AS width,
       |  CAST(GREATEST(1, CAST(TRUNC(h * scale) AS BIGINT)) AS BIGINT) AS height,
       |  CAST(LEAST(n, GREATEST(1, CAST(TRUNC(n * scale * scale) AS BIGINT)))
       |    AS BIGINT) AS n_bytes -- take(keep) can't exceed the payload
       |FROM s""".stripMargin

  private[graft] val NEARDUP_MAX_HAMMING = 3

  /** The modality's one decode pass over the documents corpus, its caches
    * owned by `scope`.
    */
  private def pipelineOf(m: Media, spark: SparkSession, sfDir: String,
      scope: CacheScope): MediaPipeline =
    new MediaPipeline(Tables.documents(spark, sfDir), m, NEARDUP_MAX_HAMMING,
      scope)

  /** Perceptual near-dup pairs (doc_a, doc_b, hamming) — the LAION-style
    * dedup step, for each modality off its [[MediaPipeline]]: REAL
    * payloads (PNG through `javax.imageio`, WAV through
    * `javax.sound.sampled`, RAWV byte-level parse) decode, fingerprint
    * ([[Multimodal.dHash63]], [[Multimodal.audioFp63]], per-frame dHash),
    * and pair up through banded Hamming LSH with identity compression
    * ([[graft.ops.Dedup.hammingPairsAuto]], corpus-scaled band widths) —
    * per-band int equi-joins on distinct fingerprints, never all-pairs.
    * Video pairs need equal frame counts and every aligned frame within
    * the radius; its `hamming` is the total across frames.
    *
    * The oracle recomputes the pixels/samples arithmetically (PNG and PCM
    * are lossless), re-derives every fingerprint bit-for-bit, and takes
    * ALL pairs within the radius — hash-equality therefore proves both the
    * real decode path and the LSH's losslessness at this radius.
    */
  def neardup(m: Media)(spark: SparkSession, sfDir: String): DataFrame =
    CacheScope.scoped { scope =>
      Handoff.cut(pipelineOf(m, spark, sfDir, scope).pairs)
    }

  /** Cluster resolution — the step a media-dedup pipeline runs after
    * candidate pairing, exactly as `dedup_clusters` does for text: every
    * asset labelled with the minimum doc_id reachable through the near-dup
    * pair graph ([[graft.ops.Dedup.connectedComponents]] — at this graph
    * size the single-task union-find path). Singletons keep their own id.
    */
  def clusters(m: Media)(spark: SparkSession, sfDir: String): DataFrame = {
    // Cluster resolution reads only the slim (doc_id) / (doc_a, doc_b)
    // frames, so both are cut and every pipeline cache (decode scan,
    // distinct-fingerprint frame) is released BEFORE the components pass
    // runs — the cross_modal_clusters footprint playbook (the r14
    // driver-memory gap; video's per-FRAME scan is the biggest win).
    val (ids, edges) = CacheScope.scoped { scope =>
      val p = pipelineOf(m, spark, sfDir, scope)
      (Handoff.cut(p.anchors.select(col("doc_id"))),
        Handoff.cut(p.pairs.select(col("doc_a"), col("doc_b"))))
    }
    Dedup.connectedComponents(ids, edges)
  }

  /** Composed curation pass — the multimodal analogue of
    * `curation_pipeline`: ONE decode scan yields per-asset metadata
    * (decoded, not declared — the codec stays in the loop) and the
    * fingerprint; near-dup clusters resolve over the pairs; the keeper rule
    * (minimum id per cluster) and per-cluster dup mass land on every row.
    * Output: (asset_id, metadata..., cluster, is_keeper, cluster_size),
    * metadata image (width, height, n_pixels), audio (n_samples), video
    * (n_frames).
    */
  def curation(m: Media)(spark: SparkSession, sfDir: String): DataFrame =
    CacheScope.scoped { scope =>
      Handoff.cut(pipelineOf(m, spark, sfDir, scope).curation)
    }

  val imageNeardup: (SparkSession, String) => DataFrame = neardup(Media.Image)
  val imageClusters: (SparkSession, String) => DataFrame = clusters(Media.Image)
  val imageCuration: (SparkSession, String) => DataFrame = curation(Media.Image)
  val audioNeardup: (SparkSession, String) => DataFrame = neardup(Media.Audio)
  val audioClusters: (SparkSession, String) => DataFrame = clusters(Media.Audio)
  val audioCuration: (SparkSession, String) => DataFrame = curation(Media.Audio)
  val videoNeardup: (SparkSession, String) => DataFrame = neardup(Media.Video)
  val videoClusters: (SparkSession, String) => DataFrame = clusters(Media.Video)
  val videoCuration: (SparkSession, String) => DataFrame = curation(Media.Video)

  /** The dHash pipeline restated for the oracles: pixel mix (two
    * multiplicative steps mod 2^31−1 with xor-shifts between — every
    * intermediate < 2^47, BIGINT-exact), per-id perturbation,
    * floor-scaled 9×8 grid samples, 63-bit pack (SUM of shifted bits;
    * DuckDB SUM(BIGINT) is HUGEINT, hence the cast). Ends at `fp`
    * (doc_id, f); dims in `dim`.
    */
  private val imageFpCtes: String =
    s"""grid AS (
       |  SELECT gr, gc FROM (SELECT unnest(range(0, 8)) AS gr),
       |                     (SELECT unnest(range(0, 8)) AS gc)
       |  WHERE NOT (gr = 7 AND gc = 7)
       |), dim AS (
       |  SELECT doc_id, doc_id // ${Multimodal.NeardupGroup} AS base,
       |         16 + (doc_id // ${Multimodal.NeardupGroup}) % 5 AS w,
       |         12 + (doc_id // ${Multimodal.NeardupGroup}) % 4 AS h
       |  FROM documents
       |), samples AS (
       |  SELECT doc_id, base, gr, gc, pos,
       |         CASE WHEN pos = 0 THEN gc * w // 9
       |              ELSE (gc + 1) * w // 9 END AS x,
       |         gr * h // 8 AS y
       |  FROM dim CROSS JOIN grid CROSS JOIN (SELECT unnest([0, 1]) AS pos)
       |), m0 AS (
       |  SELECT *, (base * 2654435761 + x * 40503 + y * 104729)
       |            % 2147483647 AS h0 FROM samples
       |), m1 AS (SELECT *, xor(h0, h0 >> 15) AS h1 FROM m0
       |), m2 AS (SELECT *, (h1 * 48271) % 2147483647 AS h2 FROM m1
       |), m3 AS (SELECT *, xor(h2, h2 >> 13) AS h3 FROM m2
       |), pv AS (
       |  SELECT doc_id, gr, gc, pos,
       |         (((h3 * 16807) % 2147483647) % 256
       |          + CASE WHEN (x * 7 + y) % 37 < doc_id % ${Multimodal.NeardupGroup}
       |                 THEN 1 ELSE 0 END) % 256 AS p
       |  FROM m3
       |), cmp AS (
       |  SELECT doc_id, gr, gc,
       |         MAX(CASE WHEN pos = 0 THEN p END) AS pl,
       |         MAX(CASE WHEN pos = 1 THEN p END) AS pr
       |  FROM pv GROUP BY 1, 2, 3
       |), fp AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN pr > pl THEN 1::BIGINT << (gr * 8 + gc)
       |                       ELSE 0 END) AS BIGINT) AS f
       |  FROM cmp GROUP BY doc_id
       |)""".stripMargin

  /** The audio fingerprint restated for the oracles: avalanche sample mix
    * (BIGINT-exact, every intermediate < 2^47), per-id perturbation,
    * floor-scaled frame assignment i·64 // n, integer frame-energy sums,
    * adjacent-comparison sign bits packed to 63 bits. Ends at `fp`
    * (doc_id, f); clip lengths in `dim`.
    */
  private val audioFpCtes: String =
    s"""dim AS (
       |  SELECT doc_id, doc_id // ${Multimodal.NeardupGroup} AS base,
       |         192 + (doc_id // ${Multimodal.NeardupGroup}) % 64 AS n
       |  FROM documents
       |), samp AS (
       |  SELECT doc_id, base, n, unnest(range(0, n)) AS i FROM dim
       |), m0 AS (
       |  SELECT *, (base * 2654435761 + i * 40503) % 2147483647 AS h0
       |  FROM samp
       |), m1 AS (SELECT *, xor(h0, h0 >> 15) AS h1 FROM m0
       |), m2 AS (SELECT *, (h1 * 48271) % 2147483647 AS h2 FROM m1
       |), m3 AS (SELECT *, xor(h2, h2 >> 13) AS h3 FROM m2
       |), pv AS (
       |  SELECT doc_id, i * ${Multimodal.AudioFrames} // n AS frame,
       |         (((h3 * 16807) % 2147483647) % 256
       |          + CASE WHEN (i * 7) % 37 < doc_id % ${Multimodal.NeardupGroup}
       |                 THEN 1 ELSE 0 END) % 256 AS s
       |  FROM m3
       |), fsum AS (
       |  SELECT doc_id, frame, SUM(s) AS e FROM pv GROUP BY 1, 2
       |), fp AS (
       |  SELECT a.doc_id,
       |         CAST(SUM(CASE WHEN b.e > a.e THEN 1::BIGINT << a.frame
       |                       ELSE 0 END) AS BIGINT) AS f
       |  FROM fsum a JOIN fsum b
       |    ON b.doc_id = a.doc_id AND b.frame = a.frame + 1
       |  GROUP BY a.doc_id
       |)""".stripMargin

  /** The per-frame video fingerprint restated for the oracles: the
    * [[imageFpCtes]] avalanche chain extended with the frame term (f·69491
    * in the mix, f·11 in the perturbation window) and the per-base frame
    * count — (doc_id, f, fp) rows in `vfp`, dims in `dim`, and the
    * brute-force frame-aligned pair aggregate in `vpairs`. Frame indices
    * come from a SELECT-level `unnest(range(...))` (DuckDB can't take
    * lateral column parameters in FROM — CLAUDE.md r9).
    */
  private val videoFpCtes: String =
    s"""grid AS (
       |  SELECT gr, gc FROM (SELECT unnest(range(0, 8)) AS gr),
       |                     (SELECT unnest(range(0, 8)) AS gc)
       |  WHERE NOT (gr = 7 AND gc = 7)
       |), dim AS (
       |  SELECT doc_id, doc_id // ${Multimodal.NeardupGroup} AS base,
       |         16 + (doc_id // ${Multimodal.NeardupGroup}) % 5 AS w,
       |         12 + (doc_id // ${Multimodal.NeardupGroup}) % 4 AS h,
       |         4 + (doc_id // ${Multimodal.NeardupGroup}) % 4 AS nf
       |  FROM documents
       |), vframes AS (
       |  SELECT doc_id, base, w, h, nf, unnest(range(0, nf)) AS f FROM dim
       |), vsamples AS (
       |  SELECT doc_id, base, f, gr, gc, pos,
       |         CASE WHEN pos = 0 THEN gc * w // 9
       |              ELSE (gc + 1) * w // 9 END AS x,
       |         gr * h // 8 AS y
       |  FROM vframes CROSS JOIN grid CROSS JOIN (SELECT unnest([0, 1]) AS pos)
       |), vm0 AS (
       |  SELECT *, (base * 2654435761 + f * 69491 + x * 40503 + y * 104729)
       |            % 2147483647 AS h0 FROM vsamples
       |), vm1 AS (SELECT *, xor(h0, h0 >> 15) AS h1 FROM vm0
       |), vm2 AS (SELECT *, (h1 * 48271) % 2147483647 AS h2 FROM vm1
       |), vm3 AS (SELECT *, xor(h2, h2 >> 13) AS h3 FROM vm2
       |), vpv AS (
       |  SELECT doc_id, f, gr, gc, pos,
       |         (((h3 * 16807) % 2147483647) % 256
       |          + CASE WHEN (x * 7 + y + f * 11) % 37
       |                      < doc_id % ${Multimodal.NeardupGroup}
       |                 THEN 1 ELSE 0 END) % 256 AS p
       |  FROM vm3
       |), vcmp AS (
       |  SELECT doc_id, f, gr, gc,
       |         MAX(CASE WHEN pos = 0 THEN p END) AS pl,
       |         MAX(CASE WHEN pos = 1 THEN p END) AS pr
       |  FROM vpv GROUP BY 1, 2, 3, 4
       |), vfp AS (
       |  SELECT doc_id, f,
       |         CAST(SUM(CASE WHEN pr > pl THEN 1::BIGINT << (gr * 8 + gc)
       |                       ELSE 0 END) AS BIGINT) AS fp
       |  FROM vcmp GROUP BY doc_id, f
       |), vpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(SUM(bit_count(xor(a.fp, b.fp))) AS BIGINT) AS hamming,
       |         MAX(bit_count(xor(a.fp, b.fp))) AS maxh,
       |         COUNT(*) AS n_aligned, da.nf AS nf
       |  FROM vfp a JOIN vfp b ON a.f = b.f AND a.doc_id < b.doc_id
       |  JOIN dim da ON da.doc_id = a.doc_id
       |  JOIN dim db ON db.doc_id = b.doc_id AND db.nf = da.nf
       |  GROUP BY a.doc_id, b.doc_id, da.nf
       |)""".stripMargin

  /** A modality's oracle: its fingerprint CTEs (with the metadata relation
    * `dim`), the brute-force near-dup pair SELECT (doc_a, doc_b, hamming)
    * over them, and its curation metadata columns read off `dim` d.
    */
  private final case class MediaSql(ctes: String, pairs: String, meta: String)

  private def mediaSql(m: Media): MediaSql = m match {
    case Media.Image => MediaSql(imageFpCtes,
      OracleSql.hammingPairsSql("fp", NEARDUP_MAX_HAMMING),
      "CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,\n" +
        "       CAST(d.w * d.h AS BIGINT) AS n_pixels")
    case Media.Audio => MediaSql(audioFpCtes,
      OracleSql.hammingPairsSql("fp", NEARDUP_MAX_HAMMING),
      "CAST(d.n AS BIGINT) AS n_samples")
    // equal frame counts, every aligned frame within the radius
    case Media.Video => MediaSql(videoFpCtes,
      s"""SELECT doc_a, doc_b, hamming FROM vpairs
         |WHERE maxh <= $NEARDUP_MAX_HAMMING AND n_aligned = nf""".stripMargin,
      "CAST(d.nf AS BIGINT) AS n_frames")
  }

  /** [[neardup]]'s oracle: every pair within the radius, brute force. */
  def neardupSql(m: Media): String = {
    val o = mediaSql(m)
    s"WITH ${o.ctes}\n${o.pairs}"
  }

  /** [[neardupSql]] restricted to pairs touching the doc_id % 5 == 0
    * delta — the oracle of `<modality>_index_incremental`
    * ([[ArtifactJobs.indexIncremental]]): DuckDB recomputes every
    * fingerprint in-line, so hash-equality proves the stored-index +
    * delta-only decode path loses nothing vs re-decoding the corpus.
    */
  def neardupDeltaSql(m: Media): String = {
    val o = mediaSql(m)
    s"""WITH ${o.ctes}, pairs AS (
       |${o.pairs}
       |)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE doc_a % 5 = 0 OR doc_b % 5 = 0""".stripMargin
  }

  /** The pair CTEs plus the transitive closure ending at `clusters`. */
  private def clusterCtes(m: Media): String = {
    val o = mediaSql(m)
    s"""${o.ctes}, pairs AS (
       |${o.pairs}
       |), ${OracleSql.componentsSql("documents", "pairs")}""".stripMargin
  }

  /** [[clusters]]' oracle: the closure over the brute-force pairs. */
  def clustersSql(m: Media): String =
    s"""WITH RECURSIVE ${clusterCtes(m)}
       |SELECT doc_id, cluster FROM clusters""".stripMargin

  /** [[curation]]'s oracle: the closure clusters + size counts; the
    * metadata restated arithmetically (PNG, PCM and RAWV are lossless, so
    * the decoded sizes are the planted ones).
    */
  def curationSql(m: Media): String =
    s"""WITH RECURSIVE ${clusterCtes(m)}, sizes AS (
       |  SELECT cluster, COUNT(*) AS cluster_size FROM clusters GROUP BY 1
       |)
       |SELECT c.doc_id AS asset_id, ${mediaSql(m).meta},
       |       c.cluster, c.doc_id = c.cluster AS is_keeper,
       |       CAST(s.cluster_size AS BIGINT) AS cluster_size
       |FROM clusters c
       |JOIN dim d ON d.doc_id = c.doc_id
       |JOIN sizes s ON s.cluster = c.cluster""".stripMargin

  /** The image [[neardupSql]] rebuilt from the SURVIVING corpus — the
    * oracle of `index_erasure` ([[ArtifactJobs.indexErasure]]): every dHash
    * is a per-document function, so restricting the `fp` relation to
    * doc_id % 29 <> 7 IS the relation the full fp CTEs produce over
    * `documents WHERE doc_id % 29 <> 7` — DuckDB recomputes the surviving
    * fingerprints in-line and hash-equality proves the purged persisted
    * index serves exactly what a rebuild from survivors would.
    */
  val imageNeardupSurvivorsSql: String =
    s"""WITH $imageFpCtes, sfp AS (
       |  SELECT doc_id, f FROM fp WHERE doc_id % 29 <> 7
       |)
       |${OracleSql.hammingPairsSql("sfp", NEARDUP_MAX_HAMMING)}""".stripMargin

  /** Cross-modal thumbnail-to-video linking: every (image, video) pair
    * whose image dHash is within the Hamming radius of the video's ANCHOR
    * (frame 0) fingerprint — the retrieval join that attaches stills to
    * the clips they were cut from. Both sides run their REAL decode
    * (PNG via `javax.imageio`, RAWV byte-level parse); the planted
    * fixture shares the base pattern at f = 0, so every id links to its
    * own clip at Hamming 0 plus its near-dup family (the spec pins this).
    *
    * Scale shape: a BIPARTITE banded Hamming join, expressed through the
    * same [[graft.ops.Dedup.hammingPairsAuto]] machinery by tagging the
    * two sides with id parity (image 2i, video 2j+1) and keeping only
    * cross-parity pairs — every (i, j) combination surfaces exactly once
    * (as the unordered union-id pair {2i, 2j+1}), and identity compression
    * and the measured band plan carry over unchanged. Output (image_id,
    * video_id, hamming), both directions, self-matches included.
    */
  def thumbnailMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val img = Multimodal.imageFingerprints(spark, docs)
      .select((col("doc_id") * 2).as("doc_id"), col("fp"))
    val vid = Media.Video.anchors(Multimodal.videoScan(spark, docs))
      .select((col("doc_id") * 2 + 1).as("doc_id"), col("fp"))
    CacheScope.scoped { scope =>
      Handoff.cut(Dedup.hammingPairsAuto(img.unionByName(vid),
          NEARDUP_MAX_HAMMING, scope)
        .filter(col("doc_a") % 2 =!= col("doc_b") % 2)
        .select(
          expr("if(doc_a % 2 = 0, doc_a, doc_b) div 2").as("image_id"),
          expr("if(doc_a % 2 = 0, doc_b, doc_a) div 2").as("video_id"),
          col("hamming")))
    }
  }

  /** Oracle: the image fingerprint at f = 0 of the shared arithmetic
    * pattern (the image pixel formula IS the video formula at f = 0 —
    * both engines recompute it) crossed against every video anchor
    * within the radius.
    */
  val thumbnailMatchSql: String =
    s"""WITH $videoFpCtes
       |SELECT i.doc_id AS image_id, v.doc_id AS video_id,
       |       CAST(bit_count(xor(i.fp, v.fp)) AS BIGINT) AS hamming
       |FROM (SELECT doc_id, fp FROM vfp WHERE f = 0) i
       |JOIN (SELECT doc_id, fp FROM vfp WHERE f = 0) v ON TRUE
       |WHERE bit_count(xor(i.fp, v.fp)) <= $NEARDUP_MAX_HAMMING""".stripMargin

  private val PAIR_MIN_QT = 4000L // heuristic quality ≥ 0.4, 10⁴-scaled

  /** CLIP-style (image, caption) training-pair manifest — the cross-modal
    * curation compose: each document's image asset joins its caption
    * text; a pair is KEPT when the image is its near-dup cluster's keeper
    * (the LAION collapse rule, from the shared decode pass) AND the
    * caption clears the heuristic quality gate. Emits the full manifest
    * with the keep bit so mixture planning can re-weight rather than
    * re-derive.
    *
    * Scale shape: one decoded-image pass (the `image_curation` lineage,
    * shared via [[graft.ops.MediaPipeline]]) + one text scan, joined on
    * the int doc key — the caption side never touches pixels and the
    * image side never parses text.
    */
  def multimodalPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("text")
    val txt = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        round(graft.ops.TextAnalysis.qualityScore(
          graft.ops.TextAnalysis.tokenCount(t),
          graft.ops.TextAnalysis.stopwordCount(t)) * 10000 + lit(1e-9))
          .cast("long").as("qt"))
    imageCuration(spark, sfDir)
      .join(txt, col("asset_id") === col("doc_id"))
      .select(col("doc_id"), col("width"), col("height"), col("qt"),
        col("cluster_size"),
        (col("is_keeper") && col("qt") >= PAIR_MIN_QT).as("keep"))
  }

  /** Oracle: the `image_curation` SQL verbatim as a CTE + the textStats
    * quality expression, same join and keep rule.
    */
  val multimodalPairsSql: String =
    s"""WITH cur AS (${curationSql(Media.Image)}
       |), q AS (
       |  SELECT doc_id,
       |         CAST(ROUND(ROUND(
       |    least(CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE) / 100.0, 1.0) * 0.6 +
       |    (CAST(length(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is|on|for|with)\\b')) AS DOUBLE)
       |      / CAST(greatest(length(regexp_extract_all(text, '[A-Za-z0-9]+')), 1) AS DOUBLE)) * 0.4
       |    + 1e-9, 4) * 10000 + 1e-9) AS BIGINT) AS qt
       |  FROM documents
       |)
       |SELECT q.doc_id, cur.width, cur.height, q.qt, cur.cluster_size,
       |       (cur.asset_id = cur.cluster AND q.qt >= $PAIR_MIN_QT) AS keep
       |FROM cur JOIN q ON q.doc_id = cur.asset_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_pairs" -> multimodalPairs,
    "multimodal_meta" -> multimodalMeta,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_resize" -> multimodalResize,
    "image_neardup" -> imageNeardup,
    "image_clusters" -> imageClusters,
    "image_curation" -> imageCuration,
    "audio_neardup" -> audioNeardup,
    "audio_clusters" -> audioClusters,
    "audio_curation" -> audioCuration,
    "video_neardup" -> videoNeardup,
    "video_clusters" -> videoClusters,
    "video_curation" -> videoCuration,
    "thumbnail_match" -> thumbnailMatch)

  val oracles: Map[String, String] = Map(
    "multimodal_pairs" -> multimodalPairsSql,
    "multimodal_meta" -> multimodalMetaSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_resize" -> multimodalResizeSql,
    "image_neardup" -> neardupSql(Media.Image),
    "image_clusters" -> clustersSql(Media.Image),
    "image_curation" -> curationSql(Media.Image),
    "audio_neardup" -> neardupSql(Media.Audio),
    "audio_clusters" -> clustersSql(Media.Audio),
    "audio_curation" -> curationSql(Media.Audio),
    "video_neardup" -> neardupSql(Media.Video),
    "video_clusters" -> clustersSql(Media.Video),
    "video_curation" -> curationSql(Media.Video),
    "thumbnail_match" -> thumbnailMatchSql)
}
