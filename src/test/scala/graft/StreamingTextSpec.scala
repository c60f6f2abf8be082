package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingText

/** The stateless ingest screen must emit, on a stream, exactly the rows
  * and decisions the same expressions produce in batch — including the
  * custom codegen classifier expression, which this spec proves runs
  * inside streaming micro-batch plans.
  */
class StreamingTextSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private val arrivals = Seq(
    (1L, "this is a perfectly normal little sentence today.", ts(100)),
    (2L, "ends without terminal punctuation at all here", ts(101)),
    (3L, "code page follows { return x; } and then ends here.", ts(102)),
    (4L, "short.", ts(103)),
    (5L, "contact me at alice@example.com for all the details today.", ts(104)))

  test("stream screen equals the batch screen row for row") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingText.screen(in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("stream_text_screen")
      .outputMode("append").start()
    val got = try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      spark.table("stream_text_screen").drop("ts").collect()
        .map(_.toSeq).toSet
    } finally q.stop()

    val want = StreamingText.screen(
        arrivals.toDF("doc_id", "text", "ts")).drop("ts")
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)

    // and the screen actually screens: doc 1 admitted, 2 (no terminal
    // punct), 3 (braces), 4 (too short) rejected; 5's email is scrubbed
    val byId = spark.table("stream_text_screen").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Boolean]("kept"))
    assert(!byId(2L).getAs[Boolean]("kept"))
    assert(!byId(3L).getAs[Boolean]("kept"))
    assert(!byId(4L).getAs[Boolean]("kept"))
    assert(!byId(5L).getAs[String]("text_redacted").contains("alice@"))
    byId.values.foreach { r =>
      assert(r.getAs[Boolean]("admit") ==
        (r.getAs[Boolean]("kept") && r.getAs[Boolean]("keep_model")))
    }
  }

  test("in-flight repetition trim is bit-equal to the batch op on real docs") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect().map {
      case (id, t) => (id, t, ts(id)) }

    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingText.cleanRepetitions(
        in.toDF().toDF("doc_id", "text", "ts"), w = 3)
      .writeStream.format("memory").queryName("stream_rep_clean")
      .outputMode("append").start()
    val got = try {
      in.addData(rows.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_rep_clean").collect().map(_.toSeq).toSet
    } finally q.stop()

    val want = graft.ops.Dedup.repetitionClean(docs, 3)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // and the fixture actually exercises removals
    assert(want.exists(_(2).asInstanceOf[Long] > 0L),
      "corpus must contain intra-doc repeats at w=3")
  }

  test("repetition trim splits words exactly as the batch op on edge whitespace") {
    implicit val sqlCtx = spark.sqlContext
    // Spark's trim strips spaces only, so the leading tab and trailing
    // newline each leave an empty word in the batch split
    val rows = Seq(
      (1L, "\tx y z x y z", ts(1)),
      (2L, "x y z x y z\n", ts(2)),
      (3L, "a plain line a plain line again", ts(3)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingText.cleanRepetitions(
        in.toDF().toDF("doc_id", "text", "ts"), w = 3)
      .writeStream.format("memory").queryName("stream_rep_clean_edges")
      .outputMode("append").start()
    val got = try {
      in.addData(rows: _*)
      q.processAllAvailable()
      spark.table("stream_rep_clean_edges").collect().map(_.toSeq).toSet
    } finally q.stop()

    val want = graft.ops.Dedup.repetitionClean(
        rows.map(r => (r._1, r._2)).toDF("doc_id", "text"), 3)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(want.contains(Seq(1L, 7L, 3L, " x y z")))
    assert(want.exists(r => r(0) == 2L && r(1) == 7L))
  }

  test("standing-query matches equal the batch pipeline's pre-rank hits") {
    implicit val sqlCtx = spark.sqlContext
    val sfd = sf("sf0.001")
    val docs = graft.io.Tables.documents(spark, sfd)
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect().map {
      case (id, t) => (id, t, ts(id)) }

    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.SearchStream
      .search(in.toDF().toDF("doc_id", "text", "ts"), "ts", "0 seconds")
      .writeStream.format("memory").queryName("stream_search")
      .outputMode("append").start()
    val got = try {
      in.addData(rows.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_search").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("score"))).toSet
    } finally q.stop()

    // batch truth: the conjunctive hits frame BEFORE the top-k rank
    import org.apache.spark.sql.functions.{explode, lower}
    val toks = docs
      .select($"doc_id",
        explode(graft.ops.TextAnalysis.tokens(lower($"text"))).as("t"))
      .as[(Long, String)].collect()
    val tf = toks.groupBy(identity).map { case ((d, t), o) =>
      (d, t) -> o.size.toLong }
    val byDoc = toks.map(_._1).distinct
    val want = graft.jobs.TextJobs.SEARCH_QUERIES.flatMap {
      case (qid, terms) =>
        byDoc.filter(d => terms.forall(t => tf.contains((d, t))))
          .map(d => (qid, d, terms.map(t => tf((d, t))).sum))
    }.toSet
    assert(got == want)
    // matches outnumber the batch top-5 pages: the stream alerts on ALL
    assert(got.size > 15)
  }

  test("bm25 stream scores equal an integer re-derivation of the batch math") {
    implicit val sqlCtx = spark.sqlContext
    val sfd = sf("sf0.001")
    val docs = graft.io.Tables.documents(spark, sfd)
      .select($"doc_id", $"text")
    val rows = docs.as[(Long, String)].collect().map {
      case (id, t) => (id, t, ts(id)) }

    val model = graft.jobs.TextJobs.bm25Model(spark, sfd)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.Bm25Stream
      .score(in.toDF().toDF("doc_id", "text", "ts"), "ts", "0 seconds", model)
      .writeStream.format("memory").queryName("stream_bm25")
      .outputMode("append").start()
    val got = try {
      in.addData(rows.toSeq: _*)
      q.processAllAvailable()
      spark.table("stream_bm25").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("score"))).toSet
    } finally q.stop()

    // independent truth: the batch integer math replayed in Scala
    val tokRe = "[A-Za-z0-9]+".r
    val toksByDoc = rows.map { case (id, t, _) =>
      id -> tokRe.findAllIn(t.toLowerCase).toSeq }.toMap
    val nDocs = rows.length.toLong
    val lTot = toksByDoc.values.map(_.size.toLong).sum
    val adl = lTot / nDocs
    assert(model._1 == nDocs && model._2 == adl)
    val want = graft.jobs.TextJobs.SEARCH_QUERIES.flatMap {
      case (qid, terms) =>
        toksByDoc.toSeq.flatMap { case (d, toks) =>
          val dl = toks.size.toLong
          val tfs = terms.map(t => t -> toks.count(_ == t).toLong)
          if (tfs.forall(_._2 == 0)) None
          else {
            val score = tfs.map { case (t, tf) =>
              if (tf == 0) 0L
              else {
                val df = model._3(t)
                val idf = ((2 * (nDocs - df) + 1) * 1000000L) / (2 * df + 1)
                idf * ((22000L * tf * adl) /
                  (10L * tf * adl + 3 * adl + 9 * dl))
              }
            }.sum
            Some((qid, d, score))
          }
        }
    }.toSet
    assert(got == want)
    assert(got.nonEmpty && got.exists(_._3 > 0))
  }
}
