package graft.jobs

/** The DuckDB forms of decisions the oracles share, one per decision,
  * mirroring `graft.ops.Dedup` and `graft.ops.TextAnalysis`: the text
  * contract (DuckDB has no hex-to-int `conv()`, so hashes sum positional
  * strpos digits), brute-force Hamming pairs and connected components.
  */
object OracleSql {

  /** `width` md5-hex chars of `inner` from 1-based `from` as BIGINT. */
  private def hexSql(inner: String, from: Int, width: Int): String =
    (1 to width).map { i =>
      s"(strpos('0123456789abcdef', substr(md5($inner),${from + i - 1},1))-1) * ${math.pow(16, width - i).toLong}::BIGINT"
    }.mkString("(", " + ", ")")

  /** 8 md5-hex chars from `from` (9: `Dedup.windowHash`'s `gh2`). */
  def hexIntSqlAt(inner: String, from: Int): String = hexSql(inner, from, 8)

  /** `Dedup.md5Long`. */
  def hexIntSql(inner: String): String = hexIntSqlAt(inner, 1)

  /** `Dedup.hash60`. */
  def hex60Sql(inner: String): String = hexSql(inner, 1, 15)

  /** `Dedup.words`. */
  def wordsSql(inner: String): String =
    s"string_split_regex(trim($inner), '\\s+')"

  /** `TextAnalysis.tokens`. */
  def tokensSql(inner: String): String =
    s"regexp_extract_all($inner, '[A-Za-z0-9]+')"

  /** `TextAnalysis.normalized`. */
  def normalizedSql(inner: String): String =
    s"regexp_replace(lower(trim($inner)), '\\s+', ' ', 'g')"

  /** `TextAnalysis.fingerprint`. */
  def fingerprintSql(inner: String): String = s"md5(${normalizedSql(inner)})"

  /** `Dedup.hammingPairs`' brute-force twin: every pair of the (doc_id, f)
    * relation `fp` within `maxHamming` bits — (doc_a, doc_b, hamming),
    * doc_a < doc_b.
    */
  def hammingPairsSql(fp: String, maxHamming: Int): String =
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
       |FROM $fp a JOIN $fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.f, b.f)) <= $maxHamming""".stripMargin

  /** `Dedup.connectedComponents`' twin, as CTEs for a `WITH RECURSIVE`
    * list ending at `clusters` (doc_id, cluster): every doc_id of `nodes`
    * labelled with the minimum doc_id it reaches through the union of the
    * (doc_a, doc_b) pair relations `pairs`. The transitive closure's
    * MIN(reached) is the fixpoint every connectedComponents path lands on.
    */
  def componentsSql(nodes: String, pairs: String*): String = {
    val edges = pairs.flatMap(p =>
      Seq(s"SELECT doc_a, doc_b FROM $p", s"SELECT doc_b, doc_a FROM $p"))
    s"""edges(src, dst) AS (
       |  ${edges.mkString("\n  UNION\n  ")}
       |), reach AS (
       |  SELECT doc_id, doc_id AS reached FROM $nodes
       |  UNION
       |  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.reached
       |), clusters AS (
       |  SELECT doc_id, MIN(reached) AS cluster FROM reach GROUP BY doc_id
       |)""".stripMargin
  }
}
