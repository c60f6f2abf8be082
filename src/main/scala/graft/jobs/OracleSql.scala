package graft.jobs

/** The text contract's DuckDB forms, one per decision, mirroring
  * `graft.ops.Dedup` and `graft.ops.TextAnalysis`. DuckDB has no
  * hex-to-int `conv()`, so hashes sum positional strpos digits.
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
}
