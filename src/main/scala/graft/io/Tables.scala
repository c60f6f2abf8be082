package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Batch sources over the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Scale notes (100 TB design): every loader returns a plain scan DataFrame —
  * no caching, no collect — so Catalyst can push filters/projections into the
  * parquet reader (`PushedFilters`/`ReadSchema`). Partitioning is whatever the
  * files provide; downstream operators decide shuffle keys. Dimension tables
  * (region/nation/supplier/part/customer) stay broadcast-joinable at any SF.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Generic loader: `Tables.load(spark, sfDir, "lineitem")`.
    *
    * Inferring a parquet schema runs a one-task Spark job, and a query may
    * load the same table several times, so the inferred schema is memoized
    * per (file fingerprint, read confs) and handed to the reader. The
    * fingerprint covers the path and every part file's size, mtime and
    * footer CRC, so a rewritten table is inferred afresh. A path that does
    * not exist locally is read plainly: Spark reports its own error.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (!Files.exists(Paths.get(path))) spark.read.parquet(path)
    else {
      val key = (Fingerprint.ofPath(path), schemaConfs.map(spark.conf.getOption))
      val schema = Option(schemas.get(key)).getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(key, s)
        s
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The session confs that change what a parquet footer infers to. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private val schemas =
    new ConcurrentHashMap[(String, Seq[Option[String]]), StructType]()

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** `events.ts` has shipped in two physical forms across driver rounds:
    * parquet TIMESTAMP(NANOS) — which Spark's vectorized reader rejects
    * ([PARQUET_TYPE_ILLEGAL]), so we read nanos as Long
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to microseconds
    * with integer division (never double math: epoch-nanos ≈ 1.7e18 exceeds
    * a double's 53-bit mantissa) — and plain TIMESTAMP micros (NTZ), which
    * needs only a wall-clock-preserving cast (every session pins
    * `spark.sql.session.timeZone=UTC`, so NTZ→TIMESTAMP is the identity on
    * the stored micros, matching DuckDB's naive read of the same file).
    * Dispatch on the loaded dtype so both generations of testdata read
    * identically; any OTHER dtype (a third schema generation — string,
    * millis-as-long, …) fails fast here instead of silently producing
    * nulls or shifted values downstream.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsImpl(spark, sfDir, None)

  /** [[events]] restricted to `ts ≥ fromUs` (epoch micros), with the
    * bound applied to the RAW stored column BEFORE the canonicalizing
    * cast — a filter above the cast does not reach the parquet reader,
    * one below it lands in `PushedFilters` and prunes row groups /
    * partitions at storage level. This is the incremental-recompute
    * read path: a manifest diff names the changed days, this scan
    * re-reads only them.
    */
  def eventsSince(spark: SparkSession, sfDir: String, fromUs: Long): DataFrame =
    eventsImpl(spark, sfDir, Some(fromUs))

  private def eventsImpl(spark: SparkSession, sfDir: String,
      fromUs: Option[Long]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the NTZ→TIMESTAMP cast below is wall-clock-preserving ONLY under a
    // UTC session; fail fast on a conflicting session timezone instead of
    // silently clobbering a caller-set value mid-session
    val tz = spark.conf.get("spark.sql.session.timeZone")
    if (java.time.ZoneId.of(tz).normalized() != java.time.ZoneOffset.UTC)
      throw new IllegalStateException(
        s"events requires a UTC session (timeZone=$tz): the NTZ→TIMESTAMP " +
          "cast shifts wall-clock values under any other zone — pin " +
          "spark.sql.session.timeZone=UTC in the session builder")
    val df = load(spark, sfDir, "events")
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        val base = fromUs.map(us => df.filter(col("ts") >= us * 1000L))
          .getOrElse(df)
        base.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case t if t == TimestampNTZType || t == TimestampType =>
        // literal cast to the stored dtype keeps the COLUMN bare in the
        // comparison (constant folding evaluates the literal side), so
        // the predicate pushes; under the UTC session the cast is the
        // identity on the stored micros
        val base = fromUs.map { us =>
          df.filter(col("ts") >= lit(java.time.Instant.ofEpochSecond(
            us / 1000000L, (us % 1000000L) * 1000L)).cast(t))
        }.getOrElse(df)
        base.withColumn("ts", col("ts").cast("timestamp"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported dtype $other; expected legacy " +
          "nanos-as-LONG or TIMESTAMP[_NTZ] micros — teach Tables.events " +
          "the new generation explicitly instead of guessing a cast")
    }
  }

  /** Register every table as a temp view for the SQL surface. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
