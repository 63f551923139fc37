package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Num
import graft.operators.Scans

/** Readers for the driver's synthetic tables (/root/repo/TESTDATA.md) plus
  * reference-shaped adapter views (FIXTURES.md §3): the TPC-H-ish star schema
  * plays the roles of the reference's source tables (stocks daily prices,
  * trends interest series, event streams, text corpora).
  *
  * Scale notes: every adapter is a pure projection/aggregation on the scan —
  * Catalyst pushes filters and column pruning into the parquet reader, and the
  * groupBy adapters shuffle once on their natural key, which downstream window
  * operators reuse (partitionBy the same key ⇒ no extra exchange).
  */
object Tables {
  /** A base table, resolved once per input identity.
    *
    * A bare `spark.read.parquet` infers the schema from the file footers,
    * and that inference is a Spark job (about 0.1 s in a warm local[4]
    * session on a 4-vCPU host) paid again on every read: a dashboard
    * request built 1-6 of them before its action, and most of the jobs a
    * full DAG build launched before its action were these. The schema is catalog metadata of the table, not of the query,
    * so each session keeps one entry per path: the schema, and the
    * [[InputIdentity]] it was inferred under. A read with an unchanged
    * identity is handed the schema (no job); a rewritten or added file or a
    * changed parquet setting re-infers once and replaces the entry. The
    * physical plan is the same either way.
    *
    * The identity is taken BEFORE the inferring read, so a file that changes
    * between the two leaves an entry that no longer matches (re-inferred on
    * the next read), never one that matches files it was not inferred from.
    * A missing path falls through to Spark's own read and its error.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val identity =
      try InputIdentity.of(spark, path)
      catch { case _: java.io.FileNotFoundException => return spark.read.parquet(path) }
    val entries = resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Resolved])
    // inferring inside compute makes threads that miss on the same path
    // together wait for one inference instead of each running its own
    var inferred: Option[DataFrame] = None
    val entry = entries.compute(path, (_, prev) =>
      if (prev != null && prev.identity == identity) prev
      else {
        val df = spark.read.parquet(path)
        inferred = Some(df)
        Resolved(identity, df.schema)
      })
    inferred.getOrElse(spark.read.schema(entry.schema).parquet(path))
  }

  private final case class Resolved(identity: InputIdentity, schema: StructType)

  // sessions weakly referenced, as in CacheScope's registry, so a stopped
  // session's entries go with it; concurrent, because Dag.fullBuild builds
  // models on several threads and a serving session answers several clients
  private val resolved = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]])

  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")

  /** events.parquet's physical `ts` encoding has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's parquet reader rejects
    * without the legacy nanos-as-long conf), plain timestamp[us] without
    * UTC adjustment (read as TIMESTAMP_NTZ), or an adjusted timestamp.
    * Adapt on the loaded dtype so every generation normalizes to a session
    * TIMESTAMP identical to DuckDB's `CAST(ts AS TIMESTAMP)` under the UTC
    * session TZ: nanos-long → exact integer division to micros; NTZ → cast
    * (wall time reinterpreted in the UTC session TZ = same micros value);
    * TIMESTAMP → pass through.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** stocks.raw_prices-shaped daily series (reference sources/stocks.py:48-60):
    * one row per (ticker, trade_date), suppliers as tickers. Exact integer
    * cents per Num's cross-engine scheme. ~100 tickers × ~600 days at sf0.01.
    *
    * The grouping keys are projected BEFORE the widening exchange (they are
    * what the exchange hashes on); the cents/volume arithmetic stays in the
    * aggregate so it runs at the widened parallelism, not on the single
    * scan task (guide §2.3: project early, shuffle narrow).
    */
  def prices(spark: SparkSession, sfDir: String): DataFrame =
    // widened on the grouping keys, so the aggregate below reuses the one
    // explicit exchange instead of adding its own (r17: win_volatility ran
    // its partial aggregate as one task, 1.38 s wall / 4.2 s cpu)
    Scans.widenIfNarrow(
      lineitem(spark, sfDir).select(
        col("l_suppkey").as("ticker"),
        to_date(col("l_shipdate")).as("trade_date"),
        col("l_extendedprice"), col("l_quantity")),
      col("ticker"), col("trade_date"))
      .groupBy(col("ticker"), col("trade_date"))
      .agg(
        sum(Num.cents(col("l_extendedprice"))).as("close_cents"),
        max(Num.cents(col("l_extendedprice"))).as("high_cents"),
        min(Num.cents(col("l_extendedprice"))).as("low_cents"),
        sum(Num.asLong(col("l_quantity"))).as("volume"))

  /** Shared oracle CTE for [[prices]]. */
  val pricesSql: String =
    """prices AS (
      |  SELECT l_suppkey AS ticker,
      |         CAST(l_shipdate AS DATE) AS trade_date,
      |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS close_cents,
      |         MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS high_cents,
      |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS low_cents,
      |         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS volume
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** trends.raw_interest_over_time-shaped series (reference
    * sources/trends.py:47-55): one row per (keyword, date), event types as
    * keywords, daily event count as integer interest.
    */
  def trends(spark: SparkSession, sfDir: String): DataFrame =
    // NOT widened (r17): trends reduces ~100k events to ~150 (keyword, day)
    // groups, so the map-side combine IS the operator — the same-JVM A/B
    // (Probe sweep spark.graft.scan.widen) measured the widening exchange
    // as a pure loss here (win_lag_n 0.19 → 0.25 s, win_centered likewise),
    // while the prices adapter (2.5× combine ratio, arithmetic-heavy
    // aggregates) keeps it a measured win. Aggregate-before-shuffle wins
    // when the reduction is near-total (guide §2.3).
    events(spark, sfDir)
      .groupBy(col("event_type").as("keyword"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("interest"))

  /** Shared oracle CTE for [[trends]]. */
  val trendsSql: String =
    """trends AS (
      |  SELECT event_type AS keyword, CAST(ts AS DATE) AS date,
      |         COUNT(*) AS interest
      |  FROM events GROUP BY 1, 2)""".stripMargin
}
