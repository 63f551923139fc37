package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion / sink semantics (SURVEY.md §2.1): the reference's
  * load-truncate and MERGE-upsert loop (lib/bigquery.py:83-224) re-expressed
  * as pure DataFrame algebra (no Delta in the offline jar set).
  *
  * Scale: the upsert is `target LEFT ANTI source ∪ source` — one shuffle on
  * the primary key for the anti-join (or zero if both sides are bucketed by
  * pk), no window/global sort. Idempotent: merge(merge(t,s),s) == merge(t,s)
  * (property-tested in MergeSpec). Atomicity at the storage layer is
  * write-to-temp-then-swap (SURVEY §7.5.7): see [[loadTruncate]]'s
  * overwrite-into-fresh-dir pattern.
  */
object Merge {

  /** `merge_upsert` (lib/bigquery.py:128-224): keyed upsert — matched rows
    * take the source version, unmatched target rows survive, new source rows
    * insert.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, pk: Seq[String]): DataFrame =
    target.join(source, pk, "left_anti").unionByName(source)

  /** `schema_evolve` (lib/bigquery.py:175-183): columns in the new batch that
    * the live table lacks are appended, existing rows read NULL.
    */
  def schemaEvolve(existing: DataFrame, batch: DataFrame): DataFrame =
    existing.unionByName(batch, allowMissingColumns = true)

  /** `load_truncate` (lib/bigquery.py:83-125): full-refresh WRITE_TRUNCATE —
    * overwrite the sink and read it back.
    */
  def loadTruncate(df: DataFrame, spark: SparkSession, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.schema(df.schema).parquet(path)
  }

  /** `nan_clean` (sources/stocks.py:149-169): NaN→NULL scrubbing. */
  def nanClean(events: DataFrame): DataFrame =
    events
      .withColumn("raw_value", when(col("value") > 195.0, lit(Double.NaN)).otherwise(col("value")))
      .select(
        col("event_id"),
        when(isnan(col("raw_value")), null).otherwise(col("raw_value")).as("clean_value"),
        when(isnan(col("raw_value")), null)
          .otherwise(round(col("raw_value") * 100).cast("long")).as("clean_cents"))

  /** `synthetic_pk` (sources/stocks.py:172): composite natural key synthesis. */
  def syntheticPk(events: DataFrame): DataFrame =
    events.select(
      concat_ws("_", col("user_id"), to_date(col("ts")).cast("string"), col("event_type"))
        .as("pk"),
      col("event_id"), col("user_id"), col("event_type"))

  /** `multiidx_unstack` (sources/stocks.py:96-138): wide (ticker, field)
    * matrix → long records via stack (the yfinance MultiIndex flatten).
    */
  def multiidxUnstack(prices: DataFrame): DataFrame =
    prices.select(
      col("ticker"), col("trade_date"),
      expr(
        "stack(4, 'close', close_cents, 'high', high_cents, 'low', low_cents, 'volume', volume)")
        .as(Seq("field", "value_cents")))

  /** `serve_query` (data.py:26-408): serve-layer SQL loader — temp-view +
    * spark.sql text query with a final ORDER BY (result caching is a
    * `.persist` decision left to the caller, mirroring st.cache_data).
    */
  def serveQuery(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_serve")
    spark.sql(
      """SELECT o_orderstatus AS status,
        |       COUNT(*) AS order_count,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales
        |FROM orders_serve GROUP BY 1 ORDER BY status""".stripMargin)
  }

  // --- query wiring over the testdata (deterministic target/source split) ---

  /** Upsert demo: target = events below 8000, source = events ≥ 6000 with
    * bumped value (6000-7999 update in place, ≥8000 insert).
    */
  def mergeUpsertQuery(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val target = base.where(col("event_id") < 8000)
    val source = base.where(col("event_id") >= 6000)
      .withColumn("value", col("value") + 0.5)
    mergeUpsert(target, source, Seq("event_id"))
  }

  /** Change-data capture between two snapshots of a keyed table: full outer
    * join on the pk, classify every key as inserted / deleted / updated /
    * unchanged by null-safe column comparison. The audit downstream of any
    * upsert or manifest commit ("what did this sync actually change"), and
    * the input shape for incremental consumers that want a changelog rather
    * than a table. One pk shuffle; with both snapshots bucketed on the pk
    * (the incremental sink's layout) the join is co-located. Pairs with
    * `ManifestStore.readVersion`: diff any two committed versions.
    */
  def snapshotDiff(old: DataFrame, next: DataFrame, pk: Seq[String]): DataFrame = {
    val dataCols = old.columns.filterNot(pk.contains).toSeq
    require(dataCols == next.columns.filterNot(pk.contains).toSeq,
      "snapshotDiff requires identical schemas; run schemaEvolve first")
    val o = dataCols.foldLeft(old) { (df, c) => df.withColumnRenamed(c, s"old_$c") }
    val n = dataCols.foldLeft(next) { (df, c) => df.withColumnRenamed(c, s"new_$c") }
    val changed = dataCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    // pk presence is decided by sentinel flags, not pk-null (a full outer
    // join leaves pk non-null on both-sides matches only through coalesce)
    o.withColumn("__in_old", lit(true))
      .join(n.withColumn("__in_new", lit(true)), pk, "full_outer")
      .withColumn("change_type",
        when(col("__in_old").isNull, lit("inserted"))
          .when(col("__in_new").isNull, lit("deleted"))
          .when(changed, lit("updated"))
          .otherwise(lit("unchanged")))
      .drop("__in_old", "__in_new")
  }

  /** Apply a [[snapshotDiff]]-shaped changeset (pk, change_type, new_*) to
    * a keyed base table — the MERGE that handles DELETES, which
    * [[mergeUpsert]] (insert/update only) cannot express: the Delta/Iceberg
    * `WHEN MATCHED THEN DELETE` clause as plain relational algebra. One
    * full-outer pk join: base-only rows pass through, inserted/updated keys
    * take the changeset's values, deleted keys drop. With base and
    * changelog bucketed on the pk (the incremental sink's layout) the join
    * is co-located — a day's CDC apply costs O(base partition + changes),
    * and `applyCdc(base, snapshotDiff(base, next)) == next` is the
    * round-trip invariant MergeSpec pins.
    */
  def applyCdc(base: DataFrame, changes: DataFrame, pk: Seq[String]): DataFrame = {
    val dataCols = base.columns.filterNot(pk.contains).toSeq
    val ch = changes
      .select(pk.map(col) ++ (col("change_type") +: dataCols.map(c => col(s"new_$c"))): _*)
      .withColumn("__in_ch", lit(true))
    base.join(ch, pk, "full_outer")
      .where(!(col("change_type") <=> lit("deleted")))
      .select(pk.map(col) ++ dataCols.map(c =>
        when(col("__in_ch").isNotNull, col(s"new_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** `merge_apply_cdc` driver row: carve base / desired-next states from
    * `events` with all three change classes live (deletes 0-999, updates
    * 6000-7999, inserts 8000-8999), derive the changelog via
    * [[snapshotDiff]], and apply it back — output must equal the desired
    * state, which is what the oracle states directly.
    */
  def mergeApplyCdcQuery(events: DataFrame): DataFrame = {
    val base0 = events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val base = base0.where(col("event_id") < 8000)
    val next = base.where(col("event_id") >= 1000)
      .withColumn("value",
        when(col("event_id") >= 6000, col("value") + 0.5).otherwise(col("value")))
      .unionByName(base0.where(col("event_id") >= 8000 && col("event_id") < 9000))
    val changes = snapshotDiff(base, next, Seq("event_id"))
      .where(col("change_type") =!= "unchanged")
    applyCdc(base, changes, Seq("event_id"))
  }

  /** `snapshot_diff` driver row: diff the merge demo's target against its
    * post-upsert state — inserts are source-only keys, updates the
    * overlapping range, deletes impossible (upsert never removes).
    */
  def snapshotDiffQuery(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val old = base.where(col("event_id") < 8000)
    snapshotDiff(old, mergeUpsertQuery(events), Seq("event_id"))
      .select(col("event_id"), col("change_type"), col("old_value"), col("new_value"))
  }

  /** Schema-evolution demo: older rows lack event_type; union pads NULL. */
  def schemaEvolveQuery(events: DataFrame): DataFrame = {
    val existing = events.where(col("event_id") < 5000)
      .select(col("event_id"), col("user_id"), col("value"))
    val batch = events.where(col("event_id") >= 5000)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    schemaEvolve(existing, batch)
  }

  /** Truncate-load demo: project, overwrite a scratch sink, read back.
    * Sink root comes from [[graft.Scratch]] (conf / spark.local.dir /
    * tmpdir), so the jar runs from any CWD.
    */
  def loadTruncateQuery(spark: SparkSession, events: DataFrame): DataFrame =
    loadTruncate(
      events.select(col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("event_date")),
      spark, graft.Scratch.dir(spark, "load_truncate"))

  val oracles: Map[String, String] = Map(
    "snapshot_diff" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value FROM events),
        |old AS (SELECT * FROM base WHERE event_id < 8000),
        |source AS (
        |  SELECT event_id, user_id, event_type, value + 0.5 AS value
        |  FROM base WHERE event_id >= 6000),
        |merged AS (
        |  SELECT t.* FROM old t
        |  WHERE t.event_id NOT IN (SELECT event_id FROM source)
        |  UNION ALL
        |  SELECT * FROM source),
        |d AS (
        |  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
        |         o.value AS old_value, n.value AS new_value,
        |         o.user_id AS ou, n.user_id AS nu,
        |         o.event_type AS ot, n.event_type AS nt,
        |         o.event_id IS NOT NULL AS in_old,
        |         n.event_id IS NOT NULL AS in_new
        |  FROM old o FULL OUTER JOIN merged n ON o.event_id = n.event_id)
        |SELECT event_id,
        |       CASE WHEN NOT in_old THEN 'inserted'
        |            WHEN NOT in_new THEN 'deleted'
        |            WHEN old_value IS DISTINCT FROM new_value
        |              OR ou IS DISTINCT FROM nu
        |              OR ot IS DISTINCT FROM nt THEN 'updated'
        |            ELSE 'unchanged' END AS change_type,
        |       old_value, new_value
        |FROM d""".stripMargin,
    "merge_apply_cdc" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id >= 1000 AND event_id < 6000
        |UNION ALL
        |SELECT event_id, user_id, event_type, value + 0.5
        |FROM events WHERE event_id >= 6000 AND event_id < 8000
        |UNION ALL
        |SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id >= 8000 AND event_id < 9000""".stripMargin,
    "merge_upsert" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value FROM events),
        |target AS (SELECT * FROM base WHERE event_id < 8000),
        |source AS (
        |  SELECT event_id, user_id, event_type, value + 0.5 AS value
        |  FROM base WHERE event_id >= 6000)
        |SELECT t.* FROM target t
        |WHERE t.event_id NOT IN (SELECT event_id FROM source)
        |UNION ALL
        |SELECT * FROM source""".stripMargin,
    "schema_evolve" ->
      """SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS event_type
        |FROM events WHERE event_id < 5000
        |UNION ALL
        |SELECT event_id, user_id, value, event_type
        |FROM events WHERE event_id >= 5000""".stripMargin,
    "load_truncate" ->
      """SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date
        |FROM events""".stripMargin,
    "nan_clean" ->
      """WITH s AS (
        |  SELECT event_id,
        |         CASE WHEN value > 195.0 THEN 'NaN'::DOUBLE ELSE value END AS raw_value
        |  FROM events)
        |SELECT event_id,
        |       CASE WHEN isnan(raw_value) THEN NULL ELSE raw_value END AS clean_value,
        |       CASE WHEN isnan(raw_value) THEN NULL
        |            ELSE CAST(ROUND(raw_value * 100) AS BIGINT) END AS clean_cents
        |FROM s""".stripMargin,
    "synthetic_pk" ->
      """SELECT user_id || '_' || CAST(CAST(ts AS DATE) AS VARCHAR) || '_' || event_type AS pk,
        |       event_id, user_id, event_type
        |FROM events""".stripMargin,
    "multiidx_unstack" ->
      s"""WITH ${graft.sources.Tables.pricesSql}
         |SELECT ticker, trade_date, field, value_cents FROM (
         |  SELECT ticker, trade_date, 'close' AS field, close_cents AS value_cents FROM prices
         |  UNION ALL
         |  SELECT ticker, trade_date, 'high', high_cents FROM prices
         |  UNION ALL
         |  SELECT ticker, trade_date, 'low', low_cents FROM prices
         |  UNION ALL
         |  SELECT ticker, trade_date, 'volume', volume FROM prices)""".stripMargin,
    "serve_query" ->
      """SELECT o_orderstatus AS status,
        |       COUNT(*) AS order_count,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin
  )
}
