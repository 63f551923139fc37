package graft.models

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.Num
import org.apache.spark.storage.StorageLevel

/** Round-2 mart compositions: the reference marts the round-1 verdict listed
  * as not yet composed end-to-end (VERDICT.md Missing #1), each as a pure
  * DataFrame function over TPC-H-shaped adapters with an exact DuckDB oracle.
  *
  * Numeric discipline: money stays integer cents; derived ratios are either
  * compared/bucketed via exact integer cross-multiplication or quantized to a
  * 2^-20 grid (Num.fix20) before averaging so sums are order-independent —
  * see graft.functions.Num. The reference's cosmetic round(x, n) display
  * rounding is intentionally not reproduced (Num scaladoc).
  *
  * Scale: sales is a fact-fact join (lineitem x orders) that shuffles on the
  * order key once; all dimension joins broadcast; every window partitions by
  * the key its input was already aggregated on.
  */
object Marts {

  // ------------------------------------------------------------------
  // iowa_liquor (dbt/models/marts/iowa_liquor/fct_sales_by_county.sql,
  //              fct_top_vendors.sql)
  // ------------------------------------------------------------------

  /** stg_iowa_liquor__sales-shaped adapter: lineitem enriched through orders
    * (buying store + county via customer nation) and part/supplier dims.
    */
  def sales(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, part: DataFrame, supplier: DataFrame): DataFrame = {
    // Every join below broadcasts, so the fact SCAN's split count is the
    // parallelism of the whole cached staging frame and of every mart agg
    // that reads it. A validation-SF lineitem is ~3 row groups ⇒ 3-way
    // "parallel" Expand+partial-agg on a 32-core session (bench r9:
    // fct_top_vendors 1.56 s wall / 1.96 s cpu — near-serial). Widen the
    // scan when it is narrower than the session — but only MODESTLY
    // (2× splits, floor 8, cap cores): a measured width sweep of the full
    // query showed warm wall 0.8 s at 3 partitions, 0.4 s at 8, but ~1.0 s
    // at 32 with process-cpu 4-6× higher — at this data size 32 concurrent
    // string-keyed agg tasks pay more in per-task G1 churn (23 GC threads
    // on this host) than they recover in parallelism. At real scale a fact
    // scan already has ≥ cores splits and the branch is a no-op.
    // NOTE: like aggApproxDistinct's small-scan branch, this makes the PLAN
    // SHAPE environment-dependent (plan audits must not pin this mart
    // family's exchange count); the RESULT is partition-invariant.
    graft.operators.Scans.widenIfNarrow(lineitem)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(
        col("n_name").as("county"),
        trunc(col("o_orderdate"), "month").as("sale_month"),
        Num.cents(col("l_extendedprice")).as("sale_cents"),
        Num.asLong(col("l_quantity")).as("bottles"),
        (Num.asLong(col("l_quantity")) * 750).as("vol_ml"),
        col("o_custkey").as("store_id"),
        col("p_brand").as("category_name"),
        col("l_partkey").as("item_id"),
        col("p_name").as("item_name"),
        col("s_name").as("vendor_name"),
        Num.cents(col("p_retailprice")).as("retail_cents"))
  }

  /** Cache the staging frame unless an equivalent plan is already cached:
    * `storageLevel` consults the CacheManager by canonicalized plan, so two
    * marts built over independently-constructed but identical [[sales]]
    * frames share ONE cached relation instead of racing to re-cache it
    * ("Asked to cache already cached data" warnings). Callers that want the
    * memory back unpersist the frame they passed in (or clear the catalog
    * cache, as Bench/Verify do between queries).
    */
  private def cachedOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE)
      // scoped (round 6): same cache-once-by-canonical-plan semantics, plus
      // LRU release so sessions running many marts don't accumulate one
      // leaked staging cache per mart
      graft.operators.CacheScope.cached(df)
    else df

  /** Shared oracle CTE for [[sales]]. */
  private[models] val salesSql: String =
    """sales AS (
      |  SELECT n_name AS county,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS sale_month,
      |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS sale_cents,
      |         CAST(ROUND(l_quantity) AS BIGINT) AS bottles,
      |         CAST(ROUND(l_quantity) AS BIGINT) * 750 AS vol_ml,
      |         o_custkey AS store_id,
      |         p_brand AS category_name,
      |         l_partkey AS item_id,
      |         p_name AS item_name,
      |         s_name AS vendor_name,
      |         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS retail_cents
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey)""".stripMargin

  /** fct_sales_by_county (fct_sales_by_county.sql:9-56): county rollup with
    * store coverage and the top revenue category per county (deterministic
    * category tiebreak added — the reference's rank() join can fan out).
    */
  def fctSalesByCounty(salesIn: DataFrame): DataFrame = {
    // cache: the county rollup AND the top-category rank both consume the
    // 6-table sales staging join — uncached it would run twice (the
    // reference materializes stg_iowa_liquor__sales as a table for the same
    // reason; dbt_project.yml staging policy)
    val sales = cachedOnce(salesIn)
    val countySales = sales.groupBy(col("county")).agg(
      sum(col("sale_cents")).as("sale_cents_sum"),
      sum(col("bottles")).as("total_bottles"),
      sum(col("vol_ml")).as("vol_ml_sum"),
      count(lit(1)).as("transaction_count"),
      countDistinct(col("store_id")).as("store_count"))
    val topCat = sales
      .groupBy(col("county"), col("category_name"))
      .agg(sum(col("sale_cents")).as("cat_cents"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("county").orderBy(col("cat_cents").desc, col("category_name"))))
      .where(col("rk") === 1)
      .select(col("county"), col("category_name").as("top_category"))
    countySales.join(topCat, Seq("county"), "left")
      .select(
        col("county"),
        Num.dollars(col("sale_cents_sum")).as("total_sales"),
        col("total_bottles"),
        (col("vol_ml_sum").cast(DoubleType) / 1000.0).as("total_volume_liters"),
        col("transaction_count"),
        col("store_count"),
        Num.meanDollars(col("sale_cents_sum"), col("transaction_count"))
          .as("avg_transaction_value"),
        col("top_category"))
  }

  /** fct_top_vendors (fct_top_vendors.sql:9-56): vendor rollup with product/
    * store coverage, average bottle price, top revenue product per vendor.
    */
  def fctTopVendors(salesIn: DataFrame): DataFrame = {
    val sales = cachedOnce(salesIn) // see fctSalesByCounty
    val vendorSales = sales.groupBy(col("vendor_name")).agg(
      sum(col("sale_cents")).as("sale_cents_sum"),
      sum(col("bottles")).as("total_bottles"),
      sum(col("vol_ml")).as("vol_ml_sum"),
      countDistinct(col("item_id")).as("product_count"),
      countDistinct(col("store_id")).as("store_count"),
      sum(col("retail_cents")).as("retail_cents_sum"),
      count(lit(1)).as("n"))
    val topProd = sales
      .groupBy(col("vendor_name"), col("item_name"))
      .agg(sum(col("sale_cents")).as("prod_cents"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vendor_name").orderBy(col("prod_cents").desc, col("item_name"))))
      .where(col("rk") === 1)
      .select(col("vendor_name"), col("item_name").as("top_product"))
    vendorSales.join(topProd, Seq("vendor_name"), "left")
      .select(
        col("vendor_name"),
        Num.dollars(col("sale_cents_sum")).as("total_sales"),
        col("total_bottles"),
        (col("vol_ml_sum").cast(DoubleType) / 1000.0).as("total_volume_liters"),
        col("product_count"),
        col("store_count"),
        Num.meanDollars(col("retail_cents_sum"), col("n")).as("avg_bottle_price"),
        col("top_product"))
  }

  // ------------------------------------------------------------------
  // core (dbt/models/marts/core/dim_users.sql:11-43)
  // ------------------------------------------------------------------

  /** dim_users: cross-system identity resolution in the reference's full
    * output shape — FULL OUTER on lowered email, `gh_`-prefixed fallback key,
    * 4-way display-name precedence, per-system provenance columns. Adapter:
    * customers as Linear users, suppliers as GitHub users, with the same
    * synthetic overlapping-email scheme as `join_full_outer_expr`.
    */
  def dimUsers(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val l = customer.select(
      concat(lit("c_"), col("c_custkey")).as("l_user_id"),
      concat(lit("user"), col("c_custkey") * 2, lit("@x.com")).as("l_email"),
      col("c_name").as("l_display_name"),
      lower(col("c_name")).as("l_name"),
      (col("c_acctbal") > 0).as("l_is_active"))
    val g = supplier.select(
      col("s_suppkey").cast("string").as("g_user_id"),
      concat(lit("USER"), col("s_suppkey") * 3, lit("@X.COM")).as("g_email"),
      col("s_name").as("g_name"),
      regexp_replace(lower(col("s_name")), "[^a-z0-9]", "").as("g_username"),
      concat(lit("https://avatars.example/"), col("s_suppkey")).as("g_avatar_url"))
    l.join(g, lower(col("l_email")) === lower(col("g_email")), "full_outer")
      .select(
        coalesce(col("l_user_id"), concat(lit("gh_"), col("g_user_id"))).as("user_id"),
        coalesce(col("l_email"), col("g_email")).as("email"),
        col("l_user_id").as("linear_user_id"),
        col("l_display_name").as("linear_display_name"),
        col("l_name").as("linear_name"),
        col("l_is_active").as("linear_is_active"),
        col("g_user_id").as("github_user_id"),
        col("g_username").as("github_username"),
        col("g_name").as("github_name"),
        col("g_avatar_url").as("github_avatar_url"),
        coalesce(col("l_display_name"), col("l_name"), col("g_name"), col("g_username"))
          .as("display_name"),
        when(col("l_user_id").isNotNull && col("g_user_id").isNotNull, "both")
          .when(col("l_user_id").isNotNull, "linear")
          .otherwise("github").as("source"))
  }

  // ------------------------------------------------------------------
  // stocks (dbt/models/marts/stocks/fct_sector_performance.sql:1-73)
  // ------------------------------------------------------------------

  /** fct_sector_performance: latest-day sector rollup over the stock-price
    * windows — gainer/loser counts, trend-bucket counts, best/worst
    * performers with deterministic tiebreaks, sentiment bucket, pct above
    * 30d MA. Sector adapter: the ticker-supplier's nation name.
    *
    * Exactness: gainers/losers/trend buckets compare integer cents
    * (cross-multiplied); avg pct metrics quantize per-ticker ratios to the
    * 2^-20 grid (Num.fix20) before summing.
    */
  def fctSectorPerformance(prices: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val sectors = supplier.join(nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("ticker"), col("n_name").as("sector"))
    val byTicker = Window.partitionBy("ticker").orderBy("trade_date")
    val byTickerDesc = Window.partitionBy("ticker").orderBy(col("trade_date").desc)
    val w7 = byTicker.rowsBetween(-6, 0)
    val w30 = byTicker.rowsBetween(-29, 0)
    val w252 = byTicker.rowsBetween(-251, 0)
    val latest = prices
      .withColumn("prev_close_cents", lag(col("close_cents"), 1).over(byTicker))
      .withColumn("ma30_sum", sum(col("close_cents")).over(w30))
      .withColumn("n30", count(lit(1)).over(w30))
      .withColumn("high52_cents", max(col("close_cents")).over(w252))
      .withColumn("low52_cents", min(col("close_cents")).over(w252))
      .withColumn("vol7_sum", sum(col("volume")).over(w7))
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("recency_rank", row_number().over(byTickerDesc))
      .where(col("recency_rank") === 1)
      .join(broadcast(sectors), Seq("ticker"))
    val scored = latest
      .withColumn("chg_pct",
        (col("close_cents") - col("prev_close_cents")).cast(DoubleType) /
          when(col("prev_close_cents") === 0, null)
            .otherwise(col("prev_close_cents")).cast(DoubleType) * 100.0)
      .withColumn("pos_pct",
        (col("close_cents") - col("low52_cents")).cast(DoubleType) /
          when(col("high52_cents") === col("low52_cents"), null)
            .otherwise(col("high52_cents") - col("low52_cents")).cast(DoubleType) * 100.0)
      // rank within (sector, trade_date) — the aggregation's grain — so every
      // output row names the best/worst ticker of ITS OWN group (a
      // sector-only partition would leave NULL tickers on all but one
      // date-group when tickers' latest days differ)
      .withColumn("best_rn", row_number().over(
        Window.partitionBy("sector", "trade_date")
          .orderBy(col("chg_pct").desc_nulls_last, col("ticker"))))
      .withColumn("worst_rn", row_number().over(
        Window.partitionBy("sector", "trade_date")
          .orderBy(col("chg_pct").asc_nulls_last, col("ticker"))))
    val agg = scored.groupBy(col("sector"), col("trade_date")).agg(
      countDistinct(col("ticker")).as("ticker_count"),
      sum(Num.fix20(col("chg_pct"))).as("chg_q_sum"),
      count(col("chg_pct")).as("chg_n"),
      sum(Num.fix20(col("pos_pct"))).as("pos_q_sum"),
      count(col("pos_pct")).as("pos_n"),
      count(when(col("close_cents") > col("prev_close_cents"), 1)).as("gainers"),
      count(when(col("close_cents") < col("prev_close_cents"), 1)).as("losers"),
      count(when(col("close_cents") === col("prev_close_cents"), 1)).as("unchanged"),
      count(when(col("volume") * col("n7") * 2 > col("vol7_sum") * 3, 1))
        .as("high_volume_count"),
      count(when(col("volume") * col("n7") * 2 < col("vol7_sum"), 1))
        .as("low_volume_count"),
      count(when(col("close_cents") * col("n30") > col("ma30_sum"), 1))
        .as("above_ma_count"),
      count(when(col("close_cents") * col("n30") < col("ma30_sum"), 1))
        .as("below_ma_count"),
      max(col("chg_pct")).as("best_performer_pct"),
      min(col("chg_pct")).as("worst_performer_pct"),
      min(when(col("best_rn") === 1 && col("chg_pct").isNotNull, col("ticker")))
        .as("best_performer_ticker"),
      min(when(col("worst_rn") === 1 && col("chg_pct").isNotNull, col("ticker")))
        .as("worst_performer_ticker"))
    val avgChg = Num.meanFix20(col("chg_q_sum"), col("chg_n"))
    agg.select(
      col("sector"), col("trade_date"), col("ticker_count"),
      avgChg.as("avg_daily_change_pct"),
      Num.meanFix20(col("pos_q_sum"), col("pos_n")).as("avg_52w_position"),
      col("gainers"), col("losers"), col("unchanged"),
      col("high_volume_count"), col("low_volume_count"),
      col("above_ma_count"), col("below_ma_count"),
      col("best_performer_pct"), col("worst_performer_pct"),
      col("best_performer_ticker"), col("worst_performer_ticker"),
      when(col("gainers") > col("losers") && avgChg > 0.5, "bullish")
        .when(col("losers") > col("gainers") && avgChg < -0.5, "bearish")
        .otherwise("neutral").as("sector_sentiment"),
      Num.pct(col("above_ma_count"), col("ticker_count")).as("pct_above_30d_ma"))
  }

  // ------------------------------------------------------------------
  // oracles
  // ------------------------------------------------------------------

  val oracles: Map[String, String] = Map(
    "fct_sales_by_county" ->
      s"""WITH $salesSql,
         |county_sales AS (
         |  SELECT county,
         |         CAST(SUM(sale_cents) AS BIGINT) AS sale_cents_sum,
         |         CAST(SUM(bottles) AS BIGINT) AS total_bottles,
         |         CAST(SUM(vol_ml) AS BIGINT) AS vol_ml_sum,
         |         COUNT(*) AS transaction_count,
         |         COUNT(DISTINCT store_id) AS store_count
         |  FROM sales GROUP BY 1),
         |cat AS (
         |  SELECT county, category_name,
         |         ROW_NUMBER() OVER (PARTITION BY county
         |           ORDER BY SUM(sale_cents) DESC, category_name) AS rk
         |  FROM sales GROUP BY county, category_name)
         |SELECT cs.county,
         |       CAST(sale_cents_sum AS DOUBLE) / 100.0 AS total_sales,
         |       total_bottles,
         |       CAST(vol_ml_sum AS DOUBLE) / 1000.0 AS total_volume_liters,
         |       transaction_count,
         |       store_count,
         |       CAST(sale_cents_sum AS DOUBLE) / CAST(NULLIF(transaction_count, 0) AS DOUBLE) / 100.0 AS avg_transaction_value,
         |       c.category_name AS top_category
         |FROM county_sales cs
         |LEFT JOIN (SELECT county, category_name FROM cat WHERE rk = 1) c
         |  ON cs.county = c.county""".stripMargin,
    "fct_top_vendors" ->
      s"""WITH $salesSql,
         |vendor_sales AS (
         |  SELECT vendor_name,
         |         CAST(SUM(sale_cents) AS BIGINT) AS sale_cents_sum,
         |         CAST(SUM(bottles) AS BIGINT) AS total_bottles,
         |         CAST(SUM(vol_ml) AS BIGINT) AS vol_ml_sum,
         |         COUNT(DISTINCT item_id) AS product_count,
         |         COUNT(DISTINCT store_id) AS store_count,
         |         CAST(SUM(retail_cents) AS BIGINT) AS retail_cents_sum,
         |         COUNT(*) AS n
         |  FROM sales GROUP BY 1),
         |prod AS (
         |  SELECT vendor_name, item_name,
         |         ROW_NUMBER() OVER (PARTITION BY vendor_name
         |           ORDER BY SUM(sale_cents) DESC, item_name) AS rk
         |  FROM sales GROUP BY vendor_name, item_name)
         |SELECT vs.vendor_name,
         |       CAST(sale_cents_sum AS DOUBLE) / 100.0 AS total_sales,
         |       total_bottles,
         |       CAST(vol_ml_sum AS DOUBLE) / 1000.0 AS total_volume_liters,
         |       product_count,
         |       store_count,
         |       CAST(retail_cents_sum AS DOUBLE) / CAST(NULLIF(n, 0) AS DOUBLE) / 100.0 AS avg_bottle_price,
         |       p.item_name AS top_product
         |FROM vendor_sales vs
         |LEFT JOIN (SELECT vendor_name, item_name FROM prod WHERE rk = 1) p
         |  ON vs.vendor_name = p.vendor_name""".stripMargin,
    "dim_users" ->
      """WITH l AS (
        |  SELECT 'c_' || c_custkey AS l_user_id,
        |         'user' || (c_custkey * 2) || '@x.com' AS l_email,
        |         c_name AS l_display_name,
        |         lower(c_name) AS l_name,
        |         c_acctbal > 0 AS l_is_active
        |  FROM customer),
        |g AS (
        |  SELECT CAST(s_suppkey AS VARCHAR) AS g_user_id,
        |         'USER' || (s_suppkey * 3) || '@X.COM' AS g_email,
        |         s_name AS g_name,
        |         regexp_replace(lower(s_name), '[^a-z0-9]', '', 'g') AS g_username,
        |         'https://avatars.example/' || s_suppkey AS g_avatar_url
        |  FROM supplier)
        |SELECT COALESCE(l_user_id, 'gh_' || g_user_id) AS user_id,
        |       COALESCE(l_email, g_email) AS email,
        |       l_user_id AS linear_user_id,
        |       l_display_name AS linear_display_name,
        |       l_name AS linear_name,
        |       l_is_active AS linear_is_active,
        |       g_user_id AS github_user_id,
        |       g_username AS github_username,
        |       g_name AS github_name,
        |       g_avatar_url AS github_avatar_url,
        |       COALESCE(l_display_name, l_name, g_name, g_username) AS display_name,
        |       CASE WHEN l_user_id IS NOT NULL AND g_user_id IS NOT NULL THEN 'both'
        |            WHEN l_user_id IS NOT NULL THEN 'linear'
        |            ELSE 'github' END AS source
        |FROM l FULL OUTER JOIN g ON lower(l_email) = lower(g_email)""".stripMargin,
    "fct_sector_performance" -> {
      s"""WITH ${graft.sources.Tables.pricesSql},
         |w AS (
         |  SELECT ticker, trade_date, close_cents, volume,
         |         LAG(close_cents) OVER (PARTITION BY ticker ORDER BY trade_date) AS prev_close_cents,
         |         SUM(close_cents) OVER w30 AS ma30_sum, COUNT(*) OVER w30 AS n30,
         |         MAX(close_cents) OVER w252 AS high52_cents,
         |         MIN(close_cents) OVER w252 AS low52_cents,
         |         SUM(volume) OVER w7 AS vol7_sum, COUNT(*) OVER w7 AS n7,
         |         ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY trade_date DESC) AS recency_rank
         |  FROM prices
         |  WINDOW
         |    w7 AS (PARTITION BY ticker ORDER BY trade_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         |    w30 AS (PARTITION BY ticker ORDER BY trade_date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
         |    w252 AS (PARTITION BY ticker ORDER BY trade_date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)),
         |latest AS (
         |  SELECT w.*, n_name AS sector
         |  FROM w
         |  JOIN supplier ON ticker = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE recency_rank = 1),
         |scored AS (
         |  SELECT *,
         |         CAST(close_cents - prev_close_cents AS DOUBLE)
         |           / CAST(NULLIF(prev_close_cents, 0) AS DOUBLE) * 100.0 AS chg_pct,
         |         CAST(close_cents - low52_cents AS DOUBLE)
         |           / CAST(NULLIF(high52_cents - low52_cents, 0) AS DOUBLE) * 100.0 AS pos_pct
         |  FROM latest),
         |rn AS (
         |  SELECT *,
         |         ROW_NUMBER() OVER (PARTITION BY sector, trade_date ORDER BY chg_pct DESC NULLS LAST, ticker) AS best_rn,
         |         ROW_NUMBER() OVER (PARTITION BY sector, trade_date ORDER BY chg_pct ASC NULLS LAST, ticker) AS worst_rn
         |  FROM scored),
         |agg AS (
         |  SELECT sector, trade_date,
         |         COUNT(DISTINCT ticker) AS ticker_count,
         |         CAST(SUM(CAST(FLOOR(chg_pct * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS chg_q_sum,
         |         COUNT(chg_pct) AS chg_n,
         |         CAST(SUM(CAST(FLOOR(pos_pct * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS pos_q_sum,
         |         COUNT(pos_pct) AS pos_n,
         |         COUNT(CASE WHEN close_cents > prev_close_cents THEN 1 END) AS gainers,
         |         COUNT(CASE WHEN close_cents < prev_close_cents THEN 1 END) AS losers,
         |         COUNT(CASE WHEN close_cents = prev_close_cents THEN 1 END) AS unchanged,
         |         COUNT(CASE WHEN volume * n7 * 2 > vol7_sum * 3 THEN 1 END) AS high_volume_count,
         |         COUNT(CASE WHEN volume * n7 * 2 < vol7_sum THEN 1 END) AS low_volume_count,
         |         COUNT(CASE WHEN close_cents * n30 > ma30_sum THEN 1 END) AS above_ma_count,
         |         COUNT(CASE WHEN close_cents * n30 < ma30_sum THEN 1 END) AS below_ma_count,
         |         MAX(chg_pct) AS best_performer_pct,
         |         MIN(chg_pct) AS worst_performer_pct,
         |         MIN(CASE WHEN best_rn = 1 AND chg_pct IS NOT NULL THEN ticker END) AS best_performer_ticker,
         |         MIN(CASE WHEN worst_rn = 1 AND chg_pct IS NOT NULL THEN ticker END) AS worst_performer_ticker
         |  FROM rn GROUP BY 1, 2)
         |SELECT sector, trade_date, ticker_count,
         |       CAST(chg_q_sum AS DOUBLE) / CAST(NULLIF(chg_n, 0) AS DOUBLE) / 1048576.0 AS avg_daily_change_pct,
         |       CAST(pos_q_sum AS DOUBLE) / CAST(NULLIF(pos_n, 0) AS DOUBLE) / 1048576.0 AS avg_52w_position,
         |       gainers, losers, unchanged,
         |       high_volume_count, low_volume_count, above_ma_count, below_ma_count,
         |       best_performer_pct, worst_performer_pct,
         |       best_performer_ticker, worst_performer_ticker,
         |       CASE WHEN gainers > losers AND CAST(chg_q_sum AS DOUBLE) / CAST(NULLIF(chg_n, 0) AS DOUBLE) / 1048576.0 > 0.5 THEN 'bullish'
         |            WHEN losers > gainers AND CAST(chg_q_sum AS DOUBLE) / CAST(NULLIF(chg_n, 0) AS DOUBLE) / 1048576.0 < -0.5 THEN 'bearish'
         |            ELSE 'neutral' END AS sector_sentiment,
         |       CAST(above_ma_count AS DOUBLE) / CAST(NULLIF(ticker_count, 0) AS DOUBLE) * 100.0 AS pct_above_30d_ma
         |FROM agg""".stripMargin
    }
  )
}
