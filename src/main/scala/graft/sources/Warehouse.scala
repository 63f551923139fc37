package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Num

/** Bucketed-warehouse layout — the shuffle-elimination path for repeated
  * fact-to-fact joins (SURVEY §7.3 step notes; builder brief "bucketing for
  * co-located joins").
  *
  * At 100 TB the lineitem↔orders join is the dominant shuffle: both sides
  * repartition on the order key for every query. Writing both tables bucketed
  * (and sorted) by that key once moves the shuffle to ingest time — every
  * subsequent equi-join on the key is planned as a zero-exchange sort-merge
  * join over co-located buckets (WarehouseSpec asserts the plan). Bucket
  * count scales with cluster size (buckets ≈ executors × cores-per-executor
  * × small factor); 8 here for local[4].
  */
object Warehouse {

  def ensureBucketed(spark: SparkSession, sfDir: String, buckets: Int = 8): Unit = {
    freshTable(spark, "lineitem_bkt") {
      Tables.lineitem(spark, sfDir).write
        .format("parquet")
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_bkt")
    }
    freshTable(spark, "orders_bkt") {
      Tables.orders(spark, sfDir).write
        .format("parquet")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bkt")
    }
  }

  /** Create the table unless already registered; an orphaned warehouse
    * location (fresh in-memory catalog, stale dir from a prior JVM) is
    * removed first — saveAsTable refuses to reuse it otherwise.
    */
  private def freshTable(spark: SparkSession, name: String)(write: => Unit): Unit = {
    if (!spark.catalog.tableExists(name)) {
      val whDir = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val loc = new java.io.File(whDir, name)
      if (loc.exists()) delete(loc)
      write
    }
  }

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Small-file compaction — the table-maintenance pass every long-lived
    * parquet table needs: incremental syncs, streaming sinks and per-bucket
    * rewrites (IncrementalSync) all accrete files far below the
    * scan-efficient size, and at 100 TB a table fragmented into 10⁷ × 10 MB
    * files pays listing, open and footer costs that dominate the scan.
    * Strategy: size the output file count from the table's actual bytes
    * (`ceil(totalBytes / targetBytes)`) and rewrite through ONE
    * `repartition(n)` round-robin exchange — uniform output sizes by
    * construction, one job regardless of input file count (a driver loop of
    * per-bin jobs would be 10⁵ job submissions at scale). The write lands
    * in a temp dir and swaps in atomically (same rename-capable-FS contract
    * as IncrementalSync, asserted there). Returns (filesBefore,
    * filesAfter, rows) for the caller's audit.
    *
    * Sorted/z-ordered tables compact with `repartitionByRange` on the
    * layout key instead — same shape, order-preserving across files; this
    * entry point targets the unordered append/upsert tables where
    * round-robin's perfect balance is the win.
    */
  def compactSmallFiles(
      spark: SparkSession, path: String, targetBytes: Long = 128L << 20)
      : (Int, Int, Long) = {
    // same commit contract and crash discipline as the streaming sink's
    // bucket swap (IncrementalSync): rename-capable FS asserted up front,
    // and a crash between the two moves leaves the table only in the aside
    // dir — repair-on-entry restores it, so the table is always old-or-new,
    // never missing
    graft.streaming.IncrementalSync.assertRenameCapable(path)
    repairInterruptedCompaction(path)
    val dir = new java.io.File(path)
    def parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val before = parts
    val totalBytes = before.map(_.length()).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val tmp = path + ".compact_tmp"
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    val rows = spark.read.schema(df.schema).parquet(tmp).count()
    // swap: move the old dir aside, the new one in, then drop the old —
    // readers either see the old files or the new, never a half-written mix
    val old = new java.io.File(path + ".compact_old")
    if (old.exists()) delete(old)
    java.nio.file.Files.move(dir.toPath, old.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(new java.io.File(tmp).toPath, dir.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    delete(old)
    (before.length, parts.length, rows)
  }

  /** If a previous compaction died between move-aside and move-in, the
    * table exists only at `<path>.compact_old` — restore it. If both exist,
    * the swap completed and the aside copy is stale — drop it. Idempotent.
    */
  private[graft] def repairInterruptedCompaction(path: String): Unit = {
    val dir = new java.io.File(path)
    val old = new java.io.File(path + ".compact_old")
    if (old.exists() && !dir.exists()) {
      java.nio.file.Files.move(old.toPath, dir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else if (old.exists()) {
      delete(old)
    }
    // a stale tmp write is always safe to drop: it only becomes live via
    // the move-in, which requires the aside step to have happened first
    val tmp = new java.io.File(path + ".compact_tmp")
    if (tmp.exists()) delete(tmp)
  }

  /** Order revenue via the co-located join: no exchange on either side. */
  def colocatedOrderRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    ensureBucketed(spark, sfDir)
    val li = spark.table("lineitem_bkt")
    val o = spark.table("orders_bkt")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey").as("order_id"), col("o_orderstatus").as("status"))
      .agg(
        count(lit(1)).as("line_count"),
        Num.dollars(sum(Num.cents(col("l_extendedprice")))).as("line_revenue"))
  }
}
