package graft

import org.apache.spark.sql.functions._

/** The r17 scan-parallelism floor (operators.Scans.widenIfNarrow)
  * must be RESULT-invariant: widening only re-lays out the rows feeding a
  * keyed aggregation, so every consumer's output is identical with the
  * branch on and off. Pinned here with the same toggle the same-JVM A/B
  * measurement used (`spark.graft.scan.widen`), on a single-row-group
  * fixture where the branch definitely fires (test session is local[4],
  * every sf0.001 file is one split).
  */
class ScanWidenSpec extends SparkTestBase {

  private def withWiden[T](on: Boolean)(body: => T): T = {
    val key = "spark.graft.scan.widen"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("prices adapter: widened and historical plans return identical rows") {
    val wide = withWiden(on = true) {
      sortedRows(graft.sources.Tables.prices(spark, sf))
    }
    val narrow = withWiden(on = false) {
      sortedRows(graft.sources.Tables.prices(spark, sf))
    }
    assert(wide.nonEmpty)
    assert(wide == narrow)
  }

  test("a window consumer over the widened adapter is row-identical") {
    val wide = withWiden(on = true) {
      sortedRows(operators.Windows.winVolatility(graft.sources.Tables.prices(spark, sf)))
    }
    val narrow = withWiden(on = false) {
      sortedRows(operators.Windows.winVolatility(graft.sources.Tables.prices(spark, sf)))
    }
    assert(wide.nonEmpty)
    assert(wide == narrow)
  }

  test("domain classifier train widening does not move the frozen model") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val wide = withWiden(on = true) {
      sortedRows(operators.TextAnalysis.domainClassifierAssign(docs))
    }
    val narrow = withWiden(on = false) {
      sortedRows(operators.TextAnalysis.domainClassifierAssign(docs))
    }
    assert(wide.nonEmpty)
    assert(wide == narrow)
  }

  test("widen is a no-op when the scan already has >= cores splits") {
    // 8 > the test session's 4 cores, so the branch must not add a shuffle
    val preWidened = graft.sources.Tables
      .table(spark, sf, "lineitem").repartition(8)
    val out = operators.Scans.widenIfNarrow(preWidened)
    assert(out eq preWidened)
  }

  test("the split count read from the logical plan is the planned scan's") {
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    for (name <- Seq("lineitem", "orders", "documents", "region")) {
      val scan = graft.sources.Tables.table(spark, sf, name)
      val narrowed = scan.select(scan.columns.head).where(col(scan.columns.head).isNotNull)
      for (df <- Seq(scan, narrowed, scan.coalesce(1), scan.repartition(3)))
        assert(operators.Scans.splitCount(df) == df.rdd.getNumPartitions, name)
    }
    // a file cut into several splits
    val prev = spark.conf.getOption(maxBytes)
    spark.conf.set(maxBytes, "16k")
    try {
      val scan = graft.sources.Tables.table(spark, sf, "lineitem")
      assert(scan.rdd.getNumPartitions > 1)
      assert(operators.Scans.splitCount(scan) == scan.rdd.getNumPartitions)
    } finally prev match {
      case Some(v) => spark.conf.set(maxBytes, v)
      case None => spark.conf.unset(maxBytes)
    }
  }
}
