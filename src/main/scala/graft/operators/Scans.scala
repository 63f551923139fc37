package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Scan-parallelism floor for heavy map phases (r17, guide §2.2/§2.5).
  *
  * A validation-SF parquet file is a single row group, so a scan stage —
  * and any expensive per-row work pipelined into it (token explodes,
  * portable-hash batteries, partial aggregates) — runs as ONE task while the
  * rest of the session idles. Callers whose map phase is measured scan-bound
  * widen the (projected!) input first: round-robin, or on `keys` when a keyed
  * aggregate follows, so that aggregate reuses the one explicit exchange. At
  * real scale a fact scan already has ≥ cores splits and this is a no-op, so
  * the production plan is untouched. `spark.graft.scan.widen=false` restores
  * the historical plan — the same-JVM A/B toggle (Probe conf sweep) used to
  * validate each call site.
  *
  * Widening is MODEST (2× splits, floor 8, cap cores): the Marts.sales
  * width sweep measured 32 concurrent string-keyed aggregate tasks paying
  * more in G1 churn than they recover in parallelism at this data size.
  * Results are partition-invariant everywhere this is used (keyed
  * aggregations); plan audits must not pin a caller's exchange count
  * (the branch reads split counts at construction time).
  */
private[graft] object Scans {
  def widenIfNarrow(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("spark.graft.scan.widen").contains("false")) return df
    val cores = spark.sparkContext.defaultParallelism
    val splits = splitCount(df)
    if (splits >= cores) df
    else {
      val n = math.min(cores, math.max(splits * 2, 8))
      if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
    }
  }

  /** The partition count `df` will have, read from its analyzed plan when
    * that is a projection or filter over a file scan or a repartition,
    * which is every caller's shape. `df.rdd.getNumPartitions` gives the
    * same number but plans the query physically at construction time, and
    * under adaptive execution it runs the stages below an exchange; any
    * other shape still falls back to it.
    */
  private[graft] def splitCount(df: DataFrame): Int =
    splits(df.queryExecution.analyzed).getOrElse(df.rdd.getNumPartitions)

  private def splits(plan: LogicalPlan): Option[Int] = plan match {
    case Repartition(n, true, _) => Some(n)
    case _: Project | _: Filter => splits(plan.children.head)
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation if fs.bucketSpec.isEmpty => Some(fileSplits(fs))
      case _ => None
    }
    case _ => None
  }

  /** The file scan's partition count, computed as the scan computes it:
    * files cut at the max split size, then packed into partitions, both with
    * Spark's own helpers over the file index's cached listing.
    */
  private def fileSplits(fs: HadoopFsRelation): Int = {
    val session = fs.sparkSession
    val dirs = fs.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(session, dirs)
    val files = dirs.flatMap { d =>
      d.files.flatMap { f =>
        val splitable = fs.fileFormat.isSplitable(session, fs.options, f.getPath)
        PartitionedFileUtil.splitFiles(f, f.getPath, splitable, maxSplit, d.values)
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(session, files, maxSplit).size
  }
}
