package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet, BitwiseAnd, Cast, Literal,
  NamedExpression, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType, StructType}

/** Shape of a physical plan, looking through adaptive wrappers, query
  * stages, reused exchanges, cached relations and subqueries.
  */
final case class PlanShape(exchanges: Int, scans: Int, reusedExchanges: Int, topkNodes: Int,
    scannedTables: Set[String])

object Plans {

  /** `initial` reads the plan adaptive execution started from, not the
    * one it finished with (which may drop a side a stage found empty). A
    * reused exchange and a cached relation read twice count once.
    */
  private def nodes(p: SparkPlan, initial: Boolean,
      seen: java.util.IdentityHashMap[AnyRef, Unit]): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(if (initial) a.inputPlan else a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case m: InMemoryTableScanExec =>
        if (seen.containsKey(m.relation.cacheBuilder)) Seq.empty
        else { seen.put(m.relation.cacheBuilder, ()); Seq(m.relation.cachedPlan) }
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes(_, initial, seen))
  }

  private def tableName(root: String): String =
    root.split('/').last.stripSuffix(".parquet")

  def shape(plan: SparkPlan, initial: Boolean = false): PlanShape = {
    val all = nodes(plan, initial, new java.util.IdentityHashMap[AnyRef, Unit])
    val scans = all.collect { case s: FileSourceScanExec => s }
    PlanShape(
      exchanges = all.count(_.isInstanceOf[Exchange]),
      scans = scans.size,
      reusedExchanges = all.count(_.isInstanceOf[ReusedExchangeExec]),
      topkNodes = all.count(n => n.nodeName.contains("TopK") || n.nodeName == "WindowGroupLimit"),
      scannedTables = scans.flatMap(_.relation.location.rootPaths.map(p => tableName(p.toString))).toSet)
  }

  /** Tables the query reads, as written (before the optimizer). */
  def referencedTables(plan: LogicalPlan): Set[String] =
    plan.collect { case l: LogicalRelation => l.relation }.collect {
      case r: HadoopFsRelation => r.location.rootPaths.map(p => tableName(p.toString))
    }.flatten.toSet

  /** The tables a query references but its physical plan never scans: the
    * signature of a timed action the optimizer pruned (a `count()` over the
    * DAG manifest plans to an aggregate over a local relation, 0 scans).
    */
  def prunedTables(df: DataFrame): Set[String] =
    referencedTables(df.queryExecution.analyzed) --
      shape(df.queryExecution.executedPlan, initial = true).scannedTables

  /** The model projections of a `Dag.fullBuild` manifest: the children of
    * the union under its final aggregate, each `Project(model literal,
    * digest hash)` over one model's plan.
    */
  private def modelProjects(df: DataFrame): Seq[Project] = {
    def leaves(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case u: Union => u.children.flatMap(leaves)
      case other => Seq(other)
    }
    val union = df.queryExecution.analyzed.collectFirst { case u: Union => u }
      .getOrElse(throw new IllegalStateException("no union of models in the manifest plan"))
    leaves(union).map {
      case p: Project if modelName(p).isDefined => p
      case other => throw new IllegalStateException(s"not a model projection: ${other.nodeName}")
    }
  }

  /** The model names of a `Dag.fullBuild` manifest, in the manifest's order. */
  def models(df: DataFrame): Seq[String] = modelProjects(df).flatMap(modelName)

  private def modelName(p: Project): Option[String] = p.projectList.headOption.collect {
    case Alias(Literal(v, StringType), "model") if v != null => v.toString
  }

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** The manifest `Dag.fullBuild` returned, computed so that every output
    * column of every model is read: each model row also hashes all its
    * columns (maps rendered as strings, which Spark cannot hash), and the
    * aggregate adds `full_checksum`, an order-independent sum of those
    * hashes, next to the manifest's own `n_rows` and `key_digest`. A model
    * with no rows has no row here.
    */
  def fullEvaluation(manifest: DataFrame): DataFrame = {
    val spark = manifest.sparkSession
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val projects = modelProjects(manifest).map { p =>
      val cols = p.child.output.map(a => if (containsMap(a.dataType)) Cast(a, StringType, tz) else a)
      val full = BitwiseAnd(new XxHash64(cols), Literal(0xFFFFFFFFL, LongType))
      Project(p.projectList :+ Alias(full, "__f")(), p.child)
    }
    SqlBridge.dataFrame(spark, Union(projects))
      .groupBy(col("model"))
      .agg(count(lit(1)).as("n_rows"), coalesce(sum(col("__h")), lit(0L)).as("key_digest"),
        sum(col("__f")).as("full_checksum"))
  }

  /** One row: `df`'s row count and an order-independent checksum over every
    * one of its columns (the sum of each row's hash of all columns, maps
    * rendered as strings), so the plan cannot prune a column of the answer.
    */
  def checksum(df: DataFrame): DataFrame = {
    val tz = Some(df.sparkSession.conf.get("spark.sql.session.timeZone"))
    val plan = df.queryExecution.analyzed
    val cols = plan.output.map(a => if (containsMap(a.dataType)) Cast(a, StringType, tz) else a)
    val full = BitwiseAnd(new XxHash64(cols), Literal(0xFFFFFFFFL, LongType))
    SqlBridge.dataFrame(df.sparkSession, Project(Seq(Alias(full, "__f")()), plan))
      .agg(count(lit(1)).as("n_rows"), coalesce(sum(col("__f")), lit(0L)).as("checksum"))
  }

  /** Per model of a manifest-shaped plan, the model's output columns the
    * query's result does not depend on: what column pruning may drop from
    * the timed plan. Walks from the result down to the union of model
    * projections, keeping the columns each node needs from its children
    * (every column a node other than a projection, aggregate or union
    * references counts as needed).
    */
  def unreadColumns(df: DataFrame): Map[String, Seq[String]] = {
    val out = Map.newBuilder[String, Seq[String]]
    def needs(list: Seq[NamedExpression], needed: AttributeSet) =
      AttributeSet(list.filter(e => needed.contains(e.toAttribute)).flatMap(_.references))
    def walk(p: LogicalPlan, needed: AttributeSet): Unit = p match {
      case u: Union =>
        u.children.foreach { c =>
          val n = AttributeSet(c.output.zip(u.output).collect { case (a, o) if needed.contains(o) => a })
          c match {
            case proj: Project if modelName(proj).isDefined =>
              val read = needs(proj.projectList, n)
              out += modelName(proj).get -> proj.child.output.filterNot(read.contains).map(_.name)
            case _ => walk(c, n)
          }
        }
      case proj: Project => walk(proj.child, needs(proj.projectList, needed))
      case a: Aggregate =>
        walk(a.child, needs(a.aggregateExpressions, needed) ++
          AttributeSet(a.groupingExpressions.flatMap(_.references)))
      case other =>
        other.children.foreach(c => walk(c, (needed ++ other.references).intersect(c.outputSet)))
    }
    val plan = df.queryExecution.analyzed
    walk(plan, plan.outputSet)
    out.result()
  }
}
