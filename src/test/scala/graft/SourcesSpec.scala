package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{LongType, StringType}

import graft.sources.Tables

/** `Tables.table` resolves a base table's schema once per input identity:
  * a read of unchanged files under unchanged parquet settings is handed the
  * schema (no inference job), anything else re-infers.
  */
class SourcesSpec extends SparkTestBase {

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The Spark jobs `body` launches, counted by a listener once the bus has
    * delivered every event.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SqlBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      SqlBridge.drainListenerBus(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A parquet file whose `ts` column is INT64 TIMESTAMP(NANOS), which Spark
    * cannot write itself.
    */
  private def writeNanos(file: String): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("ts", 1700000000123456789L))
    finally writer.close()
  }

  test("a rewritten file, an added file or a changed parquet setting re-infers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sources").toFile.getAbsolutePath
    val path = s"$dir/t.parquet"
    def read(): DataFrame = Tables.table(spark, dir, "t")

    spark.range(5).write.parquet(path)
    assert(read().schema.fieldNames.toSeq == Seq("id"))
    val (again, jobs) = jobsOf(read().schema)
    assert(again.fieldNames.toSeq == Seq("id"))
    assert(jobs == 0, "an unchanged table must not be inferred again")

    // overwritten with a different schema
    spark.range(5).select(col("id"), col("id").cast("string").as("name"))
      .write.mode("overwrite").parquet(path)
    assert(read().schema.fieldNames.toSeq == Seq("id", "name"))
    assert(read().collect().length == 5)

    // a file added; merged schemas so that the added file's column shows
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(read().schema.fieldNames.toSeq == Seq("id", "name"))
      spark.range(3).select(col("id"), (col("id") * 2.5).as("extra"))
        .write.mode("append").parquet(path)
      val added = read()
      assert(added.schema == spark.read.parquet(path).schema)
      assert(added.schema.fieldNames.toSet == Set("id", "name", "extra"))
      assert(added.count() == 8)
    }

    // the same bytes infer to another type once nanosAsLong flips
    val nanosDir = s"$dir/nanos"
    writeNanos(s"$nanosDir/n.parquet/part-0.parquet")
    def nanos(): DataFrame = Tables.table(spark, nanosDir, "n")
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(nanos().schema("ts").dataType == LongType)
      assert(nanos().collect().head.getLong(0) == 1700000000123456789L)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      // Spark rejects the column outright here: the resolved read must too,
      // not hand back the long it resolved under the other setting
      val inferred = scala.util.Try(spark.read.parquet(s"$nanosDir/n.parquet").schema("ts").dataType)
      val resolved = scala.util.Try(nanos().schema("ts").dataType)
      assert(resolved.toOption == inferred.toOption, s"resolved $resolved, inferred $inferred")
    }
  }

  test("a resolved read and an inferring read give the same schema and plan") {
    def normalized(s: String): String = s.replaceAll("#\\d+L?", "#")
    for (name <- Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")) {
      Tables.table(spark, sf, name) // resolves the entry
      val (resolved, jobs) = jobsOf(Tables.table(spark, sf, name))
      assert(jobs == 0, name)
      val inferred = spark.read.parquet(s"$sf/$name.parquet")
      assert(resolved.schema == inferred.schema, name)
      // nullability as an inferring read reports it (a file source reads
      // every column nullable)
      assert(resolved.schema.forall(_.nullable), name)
      assert(resolved.queryExecution.optimizedPlan.canonicalized ==
        inferred.queryExecution.optimizedPlan.canonicalized, name)
      def query(df: DataFrame): DataFrame = df.where(col(df.columns.head).isNotNull)
      assert(normalized(query(resolved).queryExecution.executedPlan.treeString) ==
        normalized(query(inferred).queryExecution.executedPlan.treeString), name)
    }
  }

  test("a read-back given the written schema matches an inferring read-back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_readback").toFile.getAbsolutePath
    // a non-nullable column, so the check covers nullability
    val df = spark.range(4).select(col("id"), lit("x").as("s"))
    assert(!df.schema("s").nullable)
    val back = operators.Merge.loadTruncate(df, spark, s"$dir/t")
    val inferred = spark.read.parquet(s"$dir/t")
    assert(back.schema == inferred.schema)
    assert(back.schema("s").dataType == StringType)
    assert(back.collect().toSeq.sortBy(_.getLong(0)) == inferred.collect().toSeq.sortBy(_.getLong(0)))
  }

  // the registry entries perfbench's dashboard_serve workload requests
  private val serveEntries = Seq(
    "fct_sales_monthly", "fct_stock_prices", "dim_users", "fct_issues", "fct_hn_keyword_trends",
    "fct_fda_events_by_product", "int_fda_reactions", "int_hn_keywords", "stg_rename",
    "stg_unit_convert", "pivot_assignee", "melt_scores", "topk_nlargest", "win_topk_group")

  test("building a serve entry launches no Spark job once its tables are resolved") {
    // the setting Tables.events turns on is part of every table's identity,
    // so it is on from the first resolution, as in a serving session
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      serveEntries.foreach(n => SparkEntry.queries(n)(spark, sf)) // resolves the tables
      val jobs = serveEntries.map { n =>
        n -> jobsOf(SparkEntry.queries(n)(spark, sf))._2
      }
      assert(jobs.forall(_._2 == 0), jobs.filter(_._2 > 0).mkString(", "))
    }
  }
}
