package graft.bench

import java.io.{BufferedReader, File, FileDescriptor, FileOutputStream, InputStreamReader, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tuning}
import graft.functions.Num
import graft.models.Dag
import graft.operators.{CacheScope, IncrementalMart, Scd}
import graft.sources.Tables
import graft.streaming.IncrementalSync

/** The benchmark's JVM: a command loop driven by `perfbench/run.py` over
  * stdin/stdout. Each command is one line; each reply is one line starting
  * with `@@ ` and holding a JSON object. Everything else the JVM prints goes
  * to stderr, so library output cannot corrupt the protocol.
  *
  * Commands: `setup`, `oracles <file> <query>...`, `build <trace>`,
  * `answers <dir> <threads> <query>...`, `serve <mix-file> <seconds> <block> <threads> <trace>`,
  * `cycle <trace> <cutoff-date> <drop-bytes>`, `plancheck`, `memory`, `exit`.
  *
  * Usage: BenchMain <workDir> <fixtureDir> <cpus>
  */
object BenchMain {
  private val FixtureTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val Array(work, data, cpus) = args
    HeapPeak.install()
    val out = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    var spark: SparkSession = null
    lazy val refresh = new Refresh(s"$work/refresh")
    lazy val serve = new Serve(spark, data)
    var line = in.readLine()
    while (line != null && line.trim != "exit") {
      val cmd = line.trim.split(" ").toList
      val reply: Map[String, Any] =
        try cmd match {
          case List("setup") =>
            val t0 = System.nanoTime()
            spark = session(work, data, cpus.toInt)
            Map("setup_s" -> (System.nanoTime() - t0) / 1e9,
              "spark_conf" -> spark.conf.getAll.toSeq.sorted.toMap)
          case "oracles" :: path :: names =>
            val sql = SparkEntry.oracleSql
            java.nio.file.Files.writeString(new File(path).toPath, json.writeValueAsString(
              (Seq("dag_full_build", "scd2_merge") ++ names).map(n => n -> sql(n)).toMap))
            Map("ok" -> true)
          case List("build", trace) => build(spark, data, trace == "1")
          case "answers" :: dir :: threads :: names => serve.answers(names, dir, threads.toInt)
          case List("serve", mixFile, seconds, block, threads, trace) =>
            val mix = scala.io.Source.fromFile(mixFile, "UTF-8").getLines().toIndexedSeq
            serve.loop(mix, seconds.toDouble, block.toInt, threads.toInt, trace == "1")
          case List("cycle", trace, cutoff, dropBytes) =>
            refresh.cycle(spark, trace == "1", cutoff, dropBytes.toLong)
          case List("plancheck") => planCheck(spark, data)
          case List("memory") => Map("peak_heap_mb" -> HeapPeak.mb)
          case _ => Map("error" -> s"unknown command: $line")
        } catch {
          case e: Throwable =>
            e.printStackTrace()
            Map("error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(800))
        }
      out.println("@@ " + json.writeValueAsString(reply))
      line = in.readLine()
    }
    if (spark != null) spark.stop()
  }

  /** The largest heap use seen right after a garbage collection since the
    * JVM started: the live data plus what the collector had not yet
    * reclaimed, which the program's allocations drive, unlike the process
    * RSS, which under a fixed-size heap mostly reports the heap size.
    */
  object HeapPeak {
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    def mb: Double = peak.get / (1024.0 * 1024.0)
    def install(): Unit = {
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max(_, _))
          }, null, null)
        case _ =>
      }
    }
  }

  /** The library's session shape, as Bench builds it, with every path the
    * run writes kept under `work`. Set-up ends once each fixture table is
    * listed and its schema read.
    */
  def session(work: String, data: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", Tuning.adaptiveShufflePartitions(data, cpus))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", Tuning.advisoryPartitionBytes)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratch", s"$work/scratch")
      .config("spark.graft.staging", "auto")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopK.installAll(spark)
    FixtureTables.foreach(t => Tables.table(spark, data, t).schema)
    spark
  }

  private[bench] def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(): Unit
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  /** Counters read before and after an operation; `delta` gives the
    * cachescope and jvm per-layer numbers.
    */
  final class Counters(spark: SparkSession) {
    private val keys0 = CacheScope.registeredKeys(spark).toSet
    private val jit0 = jitMs()
    private val codegen0 = CodeGenerator.compileTime
    def delta(): Map[String, Double] = {
      val staging = new File(spark.conf.get("spark.graft.scratch") + "/graft_staging")
      Map(
        "cachescope.registrations" -> (CacheScope.registeredKeys(spark).toSet -- keys0).size.toDouble,
        "cachescope.cached_mem_bytes" ->
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble,
        "cachescope.staged_disk_bytes" -> dirBytes(staging).toDouble,
        "jvm.jit_s" -> (jitMs() - jit0) / 1e3,
        "jvm.codegen_s" -> (CodeGenerator.compileTime - codegen0) / 1e9)
    }
  }

  private[bench] def spanList(spans: Seq[Span]): Seq[Seq[Any]] =
    spans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end))

  private[bench] def execLayers(w: Work, actionS: Double): Map[String, Double] = Map(
    "exec.action_s" -> actionS,
    "exec.jobs" -> w.jobs.toDouble, "exec.stages" -> w.stages.toDouble,
    "exec.tasks" -> w.tasks.toDouble,
    "exec.executor_cpu_s" -> w.cpuNs / 1e9, "exec.gc_s" -> w.gcMs / 1e3,
    "exec.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
    "exec.shuffle_read_bytes" -> w.shuffleRead.toDouble,
    "exec.spill_bytes" -> w.spill.toDouble,
    "exec.peak_exec_mem_bytes" -> w.peakMem.toDouble,
    "exec.parallelism" -> (if (actionS > 0) w.runMs / 1e3 / actionS else 0.0))

  private[bench] def planLayers(planS: Double, shapes: Seq[PlanShape]): Map[String, Double] = Map(
    "plans.plan_s" -> planS,
    "plans.exchanges" -> shapes.map(_.exchanges).sum.toDouble,
    "plans.scans" -> shapes.map(_.scans).sum.toDouble,
    "plans.reused_exchanges" -> shapes.map(_.reusedExchanges).sum.toDouble,
    "plans.topk_nodes" -> shapes.map(_.topkNodes).sum.toDouble)

  private[bench] def sourceLayers(works: Iterable[Work]): Map[String, Double] = Map(
    "sources.input_bytes" -> works.map(_.inBytes).sum.toDouble,
    "sources.input_records" -> works.map(_.inRecords).sum.toDouble)

  private[bench] def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** nightly_build: one full-DAG build. The timed region is the
    * `Dag.fullBuild` call and a collect of its manifest computed so that
    * every output column of every model is read (`Plans.fullEvaluation`).
    * A timed plan that no longer scans a table the models read, or that
    * drops a model column, fails the op.
    */
  def build(spark: SparkSession, data: String, trace: Boolean): Map[String, Any] = {
    val tr = if (trace) Some(new Tracer(spark)) else None
    val counters = new Counters(spark)
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    val opStart = Tracer.nowUs()
    val opId = Tracer.nextId()
    def phase[T](name: String)(body: => T): (T, Double, Long) = tr match {
      case Some(t) => t.span(name, opId) { id => val (r, s) = secs(body); (r, s, id) }
      case None => val (r, s) = secs(body); (r, s, 0L)
    }
    val (manifestDf, constructS, constructId) =
      phase("models.construct")(Dag.fullBuild(spark, data, SparkEntry.queries))
    val df = Plans.fullEvaluation(manifestDf)
    val (_, planS, _) =
      if (trace) phase("plans.plan")(df.queryExecution.executedPlan) else ((), 0.0, 0L)
    val (rows, actionS, actionId) = phase("exec.action")(df.collect())
    val opS = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpuNs() - cpu0) / 1e9
    val pruned = Plans.prunedTables(df)
    val unread = Plans.unreadColumns(df).filter(_._2.nonEmpty)
    val got = rows.map(r => r.getString(0) -> r).toMap
    // a model with no rows is (model, 0, 0) in the manifest, as in Dag.oracle
    val manifest = Plans.models(manifestDf).map(m => got.get(m).fold(Seq[Any](m, 0L, 0L))(r =>
      Seq(m, r.getLong(1), r.getLong(2))))
    val base = Map[String, Any]("op_s" -> opS, "cpu_s" -> cpuS, "manifest" -> manifest,
      "full_checksum" -> rows.map(_.getLong(3)).sum,
      "pruned" -> pruned.toSeq.sorted, "unread" -> unread,
      "rows_out" -> manifest.map(_(1).asInstanceOf[Long]).sum)
    tr.fold(base) { t =>
      val opSpan = Span(opId, 0L, "build", opStart, Tracer.nowUs())
      val (spans, _) = t.finish()
      val layers = Map(
        "models.construct_s" -> constructS,
        "models.construct_jobs" -> t.workOf(constructId).jobs.toDouble) ++
        planLayers(planS, Seq(Plans.shape(df.queryExecution.executedPlan))) ++
        execLayers(t.workOf(actionId), actionS) ++
        sourceLayers(Seq(t.workOf(constructId), t.workOf(actionId))) ++
        counters.delta() + ("trace.listener_s" -> t.listenerSeconds)
      base ++ Map("layers" -> layers, "spans" -> spanList(opSpan +: spans))
    }
  }

  /** The timed `build` plan must scan every table the models reference and
    * read every model column; the manifest `Dag.fullBuild` returns reads
    * only the digest columns, and a `count()` over it scans no table.
    * `test_bench.py` asserts all of these.
    */
  def planCheck(spark: SparkSession, data: String): Map[String, Any] = {
    val manifest = Dag.fullBuild(spark, data, SparkEntry.queries)
    val timed = Plans.fullEvaluation(manifest)
    Map(
      "referenced" -> Plans.referencedTables(manifest.queryExecution.analyzed).toSeq.sorted,
      "timed_pruned" -> Plans.prunedTables(timed).toSeq.sorted,
      "count_pruned" -> Plans.prunedTables(manifest.groupBy().count()).toSeq.sorted,
      "timed_unread" -> Plans.unreadColumns(timed),
      "manifest_unread" -> Plans.unreadColumns(manifest))
  }

  /** sync_refresh: one cron cycle over a live session. The drop is already
    * landed in `src`; the cycle syncs it into the bucketed table with a
    * persistent checkpoint, then refreshes two marts over the synced table
    * and writes them where the checker reads them:
    *  - `scd2`: `Scd.scd2Merge` with its default cutoff (CacheScope-staged);
    *  - `daily`: an `IncrementalMart.refreshWindow` rollup per (day,
    *    event_type) that recomputes days from `cutoff` on and keeps the
    *    previous cycle's mart for earlier days.
    */
  final class Refresh(root: String) {
    // the bucket count the library's own `stream_upsert_endstate` syncs with
    // (IncrementalSync.streamUpsertEndstate), as are the drops' size and mix
    // (perfbench/fixture.py)
    val Buckets = 4
    val src = s"$root/src"
    val target = s"$root/table"
    val ckpt = s"$root/ckpt"
    val marts = s"$root/marts"
    new File(src).mkdirs()

    val schema: StructType = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))

    def daily(src: DataFrame): DataFrame =
      src.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(Num.cents(col("value"))).as("value_cents"),
          countDistinct(col("user_id")).as("n_users"))

    /** bucket -> (file names, bytes) of the synced table. */
    private def buckets(): Map[String, (Set[String], Long)] =
      Option(new File(target).listFiles()).toSeq.flatten.filter(_.getName.startsWith("__part="))
        .map { d =>
          val files = Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
          d.getName -> (files.map(_.getName).toSet, files.map(_.length).sum)
        }.toMap

    /** Write `df` next to `name`, then swap it in: the next cycle reads the
      * previous mart while this one is written.
      */
    private def writeMart(df: DataFrame, name: String): Unit = {
      val tmp = new File(s"$marts/$name.tmp")
      df.write.mode("overwrite").parquet(tmp.getPath)
      val live = new File(s"$marts/$name")
      rmTree(live)
      java.nio.file.Files.move(tmp.toPath, live.toPath)
    }

    def cycle(spark: SparkSession, trace: Boolean, cutoff: String,
        dropBytes: Long): Map[String, Any] = {
      val tr = if (trace) Some(new Tracer(spark)) else None
      val counters = new Counters(spark)
      val cpu0 = cpuNs()
      val opStart = Tracer.nowUs()
      val opId = Tracer.nextId()
      def phase[T](name: String)(body: => T): (T, Double, Long) = tr match {
        case Some(t) => t.span(name, opId) { id => val (r, s) = secs(body); (r, s, id) }
        case None => val (r, s) = secs(body); (r, s, 0L)
      }
      val before = buckets()
      val (_, syncS, syncId) = phase("streaming.sync")(IncrementalSync.syncOnce(
        spark, schema, src, target, ckpt, "event_id", "ts", nBuckets = Buckets))
      val after = buckets()
      val rewritten = after.filter { case (b, (files, _)) => !before.get(b).map(_._1).contains(files) }
      val ((scd, mart), constructS, constructId) = phase("operators.construct") {
        val synced = spark.read.parquet(target).drop("__part")
        val existing =
          if (new File(s"$marts/daily").exists()) spark.read.parquet(s"$marts/daily")
          else daily(synced).where(lit(false))
        (Scd.scd2Merge(synced),
          IncrementalMart.refreshWindow(existing, synced, daily, col("ts"), "day",
            lit(cutoff).cast(DateType)))
      }
      val (_, planS, _) =
        if (trace) phase("plans.plan") {
          scd.queryExecution.executedPlan; mart.queryExecution.executedPlan
        } else ((), 0.0, 0L)
      val (_, actionS, actionId) = phase("exec.action") {
        writeMart(scd, "scd2")
        writeMart(mart, "daily")
      }
      val base = Map[String, Any]("op_s" -> (Tracer.nowUs() - opStart) / 1e6,
        "cpu_s" -> (cpuNs() - cpu0) / 1e9, "sync_s" -> syncS)
      tr.fold(base) { t =>
        val opSpan = Span(opId, 0L, "refresh.cycle", opStart, Tracer.nowUs())
        val (spans, batches) = t.finish()
        def dur(key: String) = batches.map(_.durationMs.getOrElse(key, 0L)).sum / 1e3
        val layers = Map(
          "streaming.sync_s" -> syncS,
          "streaming.micro_batches" -> batches.size.toDouble,
          "streaming.trigger_s" -> dur("triggerExecution"),
          "streaming.add_batch_s" -> dur("addBatch"),
          "streaming.wal_commit_s" -> dur("walCommit"),
          "streaming.query_planning_s" -> dur("queryPlanning"),
          "streaming.write_amp" -> rewritten.values.map(_._2).sum.toDouble / math.max(1L, dropBytes),
          "streaming.buckets_rewritten" -> rewritten.size.toDouble,
          "operators.construct_s" -> constructS,
          "operators.construct_jobs" -> t.workOf(constructId).jobs.toDouble) ++
          planLayers(planS, Seq(scd, mart).map(d => Plans.shape(d.queryExecution.executedPlan))) ++
          execLayers(t.workOf(actionId), actionS) ++
          sourceLayers(Seq(syncId, constructId, actionId).map(t.workOf)) ++
          counters.delta() + ("trace.listener_s" -> t.listenerSeconds)
        base ++ Map("layers" -> layers, "spans" -> spanList(opSpan +: spans))
      }
    }
  }
}
