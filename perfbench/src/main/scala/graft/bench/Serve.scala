package graft.bench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** dashboard_serve: registry queries served from one long-lived session.
  *
  * `answers` computes each query's answer once, writes it where the checker
  * compares it with DuckDB, and returns its row count and full-column
  * checksum. `loop` then runs a closed loop of client threads over a request
  * mix for a while; every request calls the registry closure, plans it and
  * collects its checksum, which the checker compares with the verified one.
  */
final class Serve(spark: SparkSession, data: String) {
  import BenchMain.secs

  private def answer(name: String, dir: String): Map[String, Any] =
    try {
      val df = SparkEntry.queries(name)(spark, data)
      df.write.mode("overwrite").parquet(dir)
      val c = Plans.checksum(df)
      val row = c.collect().head
      Map("rows" -> row.getLong(0), "checksum" -> row.getLong(1),
        "pruned" -> Plans.prunedTables(c).toSeq.sorted)
    } catch {
      case e: Exception =>
        Map("error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(400))
    }

  /** Each query's answer, written to `dir/<query>` for the checker, from
    * `threads` threads: query -> its row count, checksum and the tables its
    * checksum plan fails to scan, or the error it threw.
    */
  def answers(names: Seq[String], dir: String, threads: Int): Map[String, Any] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val pending = names.map(n => n -> pool.submit(() => answer(n, s"$dir/$n")))
      pending.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdown()
  }

  /** Requests `mix(0)`, `mix(1)`, ... from `threads` client threads, each
    * sending its next request when its last one is answered, until
    * `seconds` have passed and a whole number of `block`s, at least one,
    * was requested.
    * Returns one record per request, `[name, start_us, end_us, rows,
    * checksum, error]`, and the process CPU time of the loop.
    */
  def loop(mix: IndexedSeq[String], seconds: Double, block: Int, threads: Int,
      trace: Boolean): Map[String, Any] = {
    val tr = if (trace) Some(new Tracer(spark)) else None
    val counters = new BenchMain.Counters(spark)
    val next = new AtomicInteger(0)
    // the number of requests the loop sends, fixed by the first request
    // drawn after the deadline
    val limit = new AtomicInteger(Int.MaxValue)
    def whole(i: Int): Int = math.max(block, (i + block - 1) / block * block)
    val records = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]
    val layers = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Double]]
    val works = new java.util.concurrent.ConcurrentHashMap[Long, (Work, Work)]
    val cpu0 = BenchMain.cpuNs()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong

    def request(name: String, opId: Long): Seq[Any] = {
      def phase[T](span: String)(body: => T): (T, Double, Long) = tr match {
        case Some(t) => t.span(span, opId) { id => val (r, s) = secs(body); (r, s, id) }
        case None => val (r, s) = secs(body); (r, s, 0L)
      }
      val start = Tracer.nowUs()
      try {
        val (df, constructS, constructId) =
          phase("operators.construct")(SparkEntry.queries(name)(spark, data))
        val c = Plans.checksum(df)
        val (_, planS, _) =
          if (trace) phase("plans.plan")(c.queryExecution.executedPlan) else ((), 0.0, 0L)
        val (row, actionS, actionId) = phase("exec.action")(c.collect().head)
        tr.foreach { t =>
          layers.put(opId, Map(
            "operators.construct_s" -> constructS,
            "exec.action_s" -> actionS) ++
            BenchMain.planLayers(planS, Seq(Plans.shape(c.queryExecution.executedPlan))))
          works.put(opId, (t.workOf(constructId), t.workOf(actionId)))
        }
        Seq(name, start, Tracer.nowUs(), row.getLong(0), row.getLong(1), null)
      } catch {
        case e: Exception =>
          Seq(name, start, Tracer.nowUs(), 0L, 0L,
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(400))
      }
    }

    val clients = (0 until threads).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        if (System.nanoTime() >= end) limit.compareAndSet(Int.MaxValue, whole(i))
        while (i < limit.get) {
          val name = mix(i % mix.size)
          val rec = tr match {
            case Some(t) => t.span("request", 0L)(id => id +: request(name, id))
            case None => 0L +: request(name, 0L)
          }
          records.add(rec)
          i = next.getAndIncrement()
          if (System.nanoTime() >= end) limit.compareAndSet(Int.MaxValue, whole(i))
        }
      })
      th.start()
      th
    }
    clients.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val base = Map[String, Any]("wall_s" -> wallS, "cpu_s" -> (BenchMain.cpuNs() - cpu0) / 1e9)
    val all = records.toArray.toSeq.map(_.asInstanceOf[Seq[Any]])
    tr match {
      case None => base + ("requests" -> all.map(_.tail))
      case Some(t) =>
        // listener counts are complete only once the bus is drained
        val (spans, _) = t.finish()
        val loopLayers = counters.delta() + ("trace.listener_s" -> t.listenerSeconds)
        val perRequest = all.map { r =>
          val op = r.head.asInstanceOf[Long]
          Option(layers.get(op)).fold(Map.empty[String, Double]) { l =>
            val (construct, action) = works.get(op)
            l + ("operators.construct_jobs" -> construct.jobs.toDouble) ++
              BenchMain.execLayers(action, l("exec.action_s")) ++
              BenchMain.sourceLayers(Seq(construct, action)) ++ loopLayers
          }
        }
        base ++ Map("requests" -> all.map(_.tail), "ops" -> all.map(_.head),
          "layers" -> perRequest, "spans" -> BenchMain.spanList(spans))
    }
  }
}
