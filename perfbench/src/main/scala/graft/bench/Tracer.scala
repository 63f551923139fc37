package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed region at a layer boundary. Times are epoch
  * microseconds, the clock the listener events and the Python side share.
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** Listener counts of the jobs launched under one span. */
final class Work {
  var jobs, stages, tasks, cpuNs, gcMs, runMs = 0L
  var shuffleWrite, shuffleRead, spill, peakMem, inBytes, inRecords = 0L
}

/** Traced run of one operation: spans around the calls into each layer,
  * Spark job and stage spans from a SparkListener (parented through a local
  * property the calling thread and the threads it starts carry), micro-batch
  * spans from a StreamingQueryListener, and listener counts per span.
  * Everything is kept in memory; `finish` drains the listener bus and hands
  * the spans back. Only the traced run attaches the listeners.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val work = new ConcurrentHashMap[Long, Work]
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Long)] // stage -> (job span, owner span)
  private val jobs = new ConcurrentHashMap[Int, (Long, Long, Long, String)] // job -> (span, owner, start, batch)
  private val batches = mutable.Buffer.empty[Batch]

  def workOf(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  // time spent inside this tracer's listener callbacks: the direct cost of tracing
  private val busyNs = new AtomicLong(0)
  def listenerSeconds: Double = busyNs.get / 1e9
  private def busy(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = busy {
      val props = Option(e.properties)
      val owner = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      val batch = props.flatMap(p => for {
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield s"$q/$b").orNull
      val id = nextId()
      jobs.put(e.jobId, (id, owner, e.time * 1000, batch))
      e.stageIds.foreach(s => stageOwner.put(s, (id, owner)))
      val w = workOf(owner)
      w.synchronized { w.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = busy {
      Option(jobs.get(e.jobId)).foreach { case (id, owner, start, batch) =>
        spans.add(Span(id, owner, if (batch == null) "spark.job" else s"spark.job@$batch",
          start, e.time * 1000))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = busy {
      val info = e.stageInfo
      Option(stageOwner.get(info.stageId)).foreach { case (job, owner) =>
        for (s <- info.submissionTime; c <- info.completionTime)
          spans.add(Span(nextId(), job, "spark.stage", s * 1000, c * 1000))
        val w = workOf(owner)
        w.synchronized { w.stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
      val m = e.taskMetrics
      if (m != null) Option(stageOwner.get(e.stageId)).foreach { case (_, owner) =>
        val w = workOf(owner)
        w.synchronized {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
          w.inBytes += m.inputMetrics.bytesRead
          w.inRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = busy {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp)
      val startUs = start.getEpochSecond * 1000000 + start.getNano / 1000
      batches.synchronized {
        batches += Batch(s"${p.id}/${p.batchId}", startUs,
          startUs + d.getOrElse("triggerExecution", 0L) * 1000, d)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Time `body` as a span named `name` under `parent`; jobs it launches on
    * this thread, or on threads it starts, are owned by the span.
    */
  def span[T](name: String, parent: Long)(body: Long => T): T = {
    val id = nextId()
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowUs()
    try body(id)
    finally {
      spans.add(Span(id, parent, name, t0, nowUs()))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Drain the listener bus, detach, and return the spans of the operation:
    * each micro-batch becomes a span under the sync span that ran it, and the
    * jobs of a micro-batch are re-parented to it.
    */
  def finish(): (Seq[Span], Seq[Batch]) = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    val bs = batches.synchronized(batches.toList)
    val syncSpans = spans.asScala.filter(_.name == "streaming.sync").toList
    val batchSpans = bs.map { b =>
      val parent = syncSpans.find(s => s.start <= b.start && b.start <= s.end).map(_.id).getOrElse(0L)
      b.key -> Span(nextId(), parent, "streaming.batch", b.start, b.end)
    }.toMap
    val all = spans.asScala.toList.map { s =>
      if (!s.name.startsWith("spark.job@")) s
      else {
        val key = s.name.stripPrefix("spark.job@")
        s.copy(name = "spark.job", parent = batchSpans.get(key).map(_.id).getOrElse(s.parent))
      }
    }
    (all ++ batchSpans.values, bs)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def nowUs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000 + t.getNano / 1000
  }

  final case class Batch(key: String, start: Long, end: Long, durationMs: Map[String, Long])
}
