package graft.operators

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Bounded cache registry for operators that stage an intra-query reused
  * frame (minhash signatures, token/bigram explodes, the tf table) but
  * return a LAZY result.
  *
  * Those operators cannot use a `try { ... } finally unpersist()`
  * discipline (the historical shape of the eager Similarity builders):
  * cache substitution happens when the caller finally runs an action, so
  * unpersisting on the way out of the builder would drop the cache before
  * it was ever used — and for the Similarity builders it meant the final
  * probe/serve action re-scanned parquet after training had already paid
  * for the materialization (r17 moved them onto this registry for exactly
  * that reason). Leaving the cache live forever is the opposite failure —
  * executor storage grows linearly in the number of registered queries a
  * session runs.
  *
  * The registry keeps the last `keep` DISTINCT staged plans per session
  * (LRU; `spark.graft.staging.keep`, default 4) and drops evictions. No
  * single operator registers more than
  * two staging frames, so an in-flight query can never lose its own stage;
  * re-invoking the SAME operator (warm benchmark iterations) is a no-op
  * that leaves the materialized stage in place.
  *
  * ==Two staging backends==
  *
  * `spark.graft.staging` picks how a registered frame materializes:
  *  - `cache` — `df.cache()` (in-memory/disk blocks). The right call while
  *    the staged frame fits executor storage.
  *  - `parquet` — write once to a staging table under
  *    `spark.graft.scratch`, return the read-back. This is the production
  *    shape: a warehouse pipeline materializes big intermediate stages as
  *    TABLES between jobs (the incremental-mart layer here does exactly
  *    that), it does not pin them in executor memory. Columnar-compressed,
  *    survives executor churn, and rereads cost a scan instead of a full
  *    upstream recompute.
  *  - `auto` (Bench sets it) — `parquet` when the frame's LEAF input
  *    bytes (actual file sizes from the scan relations — the one size
  *    estimate that is reliable pre-execution) exceed
  *    `spark.graft.staging.threshold`, else `cache`. The default
  *    threshold (1 GB) is deliberately conservative: the round-11 x300
  *    A/B (docs/SCALE.md) measured cache-or-recompute BEATING parquet
  *    staging at every locally reachable scale (Spark's cache degrades
  *    gracefully — evicted blocks recompute — while staging pays
  *    write+read up front), so the cutover sits past the scales where
  *    that measurement holds. The backend exists for the regime where
  *    neither caching nor recompute is viable (cross-job reuse, corpus-
  *    scale stages) — the shape the incremental-mart layer already uses
  *    for its persisted tables.
  *
  * Default is `cache`: byte-identical to the historical behavior, and the
  * correctness gate (Verify at sf0.01) keeps exercising the same path it
  * always did. OperatorSpec pins cache ≡ parquet result identity.
  *
  * Eviction caveat for LAZY results: a frame scoped here is only protected
  * until `keep` LATER registrations occur — a caller that builds a lazy
  * result, then runs that many other scoped operators before its first action,
  * silently recomputes (correct, just uncached). Operators whose loop
  * correctness depends on materialization (dedupClusters, bpeTrainMerges)
  * therefore run an eager action / localCheckpoint while their cache is
  * provably fresh, never relying on registry survival. (In `parquet` mode
  * the stage is materialized eagerly at registration; evicting the
  * registry ENTRY only drops the LRU slot — the staging files are kept on
  * disk until application end, so a read-back frame embedded in a caller's
  * lazy result keeps scanning valid files even past eviction.)
  *
  * Lifecycle: sessions are weakly referenced, and the whole registry drops
  * on SparkListenerApplicationEnd (parquet staging dirs deleted), so a
  * stopped application cannot stay pinned here along with its
  * staged frames.
  */
object CacheScope {
  /** Retention bound — how many distinct staged plans a session keeps
    * (LRU). 4 suffices for any single registry query (none stages more
    * than two frames); a DAG-scale program that builds MANY queries into
    * one plan (Dag.fullBuild) raises `spark.graft.staging.keep` for the
    * build so early stages aren't evicted before the single execution.
    */
  private def keep(session: SparkSession): Int =
    session.conf.getOption("spark.graft.staging.keep").map(_.toInt).getOrElse(4)

  private sealed trait Stage { def frame: DataFrame }
  private final case class Cached(frame: DataFrame) extends Stage
  private final case class Staged(frame: DataFrame, path: String) extends Stage

  // canonicalized plan → the staged frame, insertion-ordered for LRU.
  // Weak session keys: a dropped session's registry entries become
  // collectable (its cached blocks die with the session's executors state).
  private val live =
    new java.util.WeakHashMap[SparkSession, mutable.LinkedHashMap[LogicalPlan, Stage]]

  // contexts that already carry the application-end cleanup hook
  private val hooked = mutable.Set.empty[org.apache.spark.SparkContext]

  // staging dirs whose registry entry was evicted but whose files must
  // outlive the eviction: a previously returned read-back frame may still
  // be embedded in a caller's lazy result, and deleting eagerly would turn
  // the documented eviction race (cache mode: graceful recompute) into a
  // FileNotFoundException (parquet mode: hard job failure). Reaped at
  // application end alongside the live entries.
  private val deferredDeletes = mutable.Buffer.empty[String]

  private def deleteDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** Sum of the actual on-disk bytes of the plan's leaf scan relations —
    * the only size signal that is reliable before execution (downstream
    * cardinality estimates drift by orders of magnitude through explodes
    * and joins, but leaf file sizes are facts).
    */
  private def leafInputBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation.sizeInBytes
    }.sum

  private def stagingDir(session: SparkSession): String =
    session.conf.getOption("spark.graft.scratch")
      .getOrElse(System.getProperty("java.io.tmpdir")) + "/graft_staging"

  /** Test-only introspection: the canonicalized plans currently registered
    * for `session`, LRU order. PlanAuditSpec uses the DELTA across one
    * operator invocation to pin its registration count — the self-eviction
    * regression class (an operator registering more frames than `keep`
    * evicts its own stages and silently recomputes, the 4.6× band-curve
    * incident in docs/SCALE.md).
    */
  private[graft] def registeredKeys(session: SparkSession): Seq[LogicalPlan] =
    synchronized {
      Option(live.get(session)).map(_.keys.toSeq).getOrElse(Seq.empty)
    }

  /** Stages `df` (if an equivalent plan isn't already registered) and
    * returns the staged frame; evicts + drops the least-recently registered
    * scoped stages beyond the retention bound.
    */
  def cached(df: DataFrame): DataFrame = synchronized {
    val session = df.sparkSession
    if (hooked.add(session.sparkContext)) {
      session.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          CacheScope.synchronized {
            val it = live.values().iterator()
            while (it.hasNext) it.next().values.foreach {
              case Staged(_, path) => deleteDir(path)
              case _ => ()
            }
            deferredDeletes.foreach(deleteDir)
            deferredDeletes.clear()
            live.clear()
            hooked.clear()
          }
      })
    }
    var reg = live.get(session)
    if (reg == null) {
      reg = mutable.LinkedHashMap.empty[LogicalPlan, Stage]
      live.put(session, reg)
    }
    val key = df.queryExecution.analyzed.canonicalized
    reg.remove(key) match {
      case Some(prev @ Cached(frame)) =>
        // an external clearCache() (Verify/Bench per-query isolation) may
        // have dropped the relation while the registry entry survived —
        // re-arm it, or the caller silently runs uncached (storageLevel
        // consults the CacheManager by canonicalized plan, so this is a
        // no-op when the cache is still live)
        if (frame.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          frame.cache()
        reg.put(key, prev) // LRU bump
        frame
      case Some(prev @ Staged(frame, path)) =>
        // staging files survive clearCache(); only an external delete of
        // the scratch dir forces a rewrite
        if (new java.io.File(path).exists()) {
          reg.put(key, prev)
          frame
        } else stage(df, key, reg)
      case None =>
        val mode = session.conf.getOption("spark.graft.staging").getOrElse("cache")
        val threshold = session.conf
          .getOption("spark.graft.staging.threshold").map(_.toLong)
          .getOrElse(1L << 30)
        val toParquet = mode match {
          case "parquet" => true
          case "auto" => leafInputBytes(df) > threshold
          case _ => false
        }
        val out =
          if (toParquet) stage(df, key, reg)
          else {
            df.cache()
            reg.put(key, Cached(df))
            df
          }
        evict(reg, keep(session))
        out
    }
  }

  private def stage(df: DataFrame,
      key: LogicalPlan, reg: mutable.LinkedHashMap[LogicalPlan, Stage]): DataFrame = {
    val dir = stagingDir(df.sparkSession)
    // Path fingerprint = 128-bit MD5 of the full canonicalized plan string,
    // not the 32-bit semanticHash: equivalent plans still key to the same
    // table, but two DIFFERENT live plans can no longer collide onto one
    // path (a 32-bit clash would have silently overwritten the other
    // entry's files while its registry record kept serving the read-back).
    val planBytes = key.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val digest = java.security.MessageDigest.getInstance("MD5").digest(planBytes)
    val path = s"$dir/stage_" + digest.map(b => f"$b%02x").mkString
    // 16 MB row groups: the default 128 MB block means every concurrent
    // writer task buffers ~a block, and 32 local tasks × 128 MB of writer
    // state OOM'd an 8 GB heap at x300 — staging tables are read back
    // immediately and whole, so large row groups buy nothing here
    df.write.mode("overwrite")
      .option("parquet.block.size", (16 << 20).toString)
      .parquet(path)
    // read back with the schema just written: inferring it again is a job
    val back = df.sparkSession.read.schema(df.schema).parquet(path)
    reg.put(key, Staged(back, path))
    back
  }

  private def evict(reg: mutable.LinkedHashMap[LogicalPlan, Stage], keep: Int): Unit =
    while (reg.size > keep) {
      val (k, old) = reg.head
      reg.remove(k)
      old match {
        // an external clearCache() may have already dropped it; idempotent
        case Cached(f) => f.unpersist()
        // files deleted at application end, not now: a caller's lazy
        // result may still scan them (see deferredDeletes)
        case Staged(_, p) => deferredDeletes += p
      }
    }
}
