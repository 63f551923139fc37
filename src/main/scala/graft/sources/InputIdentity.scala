package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** What a parquet read of some paths depends on, other than the code that
  * reads them: every file under the paths as (path, length, modification
  * time), and the session's `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` settings, which change what the same bytes
  * infer to (`Tables.events` turns `nanosAsLong` on, and a TIMESTAMP(NANOS)
  * column then reads as a long).
  *
  * Two reads with equal identities see the same files under the same
  * settings, so whatever was derived from the first (its schema here) holds
  * for the second. The check is conservative: a rewritten, added or removed
  * file, or a changed setting, makes the identities differ. The one case it
  * misses is a file rewritten in place with the same length within the
  * filesystem's modification-time granularity; Spark's own writers never do
  * that, since every write names its part files afresh.
  */
private[graft] final case class InputIdentity(
    files: Seq[(String, Long, Long)], conf: Map[String, String])

private[graft] object InputIdentity {
  /** The identity of a read of `paths`; throws `FileNotFoundException` when
    * a path does not exist. Lists files in the calling JVM, launching no job.
    */
  def of(spark: SparkSession, paths: String*): InputIdentity = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        st.getPath.getFileSystem(hadoop).listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    val files = paths.flatMap { p =>
      val path = new Path(p)
      walk(path.getFileSystem(hadoop).getFileStatus(path))
    }
    InputIdentity(
      files.map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sortBy(_._1),
      spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      })
  }
}
