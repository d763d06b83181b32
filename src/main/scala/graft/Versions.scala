package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one publish protocol for a store read while a writer replaces it
  * (the streaming merge stores, the serving cache). Version `n` of the
  * store at `root` is written whole to `root/v=<n>` and counts once its
  * `_SUCCESS` exists: a crashed write is never read, and the next attempt
  * at `n` overwrites it. So a reader sees one whole version, like a GET of
  * the reference's whole-key Redis SET (server.js:295-299).
  *
  * Retention: after committing `n`, the writer prunes below the version
  * `n` superseded. Two committed versions remain, and a reader may hold a
  * version for at most one publish period (a refresh tick, a stream
  * trigger) after looking it up. All I/O goes through the Hadoop
  * `FileSystem`, so hdfs:// and s3a:// stores work like local ones. */
object Versions {

  def path(root: String, v: Long): String = s"$root/v=$v"

  /** Every version under `root`, committed or not, newest first (none
    * when `root` does not exist: a glob matches nothing there). */
  private def listed(fs: FileSystem, root: String): Seq[Long] =
    fs.globStatus(new Path(root, "v=*")).toSeq.filter(_.isDirectory)
      .flatMap(_.getPath.getName.drop(2).toLongOption).sorted(Ordering[Long].reverse)

  /** Committed versions, newest first: one listing of `root`, then one
    * `_SUCCESS` check per version as the list is walked, so [[latest]]
    * stops at the first committed one. */
  def committed(s: SparkSession, root: String): LazyList[Long] = {
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    listed(fs, root).to(LazyList)
      .filter(v => fs.exists(new Path(path(root, v), "_SUCCESS")))
  }

  def latest(s: SparkSession, root: String): Option[Long] =
    committed(s, root).headOption

  /** Delete every version below `v`, committed or not. */
  def prune(s: SparkSession, root: String, v: Long): Unit = {
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    listed(fs, root).filter(_ < v).foreach(old => fs.delete(new Path(path(root, old)), true))
  }
}
