package graft

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one publish protocol for a store read while a writer replaces it
  * (the streaming merge stores, the serving cache). Version `n` of the
  * store at `root` is written whole to `root/v=<n>` and counts once its
  * `_SUCCESS` exists: a crashed write is never read, and the next attempt
  * at `n` overwrites it. So a reader sees one whole version, like a GET of
  * the reference's whole-key Redis SET (server.js:295-299).
  *
  * One writer per version. Two writers of one `v=<n>` overwrite each
  * other's files and share Spark's staging directory, so a version could
  * commit holding both writers' rows. A writer that can race another
  * writes `n` [[claimed]]: the claim is an exclusive create of a file
  * beside the versions, so of two writers that pick one `n`, one writes it
  * and the other fails naming the claim. A writer releases its claim if
  * its write fails, and a committed version's claim is pruned with it. (A
  * streaming store needs no claim: its versions are batch ids, and one
  * query owns its checkpoint.)
  *
  * Retention: after committing `n`, the writer prunes below the version
  * `n` superseded. Two committed versions remain, and a reader may hold a
  * version for at most one publish period (a refresh tick, a stream
  * trigger) after looking it up. All I/O goes through the Hadoop
  * `FileSystem`, so hdfs:// and s3a:// stores work like local ones. */
object Versions {

  def path(root: String, v: Long): String = s"$root/v=$v"

  private def claimPath(root: String, v: Long): Path = new Path(root, s"_claim-$v")

  /** Run `write` as the one writer of version `v` under `root`, or throw
    * naming the claim another writer holds. A failed `write` releases the
    * claim, and so does this JVM's exit before `write` returns; a writer
    * killed outright leaves it, and the next writer of `v` fails naming it
    * until it is deleted. Hadoop's local file system checks and then
    * creates, so two writers in one instant could both pass it; there the
    * claim is an O_EXCL create. */
  def claimed(s: SparkSession, root: String, v: Long)(write: => Unit): Unit = {
    val p = claimPath(root, v)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try fs match {
      case local: LocalFileSystem =>
        val f = local.pathToFile(p).toPath
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.createFile(f): Unit
      case _ => fs.create(p, false).close()
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"version $v of $root is claimed by another writer ($p): one writer per version")
    }
    fs.deleteOnExit(p)
    try write catch { case e: Throwable => fs.delete(p, false); throw e }
    finally fs.cancelDeleteOnExit(p)
  }

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

  /** Delete every version below `v`, committed or not, and its claim. */
  def prune(s: SparkSession, root: String, v: Long): Unit = {
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    listed(fs, root).filter(_ < v).foreach(old => fs.delete(new Path(path(root, old)), true))
    fs.globStatus(new Path(root, "_claim-*")).toSeq.map(_.getPath)
      .filter(_.getName.drop(7).toLongOption.exists(_ < v)).foreach(fs.delete(_, false))
  }
}
