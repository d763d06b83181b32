package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one publish protocol for a store read while a writer replaces it
  * (the streaming merge stores, the serving cache). Version `n` of the
  * store at `root` is written whole to `root/v=<n>` and counts once its
  * `_SUCCESS` exists: a crashed write is never read, and the next attempt
  * at `n` overwrites it. So a reader sees one whole version, like a GET of
  * the reference's whole-key Redis SET (server.js:295-299).
  *
  * Committed versions are CONSECUTIVE. A store's first version may have
  * any number; every later write is the version after the newest
  * committed one, or a committed version written again (a cache tick that
  * crashed after committing this relation but not its chain_tip leaves
  * one). [[pathFor]] refuses any other write. `Pipelines.publish` writes
  * `latest + 1`, and a merge store writes foreachBatch batch ids, which
  * Structured Streaming issues consecutively. [[latest]] relies on it: a
  * lookup over an unchanged store checks two `_SUCCESS` files and lists
  * nothing, and falls back to the listing only when its hint is gone.
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

  private def fileSystem(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Every version under `root`, committed or not, newest first (none
    * when `root` does not exist: a glob matches nothing there). */
  private def listed(fs: FileSystem, root: String): Seq[Long] =
    fs.globStatus(new Path(root, "v=*")).toSeq.filter(_.isDirectory)
      .flatMap(_.getPath.getName.drop(2).toLongOption).sorted(Ordering[Long].reverse)

  /** Committed versions, newest first: one listing of `root`, then one
    * `_SUCCESS` check per version as the list is walked, so [[latest]]
    * stops at the first committed one. */
  def committed(s: SparkSession, root: String): LazyList[Long] = {
    val fs = fileSystem(s, root)
    listed(fs, root).to(LazyList).filter(isCommitted(fs, root, _))
  }

  private def isCommitted(fs: FileSystem, root: String, v: Long): Boolean =
    fs.exists(new Path(path(root, v), "_SUCCESS"))

  /** The newest committed version under `root`, found from the newest one
    * this session saw there (the hint, a [[Memo.valueAt]] entry of
    * `root`). Committed versions are consecutive, and a prune only deletes
    * versions below a newer committed one, so:
    *   - if `v=<hint + 1>` is committed, walk forward while the next one is;
    *   - else if `v=<hint>` is still committed, it is the newest;
    *   - else (a hint left behind by a prune, a store deleted and rewritten)
    *     and in a session with no hint, walk the listing ([[committed]]).
    * So a lookup over an unchanged store costs two `_SUCCESS` existence
    * checks and no listing. Nothing depends on directory mtimes. */
  def latest(s: SparkSession, root: String): Option[Long] = {
    val fs = fileSystem(s, root)
    val hint = Memo.valueAt(s, root, "versions:latest", "v=*", ())(new AtomicLong(-1L))
    val k = hint.get
    val found =
      if (k >= 0 && isCommitted(fs, root, k + 1))
        Some(Iterator.iterate(k + 1)(_ + 1).dropWhile(v => isCommitted(fs, root, v + 1)).next())
      else if (k >= 0 && isCommitted(fs, root, k)) Some(k)
      else committed(s, root).headOption
    hint.set(found.getOrElse(-1L))
    found
  }

  /** The path to write version `v` of the store at `root` at, after
    * checking that the write keeps the committed versions consecutive: `v`
    * must be the store's first version, the one after its newest committed
    * version, or an already committed version written again. Any other `v`
    * throws naming the store and both versions. */
  def pathFor(s: SparkSession, root: String, v: Long): String = {
    latest(s, root).foreach(l =>
      if (v > l + 1 || (v <= l && !isCommitted(fileSystem(s, root), root, v)))
        throw new IllegalStateException(
          s"version $v of $root would leave a gap beside its newest committed version $l: " +
            "committed versions must be consecutive"))
    path(root, v)
  }

  /** Delete every version below `v`, committed or not, and its claim. */
  def prune(s: SparkSession, root: String, v: Long): Unit = {
    val fs = fileSystem(s, root)
    listed(fs, root).filter(_ < v).foreach(old => fs.delete(new Path(path(root, old)), true))
    fs.globStatus(new Path(root, "_claim-*")).toSeq.map(_.getPath)
      .filter(_.getName.drop(7).toLongOption.exists(_ < v)).foreach(fs.delete(_, false))
  }
}
