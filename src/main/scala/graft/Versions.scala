package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one publish protocol for a store read while a writer replaces it
  * (the serving cache, the streaming merge stores). A store at `root`
  * holds named relations. A writer of version `n` writes each relation to
  * a dir of its own, `root/<relation>/v=<n>-<attempt id>`, and then
  * commits by creating the MANIFEST `root/_versions/<n>`, one line per
  * relation naming its dir. The create is the one commit point: it is
  * atomic and never replaces (a link(2) of a written temp file on the
  * local file system, a rename without overwrite elsewhere), so a reader
  * that finds the manifest sees one whole version, like a GET of the
  * reference's whole-key Redis SET (server.js:295-299). On S3 the create
  * needs a conditional put, which this does not do.
  *
  * Committed versions are CONSECUTIVE. A store's first version may have
  * any number; every later one must be the version after the newest
  * committed one when its manifest is created, or the writer fails naming
  * its version. So of two writers that pick one `n` (two ticks that
  * overlap on one cache dir), one commits and the other fails, and a
  * merge store's foreachBatch batch ids, which Structured Streaming
  * issues consecutively, commit in order. [[latest]] relies on it: a
  * lookup over an unchanged store checks two manifests and lists nothing.
  *
  * A writer whose write throws, or that fails to commit, deletes its own
  * dirs. A writer killed outright leaves its dirs and maybe a temp
  * manifest `_versions/<n>-<attempt id>`; no manifest names them, so they
  * are never read and block no later writer, and the prune deletes them
  * with their version.
  *
  * Retention: after committing `n`, the writer deletes every manifest,
  * temp manifest and relation dir below `n - 1`, the version `n`
  * superseded. Two committed versions remain, and a reader may hold a
  * version for at most one publish period (a refresh tick, a stream
  * trigger) after looking it up. All I/O goes through the Hadoop
  * `FileSystem`, so hdfs:// stores work like local ones. */
object Versions {

  /** One session's handle on a store: its manifest dir, the file system
    * it lives on and the newest version the session saw there (the hint),
    * held as the [[Memo.valueAt]] entry `versions:latest` of the root, so
    * that a probe builds one child `Path` and nothing else. */
  private final class Store(val fs: FileSystem, val log: Path, val hint: AtomicLong) {
    def has(v: Long): Boolean = fs.exists(new Path(log, v.toString))
    def list(dir: Path): Seq[Path] =
      try fs.listStatus(dir).toSeq.map(_.getPath) catch { case _: FileNotFoundException => Nil }
  }

  private def store(s: SparkSession, root: String): Store =
    Memo.valueAt(s, root, "versions:latest", "_versions", ()) {
      val log = new Path(root, "_versions")
      new Store(log.getFileSystem(s.sparkContext.hadoopConfiguration), log, new AtomicLong(-1L))
    }

  /** Committed versions under `root`, newest first: one listing of its
    * manifests (none when the store does not exist). */
  def committed(s: SparkSession, root: String): Seq[Long] = {
    val st = store(s, root)
    st.list(st.log).flatMap(_.getName.toLongOption).sorted(Ordering[Long].reverse)
  }

  /** The newest committed version under `root`, found from the hint.
    * Committed versions are consecutive, and a prune only deletes versions
    * below a newer committed one, so:
    *   - if `_versions/<hint + 1>` exists, walk forward while the next one does;
    *   - else if `_versions/<hint>` still exists, it is the newest;
    *   - else (a hint left behind by a prune, a store deleted and rewritten)
    *     and in a session with no hint, list the manifests ([[committed]]).
    * So a lookup over an unchanged store costs two existence checks and no
    * listing. Nothing depends on mtimes. */
  def latest(s: SparkSession, root: String): Option[Long] = {
    val st = store(s, root)
    val k = st.hint.get
    val found =
      if (k >= 0 && st.has(k + 1))
        Some(Iterator.iterate(k + 1)(_ + 1).dropWhile(v => st.has(v + 1)).next())
      else if (k >= 0 && st.has(k)) Some(k)
      else committed(s, root).headOption
    st.hint.set(found.getOrElse(-1L))
    found
  }

  /** The dir of relation `name` in committed version `v` of the store at
    * `root`: one read of its manifest. */
  def dir(s: SparkSession, root: String, name: String, v: Long): String = {
    val st = store(s, root)
    val in = st.fs.open(new Path(st.log, v.toString))
    val lines = try new String(in.readAllBytes(), UTF_8).linesIterator.toSeq finally in.close()
    lines.map(_.split('\t')).collectFirst { case Array(`name`, d) => new Path(root, d).toString }
      .getOrElse(throw new IllegalStateException(s"version $v of $root has no relation $name"))
  }

  /** Write `relations` (name, rows) as version `n` of the store at `root`
    * and commit it, then prune. Throws naming `n` when `n` is not the
    * version after the newest committed one at the commit (another writer
    * committed it, or it would leave a gap); then, as when a write throws,
    * this writer's dirs are deleted and nothing is committed. */
  def publish(s: SparkSession, root: String, n: Long, relations: Seq[(String, DataFrame)]): Unit = {
    val st = store(s, root)
    val attempt = s"$n-${java.util.UUID.randomUUID}"
    val dirs = relations.map { case (name, _) => s"$name/v=$attempt" }
    try {
      relations.zip(dirs).foreach { case ((_, df), d) => df.write.parquet(new Path(root, d).toString) }
      val manifest = relations.zip(dirs).map { case ((name, _), d) => s"$name\t$d\n" }.mkString
      if (!(latest(s, root).forall(_ + 1 == n) && create(s, st, n, attempt, manifest)))
        throw new IllegalStateException(s"version $n of $root is not the one after its newest " +
          s"committed version ${latest(s, root).getOrElse("(none)")}: another writer committed it, " +
          "or it would leave a gap")
    } catch { case e: Throwable => dirs.foreach(d => st.fs.delete(new Path(root, d), true)); throw e }
    // every entry of the manifest dir and the relation dirs is named
    // `<version>…` or `v=<version>…`
    (st.log +: relations.map(r => new Path(root, r._1))).flatMap(st.list)
      .filter(_.getName.stripPrefix("v=").takeWhile(_.isDigit).toLongOption.exists(_ < n - 1))
      .foreach(st.fs.delete(_, true))
  }

  /** Publish `manifest` as `_versions/<n>` unless that exists: written to
    * the temp manifest `_versions/<attempt>`, then linked (local) or
    * renamed without overwrite (elsewhere) into place. False when another
    * writer's manifest is there. */
  private def create(s: SparkSession, st: Store, n: Long, attempt: String, manifest: String): Boolean = {
    val (tmp, dst) = (new Path(st.log, attempt), new Path(st.log, n.toString))
    // the raw local file system writes no checksum file beside the temp manifest
    val fs = st.fs match { case l: LocalFileSystem => l.getRawFileSystem; case fs => fs }
    val out = fs.create(tmp, false)
    try out.write(manifest.getBytes(UTF_8)) finally out.close()
    try {
      fs match {
        case local: RawLocalFileSystem =>
          java.nio.file.Files.createLink(local.pathToFile(dst).toPath, local.pathToFile(tmp).toPath)
        case _ =>
          FileContext.getFileContext(fs.getUri, s.sparkContext.hadoopConfiguration)
            .rename(tmp, dst, Options.Rename.NONE)
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException | _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        false
    } finally fs.delete(tmp, false)
  }
}
