package graft

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one cache layer: every value derived from a source table
  * and reused across queries of a session goes through here, and so does
  * every parquet relation the engine opens ([[Tables]]: a source table as
  * `relation:<table>`, a committed store version as `relation:<name>`).
  *
  * Three entry points, one lookup ([[value]]):
  *   - [[value]]: driver-side data — a row count, a tip height, trained
  *     centroids, a BPE merge list. Stored as computed.
  *   - [[cached]]: a SHARED QUERY CORE, the relation several registered
  *     queries are composed from (d6's cluster labels, the d2 LSH
  *     candidate pairs, tx9's scored TF-IDF pairs), materialized with
  *     localCheckpoint(true). Without it every composing query re-runs the
  *     core's shuffles: tx17 paid tx9's whole candidate join again (1.9 s
  *     at sf0.1), and d2/d4/d10/d6 each re-ran the signature + band
  *     self-join.
  *   - [[cachedParquet]]: an index-sized core, written as parquet under
  *     the session's scratch root instead.
  *
  * THE KEY. One entry per (session, data dir, tag). The tag names every
  * input besides the dir (`kmeans_k${k}_i$iters`, `bpe_batched_exact`, a
  * needle). The entry holds the fingerprint of its source file `srcFile`
  * under `dir` at build time — [[Tables.fingerprint]], a
  * (path, length, mtime) listing — so the rule for when cached state goes
  * stale lives in `Tables`, and the mechanism lives here ([[valueAt]]
  * takes a store version or a listing the caller already holds instead):
  *   - a call whose source fingerprint differs from the entry's rebuilds,
  *     and the new entry REPLACES the old one (a source restamped every
  *     refresh holds one entry, not one per stamp);
  *   - that build also RETIRES the session's entries of the same source
  *     at any other fingerprint, whatever their tag: they would miss on
  *     their next read anyway. So between rewrites of a source, the
  *     entries that read it are bounded by the tags actually asked for
  *     since the last rewrite — for the serving edge's area pages (one tag
  *     per cursor), by the pages clients ask for, which a walk along the
  *     `next` cursors keeps to at most one rendered copy of the relation:
  *     what the reference's Redis key holds;
  *   - a missing source throws before anything is built or stored;
  *   - entries of stopped sessions are purged on access — their checkpoint
  *     RDDs die with the session, and the map must not pin dead sessions
  *     in a long-lived JVM.
  *
  * Every core's output depends only on its named source. (a13_cum also
  * reads supplier and the lineitem height domain, but only to size a
  * broadcast and a bucket width; its rows are independent of both.)
  *
  * Every build runs inside [[timedBuild]], so Bench and the benchmark see
  * each build once, with nested builds' time excluded from their parent.
  *
  * At 100 TB this is exactly the "materialize the candidate-pair /
  * cluster-label intermediate once" step a real pipeline persists to
  * storage between stages; in-session localCheckpoint is the single-JVM
  * equivalent (MEMORY_AND_DISK, spills instead of OOM-ing).
  */
object Memo {

  /** What one (session, dir, tag) holds: the source path, the fingerprint
    * it was built at and the built value. */
  private final class Entry(val source: String, val fingerprint: Any, val value: Any)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Entry]()

  /** The most builds [[buildLog]] holds: far more than one Bench query or
    * one benchmark pass logs between drains. */
  private[graft] val BuildLogCap = 4096

  /** Wall-clock of the builds this JVM has run, drained by Bench:
    * memoization made per-query bench attribution ORDER-DEPENDENT (the
    * first query touching a shared core paid its build — d10 0.18 s vs
    * d2 0.06 s in BENCH_r08 only because d10 sorts first), so Bench now
    * subtracts in-query build time from the enclosing query and emits each
    * build as its own `memo:<tag>` line item (VERDICT r8 item 3). A process
    * that never drains (a server refreshing on a timer) keeps only the
    * newest [[BuildLogCap]] builds. */
  private val buildLog =
    new java.util.concurrent.ArrayBlockingQueue[(String, Double)](BuildLogCap)

  /** Per-thread stack of in-progress build frames; each frame accumulates
    * the wall-clock of its DIRECT child builds so a parent logs only its
    * EXCLUSIVE time. Cores compose (cell_asg builds on the k-means
    * training core), and logging inclusive spans double-counted the
    * nested child — Bench's per-query subtraction then drove a query's
    * net time NEGATIVE, which the -1 failure sentinel misread as a crash
    * (caught live in the first r9 smoke run). */
  private val frames = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
  }

  /** Time `f` as the build of `tag`, logging EXCLUSIVE seconds (total
    * minus nested timedBuild spans on this thread). */
  private def timedBuild[T](tag: String)(f: => T): T = {
    val stack = frames.get()
    stack.push(Array(0.0))
    val t0 = System.nanoTime()
    var ok = false
    try { val r = f; ok = true; r } finally {
      val total = (System.nanoTime() - t0) / 1e9
      val child = stack.pop()(0)
      // a build that THREW is not a completed core: logging its partial
      // wall would inflate memo line items with time for work that will
      // re-run (and re-log) on the next consumer — the crash stays inside
      // the enclosing query's failure handling (review r9). For the same
      // reason the aborted child's span must NOT be subtracted from the
      // parent's exclusive time: a parent that catches the crash and
      // recovers did the recovery work itself, and the child logged
      // nothing to balance the subtraction (ADVICE r9).
      if (ok) {
        if (!stack.isEmpty) stack.peek()(0) += total
        val logged = (tag, math.max(0.0, total - child))
        while (!buildLog.offer(logged)) buildLog.poll()
      }
    }
  }

  /** Remove and return all builds logged since the last drain. */
  def drainBuilds(): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    val out = new java.util.ArrayList[(String, Double)]()
    buildLog.drainTo(out)
    out.asScala.toSeq
  }

  /** A memoized driver-side value: `compute` runs once per (session, dir,
    * tag) and fingerprint of `srcFile` under `dir`. This is the one lookup
    * [[cached]] and [[cachedParquet]] go through too. A build retires the
    * session's entries of the same source at another fingerprint.
    *
    * get + merge rather than computeIfAbsent: builds NEST (cell_asg runs
    * the k-means value build, pq_codes the PQ sub-codebook build), so
    * `compute` may re-enter this map for a different tag, and a nested
    * computeIfAbsent on one ConcurrentHashMap throws "Recursive update".
    * merge's remapping function only compares fingerprints and never
    * re-enters the map. Two threads racing one key both build; the first
    * to land wins unless the second saw a newer source. Bench/Verify run
    * queries sequentially, and correctness is unaffected either way. */
  def value[T](s: SparkSession, dir: String, tag: String, srcFile: String)(
      compute: => T): T =
    valueAt(s, dir, tag, srcFile, Tables.fingerprint(s, s"$dir/$srcFile"))(compute)

  /** [[value]] with the fingerprint `fp` of `srcFile` given by the caller
    * instead of listed: a committed [[Versions]] version never changes, so
    * its number is the fingerprint, and a hit lists nothing. */
  def valueAt[T](s: SparkSession, dir: String, tag: String, srcFile: String,
                 fp: Any)(compute: => T): T = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val source = s"$dir/$srcFile"
    val key = (s, dir, tag)
    val hit = cache.get(key)
    val entry =
      if (hit != null && hit.fingerprint == fp) hit
      else {
        val built = new Entry(source, fp, timedBuild(tag)(compute))
        cache.entrySet.removeIf(e => e.getKey._1 == s &&
          e.getValue.source == source && e.getValue.fingerprint != fp)
        cache.merge(key, built,
          (old: Entry, nu: Entry) => if (old.fingerprint == nu.fingerprint) old else nu)
      }
    entry.value.asInstanceOf[T]
  }

  /** A memoized shared core, eagerly materialized with
    * localCheckpoint(true) on its first call per key. */
  def cached(s: SparkSession, dir: String, tag: String, srcFile: String)(
      build: => DataFrame): DataFrame =
    value(s, dir, tag, srcFile)(build.localCheckpoint(true))

  /** [[cached]] for INDEX-SIZED cores: materialize as compressed parquet
    * in the session's scratch root instead of a serialized RDD
    * checkpoint. A localCheckpoint stores deserialized-then-serialized
    * rows with no columnar encoding — the sf100 trigram postings
    * (~1.5 B (gram, doc_id) rows) ENOSPC'd the box at ~30 GB where
    * parquet's dictionary + RLE holds the same relation in a few GB —
    * and parquet IS the artifact a production build persists anyway (the
    * bucketed-layout story BucketingSpec drives).
    *
    * Every build writes a directory of its own (tag plus a random id), so
    * no two builds — two data dirs sharing a tag, two threads racing one
    * key, a rebuild after a restamp — ever write the same path (ADVICE
    * r12). A superseded build's directory stays for one more build: a
    * frame handed out earlier may still read it, as a reader may hold a
    * [[Versions]] version for one publish period. Once a newer build has
    * itself been superseded, the directory is deleted, so a source
    * restamped every tick holds at most two builds' directories per key.
    *
    * The build is read back with the schema it was just written with, so
    * reopening it runs no schema-inference job. */
  def cachedParquet(s: SparkSession, dir: String, tag: String,
                    srcFile: String)(build: => DataFrame): DataFrame = {
    val fp = Tables.fingerprint(s, s"$dir/$srcFile")
    valueAt(s, dir, tag, srcFile, fp) {
      val path = scratchRoot(s).resolve(s"${tag}_${java.util.UUID.randomUUID()}")
      val df = build
      df.write.parquet(path.toString)
      retain(s, dir, tag, fp, path)
      s.read.schema(df.schema).parquet(path.toString)
    }
  }

  /** The scratch directories of each key's [[cachedParquet]] builds,
    * newest first, with the fingerprint each was built at. */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), List[(Any, Path)]]()

  /** Record `path` as the newest build of its key at `fp`, and delete the
    * directories built at any fingerprint older than the newest two. */
  private def retain(s: SparkSession, dir: String, tag: String, fp: Any, path: Path): Unit = {
    scratchDirs.keySet.removeIf(k => k._1.sparkContext.isStopped)
    var dropped = List.empty[(Any, Path)]
    scratchDirs.compute((s, dir, tag), (_, old) => {
      val all = (fp -> path) :: Option(old).getOrElse(Nil)
      val newest = all.map(_._1).distinct.take(2)
      val (keep, drop) = all.partition(b => newest.contains(b._1))
      dropped = drop
      keep
    })
    dropped.foreach(b => deleteRecursively(b._2.toFile))
  }

  /** `java.io.tmpdir/graft-memo-<appId>`. Whichever call creates it also
    * registers its deletion at application end, so it is registered once
    * per application and nothing outlives `spark.stop()`. */
  private[graft] def scratchRoot(s: SparkSession): Path = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-memo-${s.sparkContext.applicationId}")
    try {
      Files.createDirectory(root)
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          deleteRecursively(root.toFile)
      })
    } catch { case _: FileAlreadyExistsException => }
    root
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Entries held for `tag` across live sessions and dirs (specs). */
  private[graft] def entries(tag: String): Int =
    cache.keySet.stream().filter(_._3 == tag).count().toInt

  /** Entries held for `tag` of the dir `dir` across live sessions (specs). */
  private[graft] def entries(dir: String, tag: String): Int =
    cache.keySet.stream().filter(k => k._2 == dir && k._3 == tag).count().toInt
}
