package graft

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one cache layer: every value derived from a source table
  * and reused across queries of a session goes through here.
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
  * under `dir` at build time — [[Tables.fingerprint]], the same
  * (path, length, mtime) listing the relation resolver keys on — so the
  * rule for when cached state goes stale lives in `Tables`, and the
  * mechanism lives here:
  *   - a call whose source fingerprint differs from the entry's rebuilds,
  *     and the new entry REPLACES the old one (a source restamped every
  *     refresh holds one entry, not one per stamp);
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

  /** What one (session, dir, tag) holds: the source fingerprint it was
    * built at and the built value. */
  private final class Entry(val fingerprint: Seq[(String, Long, Long)], val value: Any)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Entry]()

  /** Wall-clock of every core build this JVM has run, drained by Bench:
    * memoization made per-query bench attribution ORDER-DEPENDENT (the
    * first query touching a shared core paid its build — d10 0.18 s vs
    * d2 0.06 s in BENCH_r08 only because d10 sorts first), so Bench now
    * subtracts in-query build time from the enclosing query and emits each
    * build as its own `memo:<tag>` line item (VERDICT r8 item 3). Builds
    * outside Bench (Verify, specs) accumulate harmlessly until drained. */
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

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
        buildLog.add((tag, math.max(0.0, total - child)))
      }
    }
  }

  /** Remove and return all builds logged since the last drain. */
  def drainBuilds(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var e = buildLog.poll()
    while (e != null) { out += e; e = buildLog.poll() }
    out.toSeq
  }

  /** A memoized driver-side value: `compute` runs once per (session, dir,
    * tag) and fingerprint of `srcFile` under `dir`. This is the one lookup
    * [[cached]] and [[cachedParquet]] go through too.
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
      compute: => T): T = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val fp = Tables.fingerprint(s, s"$dir/$srcFile")
    val key = (s, dir, tag)
    val hit = cache.get(key)
    val entry =
      if (hit != null && hit.fingerprint == fp) hit
      else cache.merge(key, new Entry(fp, timedBuild(tag)(compute)),
        (old: Entry, nu: Entry) => if (old.fingerprint == nu.fingerprint) old else nu)
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
    * r12). A superseded build's directory stays until the application
    * ends: a frame handed out earlier may still read it. */
  def cachedParquet(s: SparkSession, dir: String, tag: String,
                    srcFile: String)(build: => DataFrame): DataFrame =
    value(s, dir, tag, srcFile) {
      val path = scratchRoot(s).resolve(s"${tag}_${java.util.UUID.randomUUID()}")
      build.write.parquet(path.toString)
      s.read.parquet(path.toString)
    }

  /** `java.io.tmpdir/graft-memo-<appId>`. Whichever call creates it also
    * registers its deletion at application end, so it is registered once
    * per application and nothing outlives `spark.stop()`. */
  private def scratchRoot(s: SparkSession): Path = {
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
}
