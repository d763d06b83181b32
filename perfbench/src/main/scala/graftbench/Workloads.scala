package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** What a workload run needs: the session, its private inputs, the
  * instrumentation, the seed and the measurement length. */
final case class Ctx(spark: SparkSession, dataDir: String, cacheDir: String,
                     tracer: Tracer, seed: Long, seconds: Int,
                     expected: Map[String, String]) {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** The registered query modules, in `SparkEntry.queries` order. */
object Catalog {
  type Q = (SparkSession, String) => DataFrame

  val registry: Seq[(String, Map[String, Q])] = Seq(
    "RelationalCore" -> graft.operators.RelationalCore.queries,
    "JoinStrategies" -> graft.operators.JoinStrategies.queries,
    "Aggregations" -> graft.operators.Aggregations.queries,
    "Windows" -> graft.operators.Windows.queries,
    "ScalarQueries" -> graft.functions.ScalarQueries.queries,
    "CryptoQueries" -> graft.functions.CryptoQueries.queries,
    "Profiling" -> graft.operators.Profiling.queries,
    "ForkWalk" -> graft.plans.ForkWalk.queries,
    "PageRank" -> graft.plans.PageRank.queries,
    "TextQueries" -> graft.functions.TextQueries.queries,
    "Retrieval" -> graft.functions.Retrieval.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "Multimodal" -> graft.operators.Multimodal.queries)

  val modules: Seq[String] = registry.map(_._1)

  /** Resolve (module, query) names against the registry; a renamed or
    * removed query fails the run instead of silently shrinking it. */
  def lookup(names: Seq[(String, String)]): Seq[(String, String, Q)] = {
    val byModule = registry.toMap
    names.map { case (m, n) =>
      val q = byModule.get(m).flatMap(_.get(n))
        .getOrElse(sys.error(s"query $m.$n is not registered"))
      (m, n, q)
    }
  }

  /** The benchmark's full-evaluation hash, the same expression `Bench`
    * evaluates: bit_xor of xxhash64 over every output column. */
  def hashOf(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(df.apply): _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
    if (r.isNullAt(0)) "null" else r.getLong(0).toString
  }

  /** New mtime, same bytes: copy beside the source and atomically rename
    * the copy over it. Models new blocks arriving without changing any
    * correct output. */
  def restamp(dir: String, file: String): Unit = {
    val p = Paths.get(dir, file)
    val tmp = Paths.get(dir, s".$file.restamp")
    val old = Files.getLastModifiedTime(p).toMillis
    Files.copy(p, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(tmp,
      FileTime.fromMillis(math.max(System.currentTimeMillis(), old + 1000L)))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

/** One query as run: total latency, construction (DataFrame build, less
  * Memo builds inside it), execution (the hash action, less Memo builds),
  * the Memo builds it triggered, and the operation it ran as (whose CPU
  * the tracer accounts). */
final case class QueryRun(module: String, name: String, pass: Int, latencySec: Double,
                          constructSec: Double, execSec: Double, memoBuilds: Int,
                          memoSec: Double, ok: Boolean, ops: Seq[Long] = Nil)

/** A closed loop with one client over a fixed query list, in an order
  * drawn from the seed per pass. The first [[QueryWorkload.WarmPasses]]
  * passes are the warm-up (part of set-up); the passes after them are
  * measured. `restampEachPass` names the sources whose mtime moves before
  * every pass. */
final case class QueryWorkload(name: String, names: Seq[(String, String)],
                               nominalPassSec: Double, restampEachPass: Seq[String]) {
  lazy val queries: Seq[(String, String, Catalog.Q)] = Catalog.lookup(names)

  /** Measured passes: as many nominal passes as fit in `seconds`, at least
    * three. Fixed by `seconds` alone, so every run does the same work. */
  def passes(seconds: Int): Int = math.max(3, math.round(seconds / nominalPassSec).toInt)

  def runPass(ctx: Ctx, pass: Int, measured: Boolean): (Seq[QueryRun], Double) = {
    val t0 = System.nanoTime()
    restampEachPass.foreach(Catalog.restamp(ctx.dataDir, _))
    val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(queries)
    val runs = order.map { case (m, n, q) => runQuery(ctx, m, n, q, pass, measured) }
    (runs, (System.nanoTime() - t0) / 1e9)
  }

  private def runQuery(ctx: Ctx, module: String, qname: String, q: Catalog.Q,
                       pass: Int, measured: Boolean): QueryRun = {
    val t0 = System.nanoTime()
    val (run, ops) = ctx.tracer.opsOf(attempt(ctx, module, qname, q, pass, measured, t0))
    run.copy(ops = ops)
  }

  private def attempt(ctx: Ctx, module: String, qname: String, q: Catalog.Q,
                      pass: Int, measured: Boolean, t0: Long): QueryRun = {
    val tr = ctx.tracer
    try tr.op(ctx.spark.sparkContext, module, qname, measured) {
      val (df, cs) = tr.child(s"construct:$module")(q(ctx.spark, ctx.dataDir))
      val memoC = graft.Memo.drainBuilds()
      val (h, es) = tr.child(s"exec:$module")(Catalog.hashOf(df))
      val memoE = graft.Memo.drainBuilds()
      (memoC ++ memoE).foreach { case (tag, sec) =>
        tr.spans.add(Span(tr.nextId(), cs.op, cs.op, s"Memo:$tag",
          es.endNs - (sec * 1e9).toLong, es.endNs))
      }
      val want = ctx.expected.get(qname)
      val ok = want.contains(h)
      if (!ok) ctx.log(s"WRONG OUTPUT $qname: hash $h, expected ${want.getOrElse("<none recorded>")}")
      QueryRun(module, qname, pass, (System.nanoTime() - t0) / 1e9,
        math.max(0.0, cs.sec - memoC.map(_._2).sum), math.max(0.0, es.sec - memoE.map(_._2).sum),
        memoC.size + memoE.size, (memoC ++ memoE).map(_._2).sum, ok)
    } catch {
      case e: Throwable =>
        graft.Memo.drainBuilds()
        ctx.log(s"FAILED $qname: $e")
        QueryRun(module, qname, pass, (System.nanoTime() - t0) / 1e9, 0, 0, 0, 0, ok = false)
    }
  }
}

object QueryWorkload {
  /** Warm-up passes before the measured ones. The JIT is still compiling
    * Spark's own code after the first pass (with one warm-up pass, the
    * first measured pass used 10-25 % more CPU than the third), so two are
    * run. */
  val WarmPasses = 2

  /** `queries`: one query from each of the 14 modules, each among its
    * module's cheaper queries at sf0.01, so fixed per-query cost (relation
    * resolve, Catalyst) is a large share of every query. The chain sources
    * never change, so the chain modules' Memo cores (winners for a2,
    * a13_cum for a13) hit after the warm-up pass; `documents` and
    * `embeddings` are restamped before every pass, so the corpus modules'
    * cores (phrase postings, shingle hashes and the like) are
    * rebuilt in every pass. */
  val queries = QueryWorkload("queries", Seq(
    "RelationalCore" -> "j14_semi_join",
    "JoinStrategies" -> "u2_scd2_build",
    "Aggregations" -> "a2_canonical_wins",
    "Windows" -> "a13_cumsum_by_miner",
    "ScalarQueries" -> "t5_event_hourly",
    "CryptoQueries" -> "f2_address_book",
    "Profiling" -> "pr3_rollup_profile",
    "ForkWalk" -> "p2_chain_filter",
    "PageRank" -> "g4_triangle_count",
    "TextQueries" -> "tx13c_phrase_postings",
    "Retrieval" -> "tx16_substring",
    "Dedup" -> "d3_simhash",
    "Similarity" -> "x7_int8_quant",
    "Multimodal" -> "mm1_media_metadata"),
    nominalPassSec = 6.5, restampEachPass = Seq("documents.parquet", "embeddings.parquet"))
}

/** A read as a client sees it: from its first attempt until it returned
  * the expected bytes. A read that throws or returns other bytes (a torn
  * read of a relation being rewritten) is retried until `deadlineNs`;
  * only a read that never comes back right counts as failed. */
final case class ReadRun(kind: String, latencySec: Double, attempts: Int, ok: Boolean,
                         duringRefresh: Boolean = false, ops: Seq[Long] = Nil)

object Reads {
  def untilCorrect(kind: String, expected: String, deadlineNs: Long, now: () => Long,
                   pause: () => Unit, log: String => Unit)(fetch: => String): ReadRun = {
    val t0 = now()
    var attempts = 0
    var ok = false
    var last = ""
    while (!ok && (attempts == 0 || now() < deadlineNs)) {
      attempts += 1
      last = try {
        if (fetch == expected) { ok = true; "" } else "output differs from the expected document"
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      if (!ok) pause()
    }
    if (!ok) log(s"FAILED $kind read after $attempts attempts: $last")
    ReadRun(kind, (now() - t0) / 1e9, attempts, ok)
  }
}

/** `serve`: the reference's traffic. A writer refreshes the dashboard
  * cache on an open-loop tick, restamping `lineitem` and `orders` before
  * each; [[Readers]] closed-loop clients each repeat one `dashboard()` read
  * and [[PagesPerCycle]] area-page fetches at cursors drawn from the seed. */
object Serve {
  val PeriodSec = 14
  val Readers = 2
  val PagesPerCycle = 4
  val Cursors = 4
  val PageSize = 50
  val MinReads = 2 * Stats.MinBeyond
  /** Repeats of the expected reads in set-up, to warm the read paths. */
  val WarmReads = 1
  /** How long past the window a read may keep retrying a torn result. */
  val RetryGraceSec = 40
  val Relations = Seq("miner_info", "mining_info", "block_info", "burn_fee_area",
    "miner_info_rr", "miner_info_rr_1000", "miner_info_rr_100", "btc_total", "chain_tip")

  final case class Expected(dashboard: String, cursors: IndexedSeq[(Long, Long)],
                            pages: IndexedSeq[String])

  /** Set-up: the first (cold) refresh, then the expected document and the
    * page at every seeded cursor, read while nothing else runs. */
  def setup(ctx: Ctx): Expected = {
    val sc = ctx.spark.sparkContext
    ctx.tracer.op(sc, "Pipelines.refreshCache", "setup", measured = false) {
      graft.Pipelines.refreshCache(ctx.spark, ctx.dataDir, ctx.cacheDir)
    }
    graft.Memo.drainBuilds()
    val doc = ctx.tracer.op(sc, "Pipelines.dashboard", "setup", measured = false) {
      graft.Pipelines.dashboard(ctx.spark, ctx.cacheDir)
    }
    val keys = ctx.spark.read.parquet(s"${ctx.cacheDir}/burn_fee_area")
      .select(col("address"), col("height")).orderBy(col("address"), col("height"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(keys.nonEmpty, "serve: burn_fee_area cache is empty")
    val rnd = new scala.util.Random(ctx.seed)
    val cursors = IndexedSeq.fill(Cursors)(keys(rnd.nextInt(keys.length)))
    def page(c: (Long, Long)): String =
      ctx.tracer.op(sc, "Pipelines.burnFeeAreaPageJson", "setup", measured = false) {
        graft.Pipelines.burnFeeAreaPageJson(ctx.spark, ctx.cacheDir, Some(c), PageSize)
      }
    val pages = cursors.map(page)
    // warm the read paths: while nothing else runs, every read must repeat
    // the expected bytes
    (1 to WarmReads).foreach { _ =>
      val again = ctx.tracer.op(sc, "Pipelines.dashboard", "setup", measured = false) {
        graft.Pipelines.dashboard(ctx.spark, ctx.cacheDir)
      }
      require(again == doc, "serve: dashboard() is not deterministic over an unchanged cache")
      cursors.zip(pages).foreach { case (c, want) =>
        require(page(c) == want, s"serve: page at $c is not deterministic over an unchanged cache")
      }
    }
    Expected(doc, cursors, pages)
  }

  /** A reader cycle: its seconds, and whether a refresh was running when it
    * began. */
  final case class Cycle(sec: Double, duringRefresh: Boolean)

  final case class Outcome(reads: Seq[ReadRun], cycles: Seq[Cycle], ticks: Seq[Tick],
                           windowSec: Double, tickErrors: Int, filesWritten: Long,
                           tickOps: Seq[Seq[Long]])

  def measure(ctx: Ctx, exp: Expected): Outcome = {
    val sc = ctx.spark.sparkContext
    val start = System.nanoTime()
    val end = start + ctx.seconds * 1000000000L
    val deadline = end + RetryGraceSec * 1000000000L
    val sched = Schedule(start, PeriodSec * 1000000000L)
    val tickErrors = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var ticks: Seq[Tick] = Nil
    // set while a tick restamps and refreshes; reads and cycles that start
    // then are the ones the run's medians are taken over
    val refreshing = new java.util.concurrent.atomic.AtomicBoolean(false)
    val filesWritten = new java.util.concurrent.atomic.AtomicLong(0)
    val tickOps = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val writer = new Thread(() => {
      ticks = Schedule.run(sched, end, () => System.nanoTime(),
        due => Thread.sleep(math.max(0L, (due - System.nanoTime()) / 1000000L))) { k =>
        refreshing.set(true)
        Catalog.restamp(ctx.dataDir, "lineitem.parquet")
        Catalog.restamp(ctx.dataDir, "orders.parquet")
        try tickOps.add(ctx.tracer.opsOf {
          ctx.tracer.op(sc, "Pipelines.refreshCache", s"tick$k", measured = true) {
            graft.Pipelines.refreshCache(ctx.spark, ctx.dataDir, ctx.cacheDir)
          }
        }._2) catch { case e: Throwable =>
          tickErrors.incrementAndGet(); ctx.log(s"FAILED refresh tick $k: $e") }
        finally refreshing.set(false)
        // every relation is rewritten whole, so the data files present after
        // a tick are the files it wrote (counted in traced runs only)
        if (ctx.tracer.traced) {
          val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ctx.cacheDir))
          try filesWritten.addAndGet(
            files.iterator.asScala.count(_.getFileName.toString.startsWith("part-")))
          finally files.close()
        }
      }
    }, "serve-writer")
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[ReadRun]()
    val cycles = new java.util.concurrent.ConcurrentLinkedQueue[Cycle]()
    // Reads run while the writer works through the ticks due in the window
    // (plus, if needed, until a median under the percentile rule is
    // possible), so nearly every read overlaps a refresh.
    def more: Boolean = writer.isAlive || reads.size < MinReads
    val readers = (0 until Readers).map { r =>
      new Thread(() => {
        val rnd = new scala.util.Random(ctx.seed * 7919L + r)
        def read(kind: String, layer: String, want: String)(f: => String): Unit = {
          val during = refreshing.get
          val (r, ops) = ctx.tracer.opsOf {
            Reads.untilCorrect(kind, want, deadline, () => System.nanoTime(),
              () => Thread.sleep(100), ctx.log) {
              ctx.tracer.op(sc, layer, kind, measured = true)(f)
            }
          }
          reads.add(r.copy(duringRefresh = during, ops = ops))
        }
        while (more) {
          val c0 = System.nanoTime()
          val during = refreshing.get
          read("dashboard", "Pipelines.dashboard", exp.dashboard) {
            graft.Pipelines.dashboard(ctx.spark, ctx.cacheDir)
          }
          (0 until PagesPerCycle).foreach { _ =>
            if (more) {
              val i = rnd.nextInt(exp.cursors.size)
              read("area_page", "Pipelines.burnFeeAreaPageJson", exp.pages(i)) {
                graft.Pipelines.burnFeeAreaPageJson(ctx.spark, ctx.cacheDir,
                  Some(exp.cursors(i)), PageSize)
              }
            }
          }
          cycles.add(Cycle((System.nanoTime() - c0) / 1e9, during))
        }
      }, s"serve-reader-$r")
    }
    writer.start(); readers.foreach(_.start())
    readers.foreach(_.join()); writer.join()
    Outcome(reads.asScala.toSeq, cycles.asScala.toSeq, ticks, (System.nanoTime() - start) / 1e9,
      tickErrors.get, filesWritten.get, tickOps.asScala.toSeq)
  }
}
