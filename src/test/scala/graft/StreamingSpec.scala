package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming semantics: the unified hourlyAgg transform must produce batch-
  * identical results on a stream, and the watermark must drop late data. */
class StreamingSpec extends SparkSpec {

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  test("streamed hourly aggregation equals the batch aggregation") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Timestamp, String, Double)]
    val rows = Seq(
      (ts(1, 10), "a", 1.5), (ts(1, 20), "a", 2.5), (ts(1, 30), "b", 10.0),
      (ts(2, 5), "a", 4.0), (ts(2, 45), "b", 0.25))
    val q = EventStream.hourlyAgg(ms.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("stream_agg")
      .outputMode("complete").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_agg")
        .orderBy("hour_start", "event_type").collect()
      val batch = EventStream.hourlyAgg(
          rows.toDF("ts", "event_type", "value"))
        .orderBy("hour_start", "event_type").collect()
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length === 4) // (h1,a) (h1,b) (h2,a) (h2,b)
    } finally q.stop()
  }

  test("stream-stream attribution join equals the batch interval join") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val rows = Seq(
      // user 1: views at 1:10 and 1:50, purchase at 2:00 → joins both
      (1L, ts(1, 10), 1L, "view"), (2L, ts(1, 50), 1L, "view"),
      (3L, ts(2, 0), 1L, "purchase"),
      // user 2: view at 1:00, purchase at 2:30 → outside the 1h window
      (4L, ts(1, 0), 2L, "view"), (5L, ts(2, 30), 2L, "purchase"),
      // user 3: purchase with no views at all
      (6L, ts(2, 15), 3L, "purchase"))
    val cols = Seq("event_id", "ts", "user_id", "event_type")
    val q = EventStream.streamAttribution(ms.toDF.toDF(cols: _*))
      .writeStream.format("memory").queryName("stream_attr")
      .outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_attr")
        .orderBy("purchase_id", "view_id").collect()
      val batch = EventStream.streamAttribution(rows.toDF(cols: _*))
        .orderBy("purchase_id", "view_id").collect()
      assert(streamed.toSeq === batch.toSeq)
      // exactly user 1's two in-window views matched
      assert(streamed.length === 2 &&
        streamed.map(_.getLong(3)).toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("attribution join state evicts: a view older than the horizon never matches") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Long, Timestamp, Long, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type")
    val q = EventStream.streamAttribution(ms.toDF.toDF(cols: _*))
      .writeStream.format("memory").queryName("stream_attr_evict")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(1, 0), 1L, "view"))
      q.processAllAvailable()
      // watermark advances far past view_ts + 1h on BOTH sides
      ms.addData((2L, ts(6, 0), 2L, "view"), (3L, ts(6, 0), 2L, "purchase"))
      q.processAllAvailable()
      // a purchase inside the old view's window, arriving after eviction:
      // behind the purchase-side watermark, so it cannot match row 1
      ms.addData((4L, ts(1, 30), 1L, "purchase"))
      q.processAllAvailable()
      val got = spark.table("stream_attr_evict").collect()
      assert(!got.exists(_.getLong(0) === 4L),
        "evicted view state matched a late purchase")
    } finally q.stop()
  }

  test("watermark drops events later than 1 hour behind the high-water mark") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.hourlyAgg(ms.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("stream_late")
      .outputMode("append").start()
    try {
      ms.addData((ts(1, 10), "a", 1.0), (ts(1, 20), "a", 2.0))
      q.processAllAvailable()
      // advance event time far past hour 1 => hour-1 window closes + emits
      ms.addData((ts(5, 0), "a", 9.0))
      q.processAllAvailable()
      val afterClose = spark.table("stream_late")
        .filter(col("hour_start") === ts(1, 0)).collect()
      assert(afterClose.length === 1 && afterClose.head.getLong(2) === 2L)
      // a late hour-1 event, far behind the watermark, must be dropped
      ms.addData((ts(1, 50), "a", 100.0))
      q.processAllAvailable()
      val afterLate = spark.table("stream_late")
        .filter(col("hour_start") === ts(1, 0)).collect()
      assert(afterLate.length === 1 && afterLate.head.getLong(2) === 2L)
    } finally q.stop()
  }
}

/** M6 cache parity: refresh is idempotent, dashboard serves from cache. */
class PipelinesSpec extends SparkSpec {
  test("refreshCache writes all nine relations as their queries' row sets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache").toString
    Pipelines.refreshCache(spark, sf, dir)
    // unordered relations: compared as multisets of rows, by column name
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    // the committed version: the root holds two versions after a refresh
    def committed(name: String) = spark.read.parquet(Versions.dir(spark, dir, name,
      Versions.latest(spark, dir).get))
    val queries = CacheQueries.ordered(spark, sf)
    assert(queries.map(_._1) === CacheQueries.Relations)
    queries.foreach { case (name, query) =>
      val rel = committed(name).select(query.columns.toSeq.map(col): _*)
      val n = rel.count()
      assert(n > 0, name)
      assert(rows(rel) === rows(query), s"$name differs from its query")
    }
    // idempotent overwrite: second run leaves identical row counts
    val n1 = committed("block_info").count()
    Pipelines.refreshCache(spark, sf, dir)
    assert(committed("block_info").count() === n1)
    val doc = Pipelines.dashboard(spark, dir)
    assert(doc.contains("\"currentStatus\"") && doc.contains("\"minerTable\""))
    // well-formed JSON: parseable by the JVM's own nashorn-free check — a
    // cheap structural assertion (balanced braces, 50-row miner table)
    assert(doc.count(_ == '{') === doc.count(_ == '}'))
  }

  test("refreshCache plans no global sort and no range-partitioned exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    /** The executed plans of every query `f` runs in this session. */
    def plansOf(f: => Unit): Seq[SparkPlan] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val l = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        f
        org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(spark.sparkContext, 10000L)
      } finally spark.listenerManager.unregister(l)
      plans.toArray(Array.empty[SparkPlan]).toSeq
    }
    def ordering(p: SparkPlan): Seq[SparkPlan] = Plans.collect(p) {
      case s: SortExec if s.global => s
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    def writes(ps: Seq[SparkPlan]) =
      ps.filter(p => Plans.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    // control: a write of an ordered query is caught
    val control = writes(plansOf(q("a1_leaderboard").write.parquet(
      java.nio.file.Files.createTempDirectory("graft_sorted").toString + "/a1")))
    assert(control.nonEmpty && control.forall(ordering(_).nonEmpty),
      s"the listener must see the ordered write's sort:\n${control.mkString("\n")}")
    val dir = java.nio.file.Files.createTempDirectory("graft_unsorted").toString
    val plans = plansOf(Pipelines.refreshCache(spark, sf, dir))
    assert(writes(plans).length === CacheQueries.Relations.length)
    plans.foreach(p => assert(ordering(p).isEmpty, s"ordering operator in:\n$p"))
  }

  /** A private copy of the sf tables, so a spec may restamp them. */
  private def tablesCopy(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    new java.io.File(sf).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toFile
  }

  /** Rewrite `name`'s mtime as a source rewrite of the same bytes would. */
  private def restamp(dir: java.io.File, name: String, i: Int): Unit = {
    val f = new java.io.File(dir, name)
    assert(f.setLastModified(f.lastModified + 60000L * i))
  }

  /** Every miner-grain relation reads the one memoized per-miner rollup,
    * so a tick over a restamped lineitem scans it once for `winners`, once
    * each for block_info and burn_fee_area, and once per rollup window
    * (all heights, 1000, 100). */
  test("a restamped refreshCache tick scans lineitem six times") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val src = tablesCopy("graft_scans")
    val cache = java.nio.file.Files.createTempDirectory("graft_scans_cache").toString
    Pipelines.refreshCache(spark, src.getPath, cache)
    restamp(src, "lineitem.parquet", 1)
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        scans.addAndGet(Plans.collect(qe.executedPlan) {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") => f
        }.length): Unit
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Pipelines.refreshCache(spark, src.getPath, cache)
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(spark.sparkContext, 10000L)
    } finally spark.listenerManager.unregister(l)
    assert(scans.get === 6)
  }

  /** Two or three ticks racing on one cache dir: of the writers that pick
    * one version, one commits it and the others fail naming it at their
    * commit, so every committed version holds exactly one writer's
    * relations, and a loser leaves none of its own. */
  test("racing refreshCache writers: every call commits a whole version or fails naming the version") {
    def digest(path: String): (Long, Long) = {
      val df = spark.read.parquet(path)
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val single = java.nio.file.Files.createTempDirectory("graft_race_one").toString
    Pipelines.refreshCache(spark, sf, single)
    val expected = CacheQueries.Relations.map(r => r -> digest(Versions.dir(spark, single, r, 1L))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    val lost = raw"version (\d+) of ${java.util.regex.Pattern.quote(dir)} is not the one after".r.unanchored
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    var losers = 0
    try (1 to 12).foreach { round =>
      val before = Versions.latest(spark, dir).getOrElse(0L)
      val go = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 2 + round % 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[scala.util.Try[Unit]] {
          def call() = { go.await(); scala.util.Try(Pipelines.refreshCache(spark, sf, dir)) }
        }))
      go.countDown()
      val outcomes = calls.map(_.get(5L, java.util.concurrent.TimeUnit.MINUTES))
      val commits = outcomes.count(_.isSuccess)
      losers += outcomes.count(_.isFailure)
      outcomes.foreach(_.failed.foreach(e => String.valueOf(e.getMessage) match {
        case lost(v) => assert(v.toLong > before && v.toLong <= before + commits,
          s"round $round: a loser names a version committed this round: $e")
        case _ => fail(s"round $round: a loser must fail naming its version at the commit, not mid-write: $e")
      }))
      assert(commits >= 1, s"round $round")
      assert(Versions.latest(spark, dir) === Some(before + commits),
        s"round $round: each call that returned committed a version of its own")
      val retained = Versions.committed(spark, dir)
      assert(new java.io.File(dir, "_versions").list().toSeq.sorted === retained.map(_.toString).sorted,
        s"round $round: no manifest but the retained ones")
      CacheQueries.Relations.foreach { r =>
        val dirs = retained.map(v => Versions.dir(spark, dir, r, v))
        dirs.zip(retained).foreach { case (d, v) =>
          assert(digest(d) === expected(r), s"round $round: $r at v=$v") }
        assert(new java.io.File(dir, r).list().toSeq.sorted === dirs.map(new java.io.File(_).getName).sorted,
          s"round $round: $r holds only the retained versions' dirs")
      }
    } finally pool.shutdown()
    assert(losers > 0, "no round had a loser: the writers never raced")
  }

  /** A long-running server restamps lineitem every tick: what a tick
    * leaves in the memo scratch root and the memo map must not grow with
    * the tick count. */
  test("restamped ticks keep the winners scratch dirs, scratch bytes and memo entries bounded") {
    val src = tablesCopy("graft_soak")
    val cache = java.nio.file.Files.createTempDirectory("graft_soak_cache").toString
    val scratch = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-memo-${spark.sparkContext.applicationId}")
    def names = Option(scratch.list()).getOrElse(Array.empty[String]).toSet
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(bytes).sum
      else f.length
    val (namesBefore, bytesBefore) = (names, bytes(scratch))
    val tip = operators.Windows.ordersTipOf(spark, src.getPath)
    val ticks = (1 to 10).map { i =>
      restamp(src, "lineitem.parquet", i)
      Pipelines.refreshCache(spark, src.getPath, cache)
      Pipelines.dashboard(spark, cache)
      Pipelines.burnFeeAreaPageJson(spark, cache, None, 50)
      val memo = Seq("winners", "miner_totals", s"miner_totals_1000@$tip",
        s"miner_totals_100@$tip").map(Memo.entries).sum
      // the cache's manifests, and the most version dirs any relation holds
      val versions = (new java.io.File(cache, "_versions").list().length,
        CacheQueries.Relations.map(r => new java.io.File(cache, r).list().length).max)
      ((names -- namesBefore).count(_.startsWith("winners_")),
        bytes(scratch) - bytesBefore, memo, Memo.entries(src.getPath, "relation:lineitem"), versions)
    }
    assert(ticks.forall(_._1 <= 2), s"winners_* dirs per tick: ${ticks.map(_._1)}")
    assert(ticks.drop(2).forall(_._2 <= ticks(1)._2), s"scratch bytes per tick: ${ticks.map(_._2)}")
    assert(ticks.forall(_._3 <= ticks.head._3), s"memo entries per tick: ${ticks.map(_._3)}")
    assert(ticks.forall(_._4 == 1), s"lineitem relation entries per tick: ${ticks.map(_._4)}")
    assert(ticks.forall(t => t._5._1 <= 2 && t._5._2 <= 2),
      s"(manifests, version dirs of a relation) per tick: ${ticks.map(_._5)}")
  }

  /** A writer killed mid-tick leaves torn relation dirs: under the
    * earlier claim protocol a `v=<n+1>` beside its `_claim-<n+1>`, under
    * the manifest protocol a `v=<n+1>-<attempt>` beside a temp manifest.
    * None of them is read or stops a later tick, and the prune deletes
    * the dirs and the temp manifest with their version. */
  test("a killed writer's leftovers stop no tick and are gone two ticks after the next commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dead_writer").toString
    Pipelines.refreshCache(spark, sf, dir)
    val doc = Pipelines.dashboard(spark, dir)
    val n = Versions.latest(spark, dir).get
    val torn = CacheQueries.Relations.flatMap(r => Seq(s"v=${n + 1}", s"v=${n + 1}-dead").map { v =>
      val d = java.nio.file.Paths.get(dir, r, v)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("part-00000-torn.snappy.parquet"), "torn")
      d.toFile
    })
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, s"_claim-${n + 1}"))
    val tmp = java.nio.file.Paths.get(dir, "_versions", s"${n + 1}-dead").toFile
    java.nio.file.Files.createDirectories(tmp.toPath.getParent)
    java.nio.file.Files.writeString(tmp.toPath, "torn")
    Pipelines.refreshCache(spark, sf, dir)
    assert(Versions.latest(spark, dir) === Some(n + 1))
    assert(Pipelines.dashboard(spark.newSession(), dir) === doc)
    Pipelines.refreshCache(spark, sf, dir)
    assert(torn.forall(_.exists) && tmp.exists, "kept while their version is retained")
    Pipelines.refreshCache(spark, sf, dir)
    assert(torn.filter(_.exists).isEmpty && !tmp.exists, s"left: ${torn.filter(_.exists)}")
    assert(Versions.committed(spark, dir) === Seq(n + 3, n + 2))
  }

  /** The manifest is the commit: it names every relation of its version,
    * and a tick that throws writes none. */
  test("a committed manifest names all nine relations; a tick whose relation throws leaves no manifest and no dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    Pipelines.refreshCache(spark, sf, dir)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, "_versions", "1"))
    val named = lines.toArray(Array.empty[String]).toSeq.map(_.split('\t').toSeq)
    assert(named.map(_.head).sorted === CacheQueries.Relations.sorted)
    named.foreach { case Seq(r, d) =>
      assert(d.startsWith(s"$r/v=1-") && Versions.dir(spark, dir, r, 1L) === s"$dir/$d")
      assert(Tables.version(spark, dir, r, 1L).count() > 0, r)
    }
    def listing() = (new java.io.File(dir).list().toSeq.sorted,
      CacheQueries.Relations.map(r => new java.io.File(dir, r).list().toSeq.sorted))
    val before = listing()
    val boom = spark.range(3).select(raise_error(lit("boom")).cast("long").as("x"))
    val e = intercept[Exception](Pipelines.publish(spark, dir,
      CacheQueries.Relations.map(r => r -> (if (r == "chain_tip") boom else spark.range(1).toDF("x")))))
    assert(String.valueOf(e.getMessage).contains("boom") ||
      String.valueOf(Option(e.getCause).map(_.getMessage).orNull).contains("boom"), e.toString)
    assert(listing() === before, "the failed tick's dirs are deleted")
    assert(new java.io.File(dir, "_versions").list().toSeq === Seq("1"))
    assert(Versions.latest(spark, dir) === Some(1L))
  }

  test("stateful running max accumulates across micro-batches") {
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.statefulRunningMax(
        ms.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("stateful_max")
      .outputMode("update").start()
    try {
      ms.addData((ts(1, 0), "a", 5.0), (ts(1, 1), "a", 3.0), (ts(1, 2), "b", 1.0))
      q.processAllAvailable()
      // second batch: state must carry — max stays 5.0 for a smaller value,
      // count keeps growing
      ms.addData((ts(2, 0), "a", 4.0), (ts(2, 1), "b", 9.0))
      q.processAllAvailable()
      val last = spark.table("stateful_max")
        .groupBy("event_type")
        .agg(max("max_value").as("mx"), max("n_events").as("n"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(last("a") === ((5.0, 3L)))
      assert(last("b") === ((9.0, 2L)))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate content across micro-batches") {
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Timestamp, String)]
    val q = EventStream.streamingDedup(ms.toDF.toDF("ts", "text"))
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      ms.addData((ts(1, 0), "doc A"), (ts(1, 1), "doc B"), (ts(1, 2), "doc A"))
      q.processAllAvailable()
      // a later batch repeating "doc A" within the watermark horizon: dropped
      ms.addData((ts(1, 30), "doc A"), (ts(1, 31), "doc C"))
      q.processAllAvailable()
      val texts = spark.table("stream_dedup").select("text")
        .collect().map(_.getString(0)).sorted
      assert(texts.toSeq === Seq("doc A", "doc B", "doc C"))
    } finally q.stop()
  }

  test("near-dup ingest loop == one-shot batch dedup; replay is a no-op") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val docs = Tables.documents(sp, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val (stateDir, accDir) = (s"$root/state", s"$root/accepted")
    val ms = MemoryStream[(Long, String)]
    // two ingest RUNS in id order — AvailableNow self-terminates per run,
    // and the checkpoint carries batch ids across restarts (0, then 1):
    // the periodic-ingest production shape
    def run(): Unit = {
      val q = EventStream.dedupIngest(ms.toDF.toDF("doc_id", "text"),
        stateDir, accDir, s"$root/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(); ()
    }
    ms.addData(b1.toIndexedSeq); run()
    ms.addData(b2.toIndexedSeq); run()
    val streamed = sp.read.parquet(accDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val all = Tables.documents(sp, sf)
    val (oneShot, _) = operators.Dedup.dedupeIncremental(
      operators.Dedup.bandSignatures(all.limit(0)), all)
    val expect = oneShot.filter(col("accepted")).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(streamed.toSeq === expect.toSeq)
    // replay the last batch id: both subdirectories rewrite identically
    val before = streamed.toSeq
    val lastBatch = sp.createDataFrame(b2.toIndexedSeq).toDF("doc_id", "text")
    EventStream.applyDedupBatch(lastBatch, stateDir, accDir, batchId = 1L)
    val after = sp.read.parquet(accDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(after.toSeq === before)
  }

  test("dedup ingest rejects an out-of-order batch loudly, replay stays exempt") {
    val sp = spark
    val docs = Tables.documents(sp, sf).select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ooo").toString
    val (stateDir, accDir) = (s"$root/state", s"$root/accepted")
    EventStream.applyDedupBatch(
      docs.filter(col("doc_id").between(100, 200)), stateDir, accDir, 0L)
    // an out-of-order batch (ids below the indexed high-water mark) would
    // be silently admitted — the guard must throw instead
    val e = intercept[IllegalArgumentException] {
      EventStream.applyDedupBatch(
        docs.filter(col("doc_id") < 60), stateDir, accDir, 1L)
    }
    assert(e.getMessage.contains("out-of-order ingest"))
    // replaying an ALREADY-COMMITTED batch id is exempt (its ids are <=
    // the marker precisely because it ran) and remains a no-op rewrite
    EventStream.applyDedupBatch(
      docs.filter(col("doc_id").between(100, 200)), stateDir, accDir, 0L)
  }

  test("a torn dedup marker write leaves the previous marker readable") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_marker").toString
    val (stateDir, accDir) = (s"$root/state", s"$root/accepted")
    EventStream.applyDedupBatch(
      docs.filter(col("doc_id").between(100, 200)), stateDir, accDir, 0L)
    val marker = java.nio.file.Paths.get(stateDir, "_max_doc_id")
    def fileKey = java.nio.file.Files.readAttributes(marker,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey
    assert(java.nio.file.Files.readString(marker).startsWith("0:"))
    val firstKey = fileKey
    // what a crash in the middle of the next marker write leaves behind
    java.nio.file.Files.writeString(java.nio.file.Paths.get(stateDir,
      s"._max_doc_id.${java.util.UUID.randomUUID()}.tmp"), "1:")
    // the previous marker still parses, so the ordering guard still holds
    val e = intercept[IllegalArgumentException] {
      EventStream.applyDedupBatch(docs.filter(col("doc_id") < 60), stateDir, accDir, 1L)
    }
    assert(e.getMessage.contains("out-of-order ingest"))
    EventStream.applyDedupBatch(
      docs.filter(col("doc_id").between(201, 300)), stateDir, accDir, 1L)
    assert(java.nio.file.Files.readString(marker).startsWith("1:"))
    // a new file renamed over the marker, never a rewrite of its bytes
    assert(fileKey != firstKey)
  }

  test("bounded streaming dedup re-admits duplicates once state ages out") {
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Timestamp, String)]
    val q = EventStream.streamingDedupBounded(ms.toDF.toDF("ts", "text"))
      .writeStream.format("memory").queryName("stream_dedup_bounded")
      .outputMode("append").start()
    try {
      // in-horizon duplicate: dropped, exactly like the unbounded form
      ms.addData((ts(1, 0), "doc A"), (ts(1, 2), "doc A"))
      q.processAllAvailable()
      // push the watermark to 3:00 (4:00 − 1h) so doc A's state
      // (expires 2:00) ages out of the store...
      ms.addData((ts(4, 0), "doc B"))
      q.processAllAvailable()
      // ...then the same content past the horizon is re-admitted: bounded
      // state trades horizon-wide completeness for not growing forever
      ms.addData((ts(3, 30), "doc A"))
      q.processAllAvailable()
      val texts = spark.table("stream_dedup_bounded").select("text")
        .collect().map(_.getString(0)).sorted
      assert(texts.toSeq === Seq("doc A", "doc A", "doc B"))
    } finally q.stop()
  }

  test("mergeQuantileHist: stored + delta == full recompute, quantiles identical") {
    val ev = Tables.events(spark, sf)
    val old = ev.filter(col("event_id") % 3 =!= 0)
    val delta = ev.filter(col("event_id") % 3 === 0)
    val merged = EventStream.mergeQuantileHist(
      operators.Aggregations.histState(old), delta)
    val full = operators.Aggregations.histState(ev)
    assert(merged.orderBy("day", "bin").collect().toSeq ===
      full.orderBy("day", "bin").collect().toSeq)
    // the read side over the MAINTAINED state is the registered query
    assert(operators.Aggregations.quantilesFromHist(merged).collect().toSeq ===
      q("a22_quantile_rollup").collect().toSeq)
  }

  test("mergeRefresh drives the quantile-hist store: 2 batches == recompute, v0 retained") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val histSchema = "day STRING, bin BIGINT, n BIGINT"
    val rows = Tables.events(sp, sf).select("ts", "value").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getDouble(1)))
    val (c1, c2) = rows.splitAt(rows.length / 2)
    val root = java.nio.file.Files.createTempDirectory("graft_qhist").toString
    val ms = MemoryStream[(java.time.LocalDateTime, Double)]
    def run(): Unit = {
      val q = EventStream.mergeRefresh(ms.toDF.toDF("ts", "value"),
        s"$root/store", s"$root/ckpt", histSchema,
        EventStream.mergeQuantileHist,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(); ()
    }
    ms.addData(c1.toIndexedSeq); run()
    ms.addData(c2.toIndexedSeq); run()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("day", "bin").collect().toSeq
    assert(canon(EventStream.currentStore(sp, s"$root/store", histSchema)) ===
      canon(operators.Aggregations.histState(Tables.events(sp, sf))))
    // the retained previous version is exactly the first chunk's state
    assert(canon(EventStream.leaderboardAt(sp, s"$root/store", 0L)) ===
      canon(operators.Aggregations.histState(
        sp.createDataFrame(c1.toIndexedSeq).toDF("ts", "value"))))
  }

  test("mergeLeaderboard: stored state + delta equals the full recompute") {
    val commits = Domain.commits(spark, sf)
    val cut = 500L
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("leader_key_address"))
        .agg(count(lit(1)).as("total_mined"),
          sum(col("burn_fee")).as("miner_burned"))
    val stored = aggOf(commits.filter(col("stacks_block_height") <= cut))
    val delta = commits.filter(col("stacks_block_height") > cut)
    val merged = EventStream.mergeLeaderboard(stored, delta)
    val full = aggOf(commits)
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // an empty delta is a no-op
    val noop = EventStream.mergeLeaderboard(full, delta.filter(lit(false)))
    assert(noop.exceptAll(full).isEmpty && full.exceptAll(noop).isEmpty)
  }

  test("streaming leaderboard folds micro-batches into the store incrementally") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lb").toString
    val ms = MemoryStream[(Long, Long)]
    val q = EventStream.leaderboardRefresh(
      ms.toDF.toDF("leader_key_address", "burn_fee"),
      s"$dir/store", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      ms.addData((1L, 100L), (2L, 50L), (1L, 25L))
      q.processAllAvailable()
      ms.addData((2L, 10L), (3L, 7L))
      q.processAllAvailable()
      def store() = EventStream.currentLeaderboard(spark, s"$dir/store")
        .orderBy("leader_key_address").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // equals the full aggregation over everything ever streamed
      val expected = Seq((1L, 2L, 125L), (2L, 2L, 60L), (3L, 1L, 7L))
      assert(store() === expected)
      // REPLAY SAFETY: re-applying an already-committed batchId is a no-op
      // (foreachBatch is at-least-once; a naive merge would double-count)
      val replay = Seq((2L, 10L), (3L, 7L))
        .toDF("leader_key_address", "burn_fee")
      EventStream.applyMergeBatch(replay, s"$dir/store", 1L,
        EventStream.LeaderboardSchema, EventStream.mergeLeaderboard)
      EventStream.applyMergeBatch(replay, s"$dir/store", 0L,
        EventStream.LeaderboardSchema, EventStream.mergeLeaderboard)
      assert(store() === expected)
      // TIME TRAVEL: the previous retained version is readable and equals
      // the store as of batch 0; unpinned versions fail loudly
      val v0 = EventStream.leaderboardAt(spark, s"$dir/store", 0L)
        .orderBy("leader_key_address").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(v0 === Seq((1L, 2L, 125L), (2L, 1L, 50L)))
      intercept[IllegalArgumentException] {
        EventStream.leaderboardAt(spark, s"$dir/store", 99L)
      }
    } finally q.stop()
  }

  test("a merge-store batch that would leave a gap fails loudly; a replayed batch stays a no-op") {
    val sp = spark
    import sp.implicits._
    val store = s"${java.nio.file.Files.createTempDirectory("lb_gap")}/store"
    def fold(rows: Seq[(Long, Long)], batchId: Long): Unit =
      EventStream.applyMergeBatch(rows.toDF("leader_key_address", "burn_fee"), store,
        batchId, EventStream.LeaderboardSchema, EventStream.mergeLeaderboard)
    def rows() = EventStream.currentLeaderboard(spark, store)
      .orderBy("leader_key_address").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    fold(Seq((1L, 100L)), 0L)
    fold(Seq((2L, 50L)), 1L)
    val before = rows()
    val e = intercept[IllegalStateException](fold(Seq((3L, 7L)), 3L))
    assert(e.getMessage.contains(s"version 3 of $store") &&
      e.getMessage.contains("newest committed version 1"), e.getMessage)
    assert(!new java.io.File(store, "_versions/3").exists)
    assert(new java.io.File(store, "state").list().forall(!_.startsWith("v=3")))
    fold(Seq((2L, 50L)), 1L)
    assert(rows() === before)
    assert(Versions.latest(spark, store) === Some(1L))
  }

  test("two reads of one committed store version share one relation; a newer version replaces it") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lb_open").toString
    val store = s"$dir/store"
    def fold(rows: Seq[(Long, Long)], batchId: Long): Unit =
      EventStream.applyMergeBatch(rows.toDF("leader_key_address", "burn_fee"), store,
        batchId, EventStream.LeaderboardSchema, EventStream.mergeLeaderboard)
    def relation(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.get
    fold(Seq((1L, 100L)), 0L)
    val a = EventStream.currentLeaderboard(spark, store)
    var b: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { b = EventStream.currentLeaderboard(spark, store) } === 0)
    assert(relation(a) eq relation(b), "one committed version must share one relation")
    fold(Seq((2L, 50L)), 1L)
    val c = EventStream.currentLeaderboard(spark, store)
    assert(relation(c) ne relation(a))
    assert(c.orderBy("leader_key_address").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 1L, 100L), (2L, 1L, 50L)))
    assert(Memo.entries(store, "relation:state") === 1, "a newer version replaces the entry")
  }

  test("streaming sketch store: micro-batches fold to the one-pass distinct estimates") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sk").toString
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d $h%02d:00:00")
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val q = EventStream.sketchRefresh(
      ms.toDF.toDF("ts", "user_id"), s"$dir/store", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // day 1 split across both batches (same-day sketches must union),
      // user 10 on both days (distinct is per-day, not global)
      ms.addData((ts(1, 9), 10L), (ts(1, 10), 11L), (ts(2, 9), 10L))
      q.processAllAvailable()
      ms.addData((ts(1, 11), 12L), (ts(1, 12), 10L), (ts(2, 10), 20L))
      q.processAllAvailable()
      val est = EventStream.currentSketches(spark, s"$dir/store")
        .select(col("day"), hll_sketch_estimate(col("sk")).as("est"))
        .orderBy(col("day")).collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
      // one-pass truth: day 1 has users {10,11,12}, day 2 has {10,20};
      // HLL is exact at these cardinalities
      assert(est === Seq(("2024-03-01", 3L), ("2024-03-02", 2L)))
    } finally q.stop()
  }

  test("streaming histogram store folds micro-batches to the exact one-pass state") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qh").toString
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-04-$day%02d 09:00:00")
    val ms = MemoryStream[(java.sql.Timestamp, Double)]
    val q = EventStream.histRefresh(
      ms.toDF.toDF("ts", "value"), s"$dir/store", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // same (day, bin) cell hit across both batches must ADD (5.0 →
      // cents 500 → bin 1 twice); clamp cell via an out-of-range value
      ms.addData((ts(1), 5.0), (ts(1), 12.0), (ts(2), 9999999.0))
      q.processAllAvailable()
      ms.addData((ts(1), 5.4), (ts(2), 0.1))
      q.processAllAvailable()
      val state = EventStream.currentHist(spark, s"$dir/store")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val expected = Map(
        ("2024-04-01", 1L) -> 2L,   // 500 and 540 cents share bin 1
        ("2024-04-01", 2L) -> 1L,   // 1200 cents
        ("2024-04-02", operators.Aggregations.QMaxBin) -> 1L, // clamped
        ("2024-04-02", 0L) -> 1L)   // 10 cents
      assert(state === expected)
      // and the a22 quantile read runs directly off the maintained state
      val reads = operators.Aggregations.histQuantiles(
        EventStream.currentHist(spark, s"$dir/store"))
      assert(reads.count() > 0L)
    } finally q.stop()
  }

  test("status flag file round-trips and defaults to false when absent") {
    val p = java.nio.file.Files.createTempDirectory("graft_status")
      .resolve("mining_status.txt").toString
    assert(!Pipelines.readStatus(p))
    Pipelines.writeStatus(p, mining = true)
    assert(Pipelines.readStatus(p))
    Pipelines.writeStatus(p, mining = false)
    assert(!Pipelines.readStatus(p))
  }
}

class StreamingHeavyHittersSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("exact when keys fit the cap; accumulates across batches") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[Long]
    val q = EventStream.streamingHeavyHitters(
        ms.toDF.toDF("user_id"), nBuckets = 4, cap = 8)
      .writeStream.format("memory").queryName("hh_exact")
      .outputMode("update").start()
    try {
      val batch1 = Seq(1L, 2L, 1L, 5L, 1L, 2L, 9L)
      val batch2 = Seq(1L, 5L, 5L, 13L)
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()
      // latest row per bucket = current counters; keys ≤ cap ⇒ exact
      val latest = spark.table("hh_exact").collect()
        .groupBy(_.getInt(0)).map { case (_, rs) => rs.last }
      val counts = latest.flatMap { r =>
        r.getSeq[Long](1).zip(r.getSeq[Long](2))
      }.toMap
      val expect = (batch1 ++ batch2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(counts === expect)
    } finally q.stop()
  }

  test("over the cap: bounded counters, conserved mass, hot key on top") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[Long]
    // one bucket (nBuckets = 1), cap 4: 10 distinct cold keys + 1 hot key
    val q = EventStream.streamingHeavyHitters(
        ms.toDF.toDF("user_id"), nBuckets = 1, cap = 4)
      .writeStream.format("memory").queryName("hh_cap")
      .outputMode("update").start()
    try {
      val hot = Seq.fill(20)(777L)
      val cold = (1L to 10L)
      ms.addData(new scala.util.Random(7).shuffle(hot ++ cold): _*)
      q.processAllAvailable()
      val r = spark.table("hh_cap").collect().last
      val (users, counts) = (r.getSeq[Long](1), r.getSeq[Long](2))
      assert(users.length <= 4, "state must stay within the cap")
      // space-saving conserves total counter mass exactly
      assert(counts.sum === (hot.size + cold.size).toLong)
      // the genuinely hot key survives eviction and ranks first, with
      // count >= its true frequency (overestimate-only error)
      assert(users.head === 777L)
      assert(counts.head >= 20L)
    } finally q.stop()
  }
}

class StreamingTrailingSpec extends SparkSpec {

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  test("streaming trailing hour equals the batch RANGE frame on one micro-batch") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    // several users, same-second ties, gaps straddling the 3600 s frame
    val rows = (0 until 120).map { i =>
      val uid = (i % 3).toLong + 1L
      val t = new Timestamp(ts(1, 0).getTime + (i / 3).toLong * 173000L +
        (if (i % 9 == 0) 0L else (i % 7).toLong * 1000L))
      (100L + i, uid, t, (i % 13) * 0.75)
    }
    val ms = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = EventStream.streamingTrailingHour(
        ms.toDF.toDF("event_id", "user_id", "ts", "value"))
      .writeStream.format("memory").queryName("stream_trailing")
      .outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      ms.addData((9999L, 99L, ts(23, 0), 0.0)) // watermark push flushes nothing extra (append emits eagerly)
      q.processAllAvailable()
      val streamed = spark.table("stream_trailing")
        .filter(col("user_id") < 99L)
        .select("event_id", "n_1h", "cents_1h")
      // batch reference: w11's definition over the same in-memory rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3599L, 0L)
      val batch = rows.toDF("event_id", "user_id", "ts", "value")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_sec"),
          round(col("value") * 100).cast("long").as("cents"))
        .select(col("event_id"), count(lit(1)).over(w).as("n_1h"),
          sum(col("cents")).over(w).as("cents_1h"))
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      assert(streamed.count() === 120L)
    } finally q.stop()
  }

  test("trailing-hour state stays per-user bounded and evicts on timeout") {
    // VERDICT r5 item 8: the "state bounded by horizon" contract, asserted
    // from the engine's own metrics instead of argued in comments. State
    // is one store row per ACTIVE user (per-second totals live inside the
    // row and are watermark-pruned), so numRowsTotal must (a) never exceed
    // the distinct users seen, however many events flow, and (b) DROP once
    // the watermark passes an idle user's last-event + horizon.
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = EventStream.streamingTrailingHour(
        ms.toDF.toDF("event_id", "user_id", "ts", "value"))
      .writeStream.format("memory").queryName("stream_trailing_bound")
      .outputMode("append").start()
    def stateRows: Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // 600 events, 3 users, spread over 2 hours — far more events than
      // users; a per-event state design would show ~600 rows here
      val burst = (0 until 600).map { i =>
        (1000L + i, (i % 3).toLong + 1L,
          new Timestamp(ts(1, 0).getTime + (i / 3).toLong * 36000L), 1.0)
      }
      ms.addData(burst: _*)
      q.processAllAvailable()
      assert(stateRows <= 3L, s"state rows $stateRows exceed active users")
      // push the watermark 9 hours past the burst (wm = 12:00 − 1h) …
      ms.addData((9001L, 50L, ts(12, 0), 0.0))
      q.processAllAvailable()
      // … and let the NEXT batch fire the event-time timeouts
      ms.addData((9002L, 50L, ts(12, 30), 0.0))
      q.processAllAvailable()
      assert(stateRows <= 1L,
        s"idle users' state must evict on timeout, still $stateRows rows")
    } finally q.stop()
  }

  test("streaming trailing hour carries state across batches and prunes old seconds") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    val ms = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = EventStream.streamingTrailingHour(
        ms.toDF.toDF("event_id", "user_id", "ts", "value"))
      .writeStream.format("memory").queryName("stream_trailing_state")
      .outputMode("append").start()
    try {
      ms.addData((1L, 1L, ts(1, 0), 1.0))
      q.processAllAvailable()
      // 30 min later: the first event is still inside the window → n=2;
      // the user-99 row pushes the watermark to 3:00 for the NEXT batch
      ms.addData((2L, 1L, ts(1, 30), 1.0), (90L, 99L, ts(4, 0), 0.0))
      q.processAllAvailable()
      // 3 h later: both earlier seconds are outside the frame AND pruned
      // from state by the advanced watermark → n=1
      ms.addData((3L, 1L, ts(4, 10), 1.0))
      q.processAllAvailable()
      val got = spark.table("stream_trailing_state")
        .filter(col("user_id") === 1L).orderBy("event_id")
        .select("event_id", "n_1h").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((1L, 1L), (2L, 2L), (3L, 1L)))
    } finally q.stop()
  }
}
