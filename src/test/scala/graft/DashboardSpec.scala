package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._
import scala.jdk.CollectionConverters._
import org.json4s.jackson.JsonMethods

/** The nine cache relations `refreshCache` writes, each paired with the
  * ORDERED query it holds the rows of: the registered query where there
  * is one, else the public ordered definition. */
object CacheQueries {
  val Relations: Seq[String] = Seq("miner_info", "mining_info", "block_info",
    "burn_fee_area", "miner_info_rr", "miner_info_rr_1000", "miner_info_rr_100",
    "btc_total", "chain_tip")

  def ordered(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    def q(name: String) = SparkEntry.queries(name)(s, d)
    Seq(
      "miner_info" -> q("a1_leaderboard"),
      "mining_info" -> q("j8_winner_commit"),
      "block_info" -> q("a8_block_rollup"),
      "burn_fee_area" -> q("w5_gapfill"),
      "miner_info_rr" -> q("f10_rr_miner_info"),
      "miner_info_rr_1000" -> functions.ScalarQueries.rrMinerInfo(Some(1000L))(s, d),
      "miner_info_rr_100" -> functions.ScalarQueries.rrMinerInfo(Some(100L))(s, d),
      "btc_total" -> q("a9_btc_total"),
      "chain_tip" -> Domain.chainTip(s, d))
  }

  /** A cache dir holding every relation in its presentation order,
    * published like `refreshCache`'s. */
  def writeOrdered(s: SparkSession, d: String, dir: String): Unit =
    Pipelines.publish(s, dir, ordered(s, d))
}

/** The full dashboard document (VERDICT r2 item 2): every section of the
  * reference's packMiningMonitorData (mining_monitor_rpc.js:151-161) plus
  * the server's price/btc_total/btc_hash_power fields (server.js:268-275),
  * with the reference's field names. */
class DashboardSpec extends SparkSpec {

  /** A fresh cache dir, refreshed from the test tables. */
  private def refreshed(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Pipelines.refreshCache(spark, sf, dir)
    dir
  }

  private lazy val doc: JValue =
    JsonMethods.parse(Pipelines.dashboard(spark, refreshed("graft_dash")))

  private def arr(v: JValue): List[JValue] =
    v match { case JArray(xs) => xs; case other => fail(s"not an array: $other") }

  test("document carries all five reference sections plus the server fields") {
    val keys = doc.asInstanceOf[JObject].obj.map(_._1)
    assert(keys === List("currentStatus", "minerTable", "burnFeeArea",
      "winnerPie", "rateOfReturn", "price", "btc_total", "btc_hash_power"))
  }

  test("currentStatus: tip height + 20-point series with averages") {
    val tip = (doc \ "currentStatus" \ "current_block" \ "stacks_block_height")
    val hi = Tables.orders(spark, sf)
      .agg(org.apache.spark.sql.functions.max("o_orderkey")).head().getLong(0)
    assert(tip === JInt(hi))
    Seq("current_burn_fee", "current_miner").foreach { sec =>
      val pts = arr(doc \ "currentStatus" \ sec \ "data_20")
      assert(pts.nonEmpty && pts.length <= 20)
      assert((doc \ "currentStatus" \ sec \ "avg") !== JNothing)
    }
  }

  test("minerTable: 50-row winner table + tail-20 per-commit fees") {
    val table = arr(doc \ "minerTable" \ "table")
    assert(table.nonEmpty && table.length <= 50)
    assert(table.forall(r => (r \ "stacks_block_height") != JNothing &&
      (r \ "leader_key_address") != JNothing && (r \ "burn_fee") != JNothing))
    val fees = arr(doc \ "minerTable" \ "minersBurnFee20")
    assert(fees.nonEmpty)
    assert(fees.forall(r => (r \ "height") != JNothing &&
      (r \ "address") != JNothing && (r \ "fee") != JNothing))
  }

  test("burnFeeArea: dense gap-filled series per emitted miner") {
    val pts = arr(doc \ "burnFeeArea" \ "data")
    assert(pts.nonEmpty)
    val byAddr = pts.groupBy(p => p \ "address")
    assert(byAddr.size <= 10) // serving bound
    // w5's grid is dense: every miner gets exactly the window's heights
    val sizes = byAddr.values.map(_.length).toSet
    assert(sizes.size === 1)
    assert(pts.forall(p => (p \ "burn_fee") != JNothing))
  }

  test("keyset pages walk the FULL area series; top-10 document is a strict subset") {
    val dir = refreshed("graft_area")
    // page-walk the complete series with a deliberately awkward page size
    val walked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var cursor: Option[(Long, Long)] = None
    var done = false
    var pages = 0
    while (!done) {
      val rows = Pipelines.burnFeeAreaPage(spark, dir, cursor, 997)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // the memoized JSON page is exactly this page, rendered
      val pts = rows.map { case (a, h, f) => s"""{"height":$h,"burn_fee":$f,"address":$a}""" }
      val next =
        if (rows.length < 997) "null"
        else s"""{"address":${rows.last._1},"height":${rows.last._2}}"""
      assert(Pipelines.burnFeeAreaPageJson(spark, dir, cursor, 997) ===
        s"""{"data":[${pts.mkString(",")}],"next":$next}""", s"page after $cursor")
      walked ++= rows
      pages += 1
      assert(pages < 10000, "cursor did not advance")
      if (rows.length < 997) done = true
      else cursor = Some((rows.last._1, rows.last._2))
    }
    // exactly the cache relation: nothing lost, nothing duplicated
    val full = spark.read.parquet(s"$dir/burn_fee_area")
      .collect().map(r => (r.getAs[Long]("address"), r.getAs[Long]("height"),
        r.getAs[Long]("cum_filled")))
    assert(walked.length === full.length)
    assert(walked.toSet === full.toSet)
    assert(walked.toSeq === walked.sortBy(p => (p._1, p._2)).toSeq) // global order
    // the bounded dashboard's top-10 series is a subset of the walked set
    val docPts = arr(doc \ "burnFeeArea" \ "data").map(p =>
      ((p \ "address").asInstanceOf[JInt].num.toLong,
        (p \ "height").asInstanceOf[JInt].num.toLong,
        (p \ "burn_fee").asInstanceOf[JInt].num.toLong))
    assert(docPts.nonEmpty && docPts.toSet.subsetOf(walked.toSet))
    // and the JSON wrapper terminates with a null cursor
    val lastPage = Pipelines.burnFeeAreaPageJson(spark, dir,
      Some((walked.last._1, walked.last._2)), 997)
    assert(JsonMethods.parse(lastPage) \ "next" === JNull)
  }

  /** Every JSON page of the area walk, following the `next` cursors. */
  private def pageWalk(dir: String): Seq[String] = {
    val pages = scala.collection.mutable.ArrayBuffer.empty[String]
    var cursor: Option[(Long, Long)] = None
    var done = false
    while (!done) {
      val page = Pipelines.burnFeeAreaPageJson(spark, dir, cursor, 997)
      pages += page
      assert(pages.length < 10000, "cursor did not advance")
      JsonMethods.parse(page) \ "next" match {
        case JNull => done = true
        case next => cursor = Some((
          (next \ "address").asInstanceOf[JInt].num.toLong,
          (next \ "height").asInstanceOf[JInt].num.toLong))
      }
    }
    pages.toSeq
  }

  test("reads over the unordered cache equal their render over an ordered one") {
    val unordered = refreshed("graft_dash_unordered")
    val ordered = java.nio.file.Files.createTempDirectory("graft_dash_ordered").toString
    CacheQueries.writeOrdered(spark, sf, ordered)
    assert(Pipelines.dashboard(spark, unordered) === Pipelines.dashboard(spark, ordered))
    val walk = pageWalk(unordered)
    assert(walk.length > 1, "the walk must span several pages")
    assert(walk === pageWalk(ordered))
  }

  test("the area pages of one version open burn_fee_area once") {
    val dir = refreshed("graft_dash_open")
    var first, second: DataFrame = null
    assert(jobsOf { first = Pipelines.burnFeeAreaPage(spark, dir, None, 50) } === 0,
      "the version's first read opens it with its written schema: no inference job")
    assert(jobsOf { second = Pipelines.burnFeeAreaPage(spark, dir, Some((0L, 0L)), 50) } === 0,
      "a second cursor of the same version must not open the relation again")
    assert(relation(first) eq relation(second))
    Pipelines.refreshCache(spark, sf, dir)
    assert(relation(Pipelines.burnFeeAreaPage(spark, dir, None, 50)) ne relation(first),
      "a new version opens its own relation")
  }

  test("reads over an unchanged cache launch no Spark job beyond the live prices read") {
    val dir = refreshed("graft_dash_memo")
    val doc1 = Pipelines.dashboard(spark, dir)
    val page1 = Pipelines.burnFeeAreaPageJson(spark, dir, None, 50)
    var doc2, page2 = ""
    // no price file: the conf/default prices row is a local relation
    assert(jobsOf { doc2 = Pipelines.dashboard(spark, dir) } === 0)
    assert(jobsOf { page2 = Pipelines.burnFeeAreaPageJson(spark, dir, None, 50) } === 0)
    assert(doc2 === doc1 && page2 === page1)
    // a price file: the read keeps exactly the live JSON read's jobs
    val prices = java.nio.file.Files.createTempFile("graft_dash_prices", ".json")
    java.nio.file.Files.writeString(prices, """{"stx_price_milli": 2500}""")
    try {
      spark.conf.set(sources.Enrichment.PathKey, prices.toString)
      val withFile = Pipelines.dashboard(spark, dir)
      val pricesJobs = jobsOf(sources.Enrichment.prices(spark)
        .select(col("stx_price_milli"), col("btc_sat_scale"), col("hash_power")).head())
      assert(pricesJobs > 0)
      assert(jobsOf { doc2 = Pipelines.dashboard(spark, dir) } === pricesJobs)
      assert(doc2 === withFile && doc2 != doc1)
    } finally spark.conf.unset(sources.Enrichment.PathKey)
  }

  test("a price file rewritten between two reads at one version renders the new prices") {
    val dir = refreshed("graft_dash_reprice")
    val prices = java.nio.file.Files.createTempFile("graft_dash_reprice", ".json")
    def read(): JValue = JsonMethods.parse(Pipelines.dashboard(spark, dir))
    try {
      spark.conf.set(sources.Enrichment.PathKey, prices.toString)
      java.nio.file.Files.writeString(prices, """{"stx_price_milli": 2500}""")
      val first = read()
      java.nio.file.Files.writeString(prices, """{"stx_price_milli": 4250}""")
      val second = read()
      assert((first \ "price" \ "stx") === JDouble(2.5))
      assert((second \ "price" \ "stx") === JDouble(4.25))
      assert(first.removeField(_._1 == "price") === second.removeField(_._1 == "price"))
      assert(Memo.entries(dir, "dashboard") === 1, "a new price replaces the rendered document")
    } finally spark.conf.unset(sources.Enrichment.PathKey)
  }

  test("a read over an unchanged cache with no price file runs no Catalyst query") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = refreshed("graft_dash_queries")
    val doc1 = Pipelines.dashboard(spark, dir)
    val sc = spark.sparkContext
    org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc, 10000L)
    val queries = new java.util.concurrent.atomic.AtomicInteger()
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        queries.incrementAndGet()
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        queries.incrementAndGet()
    }
    spark.listenerManager.register(l)
    try {
      assert(Pipelines.dashboard(spark, dir) === doc1)
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc, 10000L)
    } finally spark.listenerManager.unregister(l)
    assert(queries.get() === 0)
  }

  test("a rewritten burn_fee_area serves a fresh render of its new bytes") {
    val dir = refreshed("graft_dash_rewrite")
    val before = Pipelines.dashboard(spark, dir)
    val pageBefore = Pipelines.burnFeeAreaPageJson(spark, dir, None, 50)
    // a new version: half the area rows (every second point of the
    // (address, height) order), every other relation as it was
    val v = Versions.latest(spark, dir).get
    def current(name: String) = spark.read.parquet(Versions.dir(spark, dir, name, v))
    val area = current("burn_fee_area")
    val kept = area.orderBy("address", "height").collect()
      .zipWithIndex.collect { case (r, i) if i % 2 == 1 => r }
    Pipelines.publish(spark, dir, CacheQueries.Relations.map(name => name ->
      (if (name == "burn_fee_area")
        spark.createDataFrame(java.util.Arrays.asList(kept: _*), area.schema)
      else current(name))))
    val after = Pipelines.dashboard(spark, dir)
    val pageAfter = Pipelines.burnFeeAreaPageJson(spark, dir, None, 50)
    // a session of its own holds no memo entries: it renders the bytes
    val fresh = spark.newSession()
    assert(after === Pipelines.dashboard(fresh, dir))
    assert(pageAfter === Pipelines.burnFeeAreaPageJson(fresh, dir, None, 50))
    assert(after != before && pageAfter != pageBefore, "the rewrite must change both reads")
  }

  test("the chain_tip check goes through the Hadoop FileSystem and fails descriptively") {
    val dir = refreshed("graft_dash_tip")
    // a file: URI cache dir is not a local java.nio path, but it serves
    val uri = new java.io.File(dir).toURI.toString.stripSuffix("/")
    assert(uri.startsWith("file:/"))
    assert(Pipelines.dashboard(spark, uri) === Pipelines.dashboard(spark, dir))
    // a version whose manifest names no chain_tip has no chain_tip
    val manifest = java.nio.file.Paths.get(dir, "_versions", "1")
    val lines = java.nio.file.Files.readAllLines(manifest)
    java.nio.file.Files.write(manifest, lines.toArray(Array.empty[String]).toSeq
      .filterNot(_.startsWith("chain_tip\t")).asJava)
    val e = intercept[IllegalStateException](Pipelines.dashboard(spark.newSession(), dir))
    assert(e.getMessage.contains(s"version 1 of $dir has no relation chain_tip"), e.getMessage)
    // a cache dir with no committed version fails naming it
    assert(manifest.toFile.delete())
    val e2 = intercept[IllegalArgumentException](Pipelines.burnFeeAreaPageJson(spark, dir, None, 50))
    assert(e2.getMessage.contains(s"$dir has no committed version"), e2.getMessage)
  }

  /** The area page cursors the concurrency specs read at: the start, and
    * the `next` of the first two pages. */
  private def cursors(dir: String): Seq[Option[(Long, Long)]] =
    Iterator.iterate(Option.empty[(Long, Long)]) { c =>
      val next = JsonMethods.parse(Pipelines.burnFeeAreaPageJson(spark, dir, c, 50)) \ "next"
      Some(((next \ "address").asInstanceOf[JInt].num.toLong,
        (next \ "height").asInstanceOf[JInt].num.toLong))
    }.take(3).toSeq

  /** The dashboard document, then the page at every cursor. */
  private def reads(s: SparkSession, dir: String, at: Seq[Option[(Long, Long)]]): Seq[String] =
    Pipelines.dashboard(s, dir) +: at.map(c => Pipelines.burnFeeAreaPageJson(s, dir, c, 50))

  test("reads beside refreshes never fail and always return one whole version") {
    val dir = refreshed("graft_dash_concurrent")
    val at = cursors(dir)
    val expected = reads(spark, dir, at)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val attempts = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() =>
      while (!done.get) {
        attempts.incrementAndGet()
        try {
          val got = reads(spark, dir, at)
          if (got != expected) failures.add(s"read ${attempts.get} returned other bytes")
        } catch { case e: Throwable => failures.add(s"read ${attempts.get} threw $e") }
      })
    reader.start()
    try (1 to 5).foreach(_ => Pipelines.refreshCache(spark, sf, dir))
    finally { done.set(true); reader.join() }
    assert(attempts.get > 5)
    assert(failures.size === 0, s"of ${attempts.get} reads: " +
      failures.toArray.take(5).mkString("; "))
  }

  test("an uncommitted version is never read, and the next refresh replaces it") {
    val dir = refreshed("graft_dash_crash")
    val at = cursors(dir)
    val expected = reads(spark, dir, at)
    val n = Versions.latest(spark, dir).get
    // a crashed tick's leftovers: a part file under its own v=n+1 dir, no manifest
    CacheQueries.Relations.foreach { r =>
      val v = java.nio.file.Paths.get(dir, r, s"v=${n + 1}-crashed")
      java.nio.file.Files.createDirectories(v)
      java.nio.file.Files.writeString(v.resolve("part-00000-crashed.snappy.parquet"), "torn")
    }
    assert(reads(spark, dir, at) === expected)
    // a session of its own holds no memo entries: it opens the version
    assert(reads(spark.newSession(), dir, at) === expected)
    Pipelines.refreshCache(spark, sf, dir)
    assert(Versions.latest(spark, dir) === Some(n + 1))
    CacheQueries.Relations.foreach { r =>
      assert(!Versions.dir(spark, dir, r, n + 1).endsWith("-crashed"), r)
    }
    assert(reads(spark.newSession(), dir, at) === expected)
  }

  test("refreshes keep two committed versions, one memo entry, one relation entry each") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dash_bounded").toString
    // every relation but miner_info is read by the dashboard or a page:
    // each holds one opened version, the newest
    def relationEntries = CacheQueries.Relations.map(r => r -> Memo.entries(dir, s"relation:$r"))
    val oneEach = CacheQueries.Relations.map(r => r -> (if (r == "miner_info") 0 else 1))
    val memoBefore = Memo.entries("dashboard:block_info")
    Pipelines.refreshCache(spark, sf, dir)
    val expected = Pipelines.dashboard(spark, dir)
    assert(relationEntries === oneEach)
    (1 to 5).foreach { _ =>
      Pipelines.refreshCache(spark, sf, dir)
      assert(Pipelines.dashboard(spark, dir) === expected)
      Pipelines.burnFeeAreaPageJson(spark, dir, None, 50)
      assert(relationEntries === oneEach)
    }
    assert(Versions.committed(spark, dir) === Seq(6L, 5L))
    assert(new java.io.File(dir, "_versions").list().toSeq.sorted === Seq("5", "6"))
    CacheQueries.Relations.foreach { r =>
      assert(new java.io.File(dir, r).list().toSeq.sorted ===
        Seq(5L, 6L).map(v => new java.io.File(Versions.dir(spark, dir, r, v)).getName), r)
    }
    assert(Memo.entries("dashboard:block_info") === memoBefore + 1)
  }

  test("winnerPie and rateOfReturn carry the all/r1000/r100 triple") {
    Seq("winnerPie", "rateOfReturn").foreach { sec =>
      val keys = (doc \ sec).asInstanceOf[JObject].obj.map(_._1)
      assert(keys === List("all", "r1000", "r100"), sec)
    }
    val all = arr(doc \ "winnerPie" \ "all")
    assert(all.nonEmpty && all.length <= 10)
    assert(all.forall(r => (r \ "address") != JNothing &&
      (r \ "number") != JNothing && (r \ "RR") != JNothing))
    assert(arr(doc \ "rateOfReturn" \ "all").nonEmpty) // superseded stub
  }

  test("rateOfReturn values match the rr relation read by name (reorder-proof)") {
    // recompute the top rr row independently, selecting columns BY NAME —
    // if dashboard() read a swapped same-type column (the r3 nit), the
    // emitted RR would differ from this value
    val expect = functions.ScalarQueries.rrMinerInfo(None)(spark, sf)
      .select(col("stx_address"), col("rr_milli"))
      .orderBy(col("rr_milli").desc, col("stx_address")).limit(1).head()
    val first = arr(doc \ "rateOfReturn" \ "all").head
    assert((first \ "address") === JString(expect.getString(0)))
    assert((first \ "RR") === JInt(BigInt(expect.getLong(1))))
  }

  test("bitcoin_block timestamp derives from the burnchain tip, not a constant") {
    val ts = doc \ "currentStatus" \ "current_block" \ "bitcoin_block" \ "timestamp"
    val expect = Domain.chainTip(spark, sf)
      .select("tip_ts").head().getLong(0)
    assert(ts === JInt(BigInt(expect)))
  }

  test("price/btc_total/hash_power come from the enrichment seam + a9") {
    assert((doc \ "price" \ "btc") === JInt(60000))
    assert((doc \ "price" \ "stx") === JDouble(1.5))
    assert((doc \ "btc_total").isInstanceOf[JDouble] ||
      (doc \ "btc_total").isInstanceOf[JDecimal])
    assert((doc \ "btc_hash_power") === JString("0"))
  }
}
