package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M6 — serving/cache parity (SURVEY.md §3.1, §7.2): the reference's
  * update() cycle recomputes every dashboard key and publishes each with
  * one Redis SET (server.js:280-331); here the same nine relations land
  * as one committed [[Versions]] version of the cache dir, re-runnable on
  * a timer, and readers never touch the source tables (the read path is
  * O(cache)).
  *
  * Relation `r` of version `n` lives in the dir the version's manifest
  * names, `<cacheDir>/r/v=<n>-<attempt id>`. A read looks the version up
  * once and renders every relation at it, opened through
  * [[Tables.version]]: once per (relation, version), with no listing and
  * no schema inference.
  *
  * Cache relations are written UNORDERED. Every serving read imposes its
  * own total order, so a sort before the write would buy nothing; the
  * presentation order lives in the query registry (a1, j8, a8, w5, f10)
  * and in [[operators.Windows.gapfill]] / [[functions.ScalarQueries.rrMinerInfo]].
  *
  * Not every relation is aggregate-sized: the leaderboards hold ≈ #miners
  * rows and burn_fee_area ≈ #miners × window, but block_info holds one row
  * per height with every commit re-encoded as a string, so a version of
  * it grows with the fact table (707 MB at sf10, where lineitem is
  * 1.1 GB), and the two retained versions make the cache larger than its
  * source. The dashboard reads 20 of its rows.
  */
object Pipelines {

  /** The update() cycle: recompute every dashboard relation and publish
    * them as the cache's next version (the reference recomputes all Redis
    * keys per tick, server.js:280-331). Idempotent — same contract as the
    * whole-key Redis SET. */
  def refreshCache(s: SparkSession, sfDir: String, cacheDir: String): Unit =
    publish(s, cacheDir, Seq(
      // miner_info: P9 projection of A1+A2+A4 (rpc.js:430-445)
      "miner_info" -> operators.Aggregations.minerLeaderboard(s, sfDir),
      // mining_info: P10, the canonical winner per height (rpc.js:447-457)
      "mining_info" -> operators.RelationalCore.winnerCommits(s, sfDir),
      // block_info: the A8 per-height rollup (rpc.js:463-487)
      "block_info" -> operators.Aggregations.blockRollup(s, sfDir),
      // dashboard composition relations (VERDICT r2 item 2)
      "burn_fee_area" -> operators.Windows.gapfillSeries(1000L)(s, sfDir),
      "miner_info_rr" -> functions.ScalarQueries.rrLeaderboard(None)(s, sfDir),
      "miner_info_rr_1000" -> functions.ScalarQueries.rrLeaderboard(Some(1000L))(s, sfDir),
      "miner_info_rr_100" -> functions.ScalarQueries.rrLeaderboard(Some(100L))(s, sfDir),
      "btc_total" -> operators.Aggregations.queries("a9_btc_total")(s, sfDir),
      "chain_tip" -> Domain.chainTip(s, sfDir)))

  /** Write `relations` as the cache's next [[Versions]] version (1 in an
    * empty dir). Of two ticks that overlap on one dir (the reference's
    * `setInterval` fires whether or not the last update finished), the
    * second to commit fails naming the version instead of writing into
    * the first's; a failed or killed tick leaves nothing a reader or the
    * next tick sees. */
  private[graft] def publish(s: SparkSession, cacheDir: String,
                             relations: Seq[(String, DataFrame)]): Unit =
    Versions.publish(s, cacheDir, Versions.latest(s, cacheDir).fold(1L)(_ + 1), relations)

  /** The newest committed cache version; fails descriptively without one. */
  private def version(s: SparkSession, cacheDir: String): Long =
    Versions.latest(s, cacheDir).getOrElse(throw new IllegalArgumentException(
      s"dashboard: $cacheDir has no committed version — run refreshCache first"))

  /** Full-series burnFeeArea page (VERDICT r5 item 5): the reference's
    * burnFeeArea emits EVERY miner's series (mining_monitor_rpc.js:46-113);
    * [[dashboard]] bounds its inline copy to the top-10 miners, correct at
    * scale but a strict subset of what the reference's consumers get. This
    * is the complete-set serving path: COMPOSITE-KEYSET pagination over
    * the cached area relation — strictly-after (address, height), ordered,
    * one page per call — w7k's keyset doctrine at row grain, so a page
    * fetch is O(page) work and a bounded collect no matter how many miners
    * exist or how deep the cursor sits. A page shorter than `pageSize`
    * means the walk is complete. */
  def burnFeeAreaPage(s: SparkSession, cacheDir: String,
                      after: Option[(Long, Long)], pageSize: Int): DataFrame =
    areaPage(s, cacheDir, version(s, cacheDir), after, pageSize)

  private def areaPage(s: SparkSession, cacheDir: String, n: Long,
                       after: Option[(Long, Long)], pageSize: Int): DataFrame = {
    require(pageSize > 0, "pageSize must be positive")
    val area = Tables.version(s, cacheDir, "burn_fee_area", n)
      .select(col("address"), col("height"), col("cum_filled"))
    val page = after match {
      case Some((a, h)) => area.filter(col("address") > a ||
        (col("address") === a && col("height") > h))
      case None => area
    }
    page.orderBy(col("address"), col("height")).limit(pageSize)
  }

  /** One serving-edge JSON page of the full area series: the reference's
    * point shape plus a `next` cursor (the page's last key, or null when
    * the walk is done). The only collect is the page itself.
    *
    * Rendered once per cache version, like the reference's Redis value
    * that every REST read GETs (server.js:47-125): the page is a
    * [[Memo.valueAt]] on the burn_fee_area relation at the version, tagged
    * by cursor and page size, so a read over an unchanged cache costs one
    * version lookup and no Spark job. A refresh's new version makes the
    * next read render again, and retires the pages of the old one. */
  def burnFeeAreaPageJson(s: SparkSession, cacheDir: String,
                          after: Option[(Long, Long)], pageSize: Int): String = {
    val cursor = after.fold("start") { case (a, h) => s"$a:$h" }
    val n = version(s, cacheDir)
    Memo.valueAt(s, cacheDir, s"area_page:$cursor:$pageSize", "burn_fee_area", n) {
      val rows = areaPage(s, cacheDir, n, after, pageSize)
        .collect()
      val pts = rows.map(r =>
        s"""{"height":${r.getLong(1)},"burn_fee":${r.getLong(2)},"address":${r.getLong(0)}}""")
      val next =
        if (rows.length < pageSize) "null"
        else s"""{"address":${rows.last.getLong(0)},"height":${rows.last.getLong(1)}}"""
      s"""{"data":[${pts.mkString(",")}],"next":$next}"""
    }
  }

  /** S18/S19 — the mining_status flag file (rpc.js:583-590; broken as
    * shipped — `fs` never imported — implemented as evidently intended):
    * a driver-side one-value state read/written around each refresh. */
  def writeStatus(path: String, mining: Boolean): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      if (mining) "true" else "false")

  def readStatus(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.exists(p) &&
      java.nio.file.Files.readString(p).trim == "true"
  }

  /** monitorIntegrate (§3.2): assemble the FULL dashboard document from the
    * cache, mirroring packMiningMonitorData (mining_monitor_rpc.js:151-161)
    * plus the server's price/btc_total/btc_hash_power fields
    * (server.js:268-275). Every read is cache-scale and every collect sits
    * behind an explicit limit (SURVEY §7.6) — the serving edge is bounded
    * no matter how big the fact tables are:
    *   - currentStatus/minersBurnFee20: tail-20 heights of block_info
    *   - minerTable: top-50 of mining_info
    *   - burnFeeArea: the w5 gap-filled series, top-10 miners × window
    *     (the reference emits ALL miners — unbounded at scale; documented
    *     serving bound. The complete set is served page-bounded by
    *     [[burnFeeAreaPage]]'s composite keyset walk.)
    *   - winnerPie/rateOfReturn: all/r1000/r100 rr leaderboards, top-10 /
    *     top-50 slices
    *   - rateOfReturn carries real values (the reference's packRR ships
    *     empty lists — superseded to intent, SURVEY §2.12 R4).
    *
    * The cache version and the prices are looked up on every call; the
    * prices stay a live read because the enrichment fetcher rewrites them
    * on its own clock, outside the cache dir. The document is rendered
    * once per (version, prices): a [[Memo.valueAt]] tagged `dashboard`
    * with both as its fingerprint, so a price change at an unchanged
    * version renders again and replaces it. Each section reads one
    * relation at the version and is rendered once per version (tag
    * `dashboard:<relation>`), so that render opens nothing either. */
  def dashboard(s: SparkSession, cacheDir: String): String = {
    val n = version(s, cacheDir)
    val pr = sources.Enrichment.current(s)
    // a source of its own: a new document retires no section entry
    Memo.valueAt(s, cacheDir, "dashboard", "dashboard", (n, pr))(render(s, cacheDir, n, pr))
  }

  private def render(s: SparkSession, cacheDir: String, n: Long,
                     pr: sources.Enrichment.Prices): String = {
    def section[T](name: String)(render: DataFrame => T): T =
      Memo.valueAt(s, cacheDir, s"dashboard:$name", name, n)(
        render(Tables.version(s, cacheDir, name, n)))

    // Locale.ROOT: the f-interpolator uses the default locale, which would
    // emit comma decimals (invalid JSON) on comma-decimal JVMs
    def avg3(xs: Array[Long]): String =
      String.format(java.util.Locale.ROOT, "%.3f", xs.sum.toDouble / xs.length)

    // currentStatus (mining_monitor_rpc.js:1-21): tail-20 series + averages;
    // minerTable's per-commit fees of the same heights are parsed back out
    // of the nested rollup. Positional reads only ever follow an explicit
    // select-by-name, so upstream column reorder cannot silently misreport
    // a field.
    val (tipHeight, series20, minersBurnFee20) = section("block_info") { blocks =>
      val b20 = blocks
        .select(col("stacks_block_height"), col("sum_burn_fees"),
          col("sum_miner_amount"), col("commit_value_list"))
        .orderBy(col("stacks_block_height").desc).limit(20)
        .collect().sortBy(_.getLong(0))
      require(b20.nonEmpty,
        "dashboard: block_info cache is empty — refreshCache must run against a non-empty source first")
      val burn20 = b20.map(_.getLong(1))
      val miner20 = b20.map(_.getLong(2))
      val series =
        s""""current_burn_fee":{"data_20":[${burn20.mkString(",")}],"avg":${avg3(burn20)}},""" +
          s""""current_miner":{"data_20":[${miner20.mkString(",")}],"avg":${avg3(miner20)}}"""
      val fees = b20.flatMap { r =>
        r.getString(3).split(";").filter(_.nonEmpty).map { c =>
          c.split(":") match {
            case Array(_, fee, addr) =>
              s"""{"height":${r.getLong(0)},"address":$addr,"fee":$fee}"""
            case parts => sys.error(
              s"dashboard: malformed commit_value_list cell '$c' " +
                s"(${parts.length} fields, expected vtx:fee:miner) at height ${r.getLong(0)}")
          }
        }
      }
      (b20.last.getLong(0), series, fees.mkString(","))
    }
    // the burnchain tip timestamp comes from the chain_tip cache relation,
    // not an inlined constant (ADVICE r3)
    val tipTs = section("chain_tip")(_.select(col("tip_ts")).head().getLong(0))
    val currentStatus =
      s"""{"current_block":{"stacks_block_height":$tipHeight,""" +
        s""""bitcoin_block":{"block_height":$tipHeight,"timestamp":$tipTs}},$series20}"""

    // minerTable (mining_monitor_rpc.js:23-44): winner table + the tail-20
    // per-commit fees above
    val table = section("mining_info") { chain =>
      chain
        .select(col("stacks_block_height"), col("leader_key_address"), col("burn_fee"))
        .orderBy(col("stacks_block_height").desc).limit(50)
        .collect().map(r =>
          s"""{"stacks_block_height":${r.getLong(0)},"leader_key_address":${r.getLong(1)},"burn_fee":${r.getLong(2)}}""")
        .mkString(",")
    }
    val minerTable = s"""{"table":[$table],"minersBurnFee20":[$minersBurnFee20]}"""

    // burnFeeArea (mining_monitor_rpc.js:46-113): gap-filled cumulative
    // burn series, bounded to the top-10 miners of the window
    val burnFeeArea = section("burn_fee_area") { area =>
      val topAddrs = area.groupBy(col("address"))
        .agg(max(col("cum_filled")).as("m"))
        .orderBy(col("m").desc, col("address")).limit(10)
        .select(col("address"))
      val areaPts = area.join(broadcast(topAddrs), Seq("address"))
        .select(col("address"), col("height"), col("cum_filled"))
        .orderBy(col("address"), col("height"))
        .collect().map(r =>
          s"""{"height":${r.getLong(1)},"burn_fee":${r.getLong(2)},"address":${r.getLong(0)}}""")
      s"""{"data":[${areaPts.mkString(",")}]}"""
    }

    // winnerPie + rateOfReturn (mining_monitor_rpc.js:115-148): the
    // all/r1000/r100 triple from the rr leaderboards, one section per
    // leaderboard holding its (pie, RR) lists. select-by-name before every
    // positional read (ADVICE r3: a column swap at same type in
    // rrMinerInfo would have silently misreported RR at the serving edge)
    val Seq(all, r1000, r100) =
      Seq("miner_info_rr", "miner_info_rr_1000", "miner_info_rr_100").map(name =>
        section(name) { rr =>
          val pie = rr.filter(col("total_win") > 0)
            .select(col("stx_address"), col("actual_win"), col("rr_milli"),
              col("total_win"))
            .orderBy(col("total_win").desc, col("stx_address")).limit(10)
            .collect().map(r =>
              s"""{"address":"${r.getString(0)}","number":${r.getLong(1)},"RR":${r.getLong(2)}}""")
            .mkString("[", ",", "]")
          val rrs = rr.select(col("stx_address"), col("rr_milli"))
            .orderBy(col("rr_milli").desc, col("stx_address")).limit(50)
            .collect().map(r =>
              s"""{"address":"${r.getString(0)}","RR":${r.getLong(1)}}""")
            .mkString("[", ",", "]")
          (pie, rrs)
        })
    val winnerPie = s"""{"all":${all._1},"r1000":${r1000._1},"r100":${r100._1}}"""
    val rateOfReturn = s"""{"all":${all._2},"r1000":${r1000._2},"r100":${r100._2}}"""

    // price / btc_total / btc_hash_power (server.js:268-275) via the
    // S13–S15 enrichment seam (live) + the cached a9 total
    val stx = pr.stxPriceMilli.toDouble / 1000.0
    val btc = pr.btcSatScale * 10000L
    val hashPower = pr.hashPower
    val btcTotal = section("btc_total")(_.select(col("btc_total")).head().getDouble(0))

    s"""{"currentStatus":$currentStatus,""" +
      s""""minerTable":$minerTable,""" +
      s""""burnFeeArea":$burnFeeArea,""" +
      s""""winnerPie":$winnerPie,""" +
      s""""rateOfReturn":$rateOfReturn,""" +
      s""""price":{"btc":$btc,"stx":$stx},""" +
      s""""btc_total":$btcTotal,""" +
      s""""btc_hash_power":"$hashPower"}"""
  }
}
