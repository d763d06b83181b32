package graft

import graft.sources.Enrichment
import org.apache.spark.sql.functions._

/** The S13–S15 enrichment seam: defaults reproduce the reference constants,
  * and alternate values (conf- or file-provided) actually route into f10's
  * economics (VERDICT r2 item 5). */
class EnrichmentSpec extends SparkSpec {

  private def clearConfs(): Unit =
    Seq(Enrichment.PathKey, Enrichment.StxMilliKey,
      Enrichment.BtcScaleKey, Enrichment.GasSatsKey, Enrichment.TtlKey)
      .foreach(spark.conf.unset)

  test("default seam is the recorded reference constants") {
    clearConfs()
    val r = Enrichment.prices(spark).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1500L, 6L, 35000L)))
  }

  test("conf-provided prices flow into f10's rr exactly") {
    clearConfs()
    try {
      spark.conf.set(Enrichment.StxMilliKey, "3000")
      val got = q("f10_rr_miner_info")
        .select("stx_address", "actual_win", "actual_win_bonus",
          "total_mined", "miner_burned", "rr_milli")
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val (win, bonus) = (r.getLong(1), r.getLong(2))
        val (mined, burned) = (r.getLong(3), r.getLong(4))
        // independent BigInt model of the seam-parameterized economics
        val earnMilli = BigInt(bonus) * 2466 * 3000 +
          BigInt(win - bonus) * 1000 * 3000
        val cost = (BigInt(mined) * 35000 + burned) * 6
        val n = (earnMilli * 10 - cost) * 2000 + cost
        val d = cost * 2
        val q0 = n / d
        val expect = (if (n % d != 0 && (n < 0) != (d < 0)) q0 - 1 else q0).toLong
        assert(r.getLong(5) === expect, s"address=${r.getString(0)}")
      }
    } finally clearConfs()
  }

  test("rr economics apply the seam as literals: no nested-loop join in the plan") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    object Plans extends AdaptiveSparkPlanHelper
    clearConfs()
    val rr = functions.ScalarQueries.rrLeaderboard(None)(spark, sf)
    assert(rr.collect().nonEmpty)
    val plan = rr.queryExecution.executedPlan
    assert(Plans.find(plan)(_.isInstanceOf[BroadcastNestedLoopJoinExec]).isEmpty,
      s"nested-loop join in:\n$plan")
  }

  test("an empty enrichment file falls back to the default ROW, never empty") {
    clearConfs()
    val dir = java.nio.file.Files.createTempDirectory("enrich_empty").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "prices.json"), "")
    try {
      spark.conf.set(Enrichment.PathKey, s"$dir/prices.json")
      val rows = Enrichment.prices(spark).collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(0) === 1500L)
    } finally clearConfs()
  }

  test("peer-probe seam: injected remote height flips can_mine") {
    val key = graft.sources.PeerProbe.RemoteHeightKey
    try {
      spark.conf.unset(key)
      val base = q("j11_stage_compare").head()
      val local = base.getLong(0)
      // the default path equals the derived remote table (oracle-gated)
      spark.conf.set(key, local.toString)
      assert(q("j11_stage_compare").head().getBoolean(2))
      spark.conf.set(key, (local + 5).toString)
      val probed = q("j11_stage_compare").head()
      assert(probed.getLong(1) === local + 5)
      assert(!probed.getBoolean(2))
    } finally spark.conf.unset(key)
  }

  test("freshness: a stale file flags stale=true while values still flow") {
    clearConfs()
    val dir = java.nio.file.Files.createTempDirectory("enrich_fresh").toString
    val p = java.nio.file.Paths.get(dir, "prices.json")
    def read() = Enrichment.prices(spark)
      .select("stx_price_milli", "fetched_at", "stale").head()
    try {
      spark.conf.set(Enrichment.PathKey, p.toString)
      // a fetcher that died long ago: old fetched_at → stale, values flow
      java.nio.file.Files.writeString(p,
        """{"stx_price_milli": 2500, "fetched_at": 1000}""")
      val stale = read()
      assert(stale.getLong(0) === 2500L)
      assert(stale.getLong(1) === 1000L)
      assert(stale.getBoolean(2), "old fetched_at must flag stale")
      // a live fetcher: recent fetched_at → not stale
      val now = System.currentTimeMillis / 1000L
      java.nio.file.Files.writeString(p,
        s"""{"stx_price_milli": 2500, "fetched_at": $now}""")
      assert(!read().getBoolean(2), "fresh fetched_at must not flag stale")
      // no fetched_at field: the file's own mtime stands in (just written)
      java.nio.file.Files.writeString(p, """{"stx_price_milli": 2500}""")
      val mt = read()
      assert(math.abs(mt.getLong(1) - now) < 300L)
      assert(!mt.getBoolean(2))
      // a tiny TTL makes even a fresh file stale — the threshold is conf'd
      spark.conf.set(Enrichment.TtlKey, "-10")
      assert(read().getBoolean(2))
    } finally clearConfs()
    // conf/default rows are configuration, not fetches: never stale
    val d = Enrichment.prices(spark).select("fetched_at", "stale").head()
    assert(d.isNullAt(0) && !d.getBoolean(1))
  }

  test("blockchaininfo seam: injected document relays verbatim, default derives") {
    val key = graft.sources.PeerProbe.InfoPathKey
    try {
      spark.conf.unset(key)
      // default: derived from the snapshots table, consistent with the
      // height-compare seam (same remote-height derivation j11 gates)
      val d = graft.sources.PeerProbe.blockchainInfo(spark, sf)
        .select("chain", "blocks", "headers", "mediantime").head()
      val hi = graft.sources.PeerProbe.remoteHeight(spark, sf).head().getLong(0)
      assert(d.getString(0) === "main")
      assert(d.getLong(1) === hi && d.getLong(2) === hi)
      val tipTs = Domain.chainTip(spark, sf).select("tip_ts").head().getLong(0)
      assert(d.getLong(3) === tipTs)
      // injected: the poller's document is relayed verbatim
      val dir = java.nio.file.Files.createTempDirectory("probe_info").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "info.json"),
        """{"chain": "test", "blocks": 42, "headers": 43,
          | "bestblockhash": "abc123", "difficulty": 7.5,
          | "mediantime": 1234567}""".stripMargin.replace("\n", ""))
      spark.conf.set(key, s"$dir/info.json")
      val r = graft.sources.PeerProbe.blockchainInfo(spark, sf).head()
      assert(r.getString(0) === "test")
      assert((r.getLong(1), r.getLong(2)) === ((42L, 43L)))
      assert(r.getString(3) === "abc123")
      assert(r.getDouble(4) === 7.5)
      assert(r.getLong(5) === 1234567L)
      // a poller that crashed mid-write (empty file) must fall back to the
      // derived row — the relation is one row by construction, never empty
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "info.json"), "")
      val rows = graft.sources.PeerProbe.blockchainInfo(spark, sf).collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(1) === hi)
    } finally spark.conf.unset(key)
  }

  test("file-backed seam overrides, missing fields fall back") {
    clearConfs()
    val dir = java.nio.file.Files.createTempDirectory("enrich").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "prices.json"),
      """{"stx_price_milli": 2000}""")
    try {
      spark.conf.set(Enrichment.PathKey, s"$dir/prices.json")
      val r = Enrichment.prices(spark).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2000L, 6L, 35000L)))
    } finally clearConfs()
  }
}
