package graft.functions

import graft.{Domain, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function layer as runnable queries (SURVEY.md §2.8: F6, F8–F15)
  * plus the T5 event-time window extension. All pure column expressions —
  * codegen'd, no UDFs (SURVEY §2.11).
  */
object ScalarQueries {
  type Q = (SparkSession, String) => DataFrame

  /** F6 — JSON document column parse + field extraction (rpc.js:351-366),
    * via from_json with an explicit schema (permissive on bad docs). */
  private val f6: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .orderBy(col("event_id"))

  /** F10/P9 — miner_info projection with rate-of-return economics
    * (utils.js:1-11, server.js:286-294): pure arithmetic on the
    * [[graft.Domain.minerTotals]] rollup, dimension join broadcast. The
    * price/gas inputs come from the
    * [[graft.sources.Enrichment]] seam (S13–S15) — no constants in the
    * expression; the zero-egress defaults reproduce the reference
    * constants (BASELINE.md).
    *
    * RR reduces to an EXACT integer rational: earn·1000 = bonus·2466·stxM +
    * (win−bonus)·1000·stxM whole milli-units, cost numerator C·scale where
    * C = mined·gas + burned — so rr = earn/cost − 1 =
    * (earnMilli·10 − C·scale) / (C·scale), emitted milli-scaled with integer
    * half-up (toward +∞ for the rare negative rr). round(double) of such
    * rationals flips on exact half-boundaries between engines.
    *
    * `latest` restricts the economics to the trailing-N window (the
    * server's miner_info100/1000 variants, server.js:304-331). */
  def rrMinerInfo(latest: Option[Long]): Q = (s, d) =>
    rrLeaderboard(latest)(s, d).orderBy(col("stx_address"))

  /** [[rrMinerInfo]] without its presentation order: the `miner_info_rr*`
    * cache relations. */
  private[graft] def rrLeaderboard(latest: Option[Long]): Q = (s, d) =>
    rrOf(s, d)(Domain.minerTotals(s, d, latest))

  /** The rr economics of a per-miner rollup ([[Domain.minerTotalsOf]]'s
    * columns), joined to the miner dimension. The seam's price values are
    * read once, when the relation is built, and enter the plan as typed
    * long literals: a relation built before a price change keeps the old
    * values, and the plan holds no join to the prices row. */
  private[graft] def rrOf(s: SparkSession, d: String)(totals: DataFrame): DataFrame = {
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
    val p = graft.sources.Enrichment.current(s)
    val stxMilli = lit(p.stxPriceMilli)
    val earnMilli = col("bonus_win") * 2466L * stxMilli +
      (col("total_win") - col("bonus_win")) * 1000L * stxMilli
    val costNum = (col("total_mined") * lit(p.gasSats) + col("miner_burned")) *
      lit(p.btcSatScale)
    // shared exact half-up (negative rr floors toward -inf on both engines)
    val rrMilli = graft.functions.ExactRatio.scaled(
      earnMilli * 10L - costNum, costNum, 1000L)
    totals.join(broadcast(sup), totals("leader_key_address") === sup("s_suppkey"))
      .select(
        col("s_name").as("stx_address"),
        concat(lit("btc:"), col("s_name")).as("btc_address"),
        col("total_win").as("actual_win"), col("bonus_win").as("actual_win_bonus"),
        col("total_win"),
        col("total_mined"), col("miner_burned"),
        rrMilli.as("rr_milli"))
  }

  private val f10: Q = rrMinerInfo(None)

  /** F12+F13 — txid prefix list → CSV per block (rpc.js:415): substring,
    * array transform, concat_ws; order pinned by vtxindex. */
  private val f12: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        substring(md5(concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))), 1, 10).as("txid10"))
      .groupBy(col("l_orderkey"))
      .agg(concat_ws(",",
        transform(
          sort_array(collect_list(struct(col("l_linenumber"), col("txid10")))),
          x => x.getField("txid10"))).as("txids"))
      .orderBy(col("l_orderkey"))

  /** T5 — event-time tumbling window aggregation (new capability per SURVEY
    * §2.10 T5; batch form of the Structured Streaming pipeline). */
  private val t5: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("value_cents"))
      .orderBy(col("hour_start"), col("event_type"))

  /** F6 (variant leg) — the op-JSON two-variant dispatch (rpc.js:351-366):
    * documents carry either a LeaderBlockCommit or a LeaderKeyRegister
    * payload; parse with one nested schema and branch on which sub-struct
    * is present. The JSON is synthesized deterministically per row so both
    * engines parse identical documents. */
  private val f7: Q = (s, d) => {
    val op = when(col("l_linenumber") % 2 === 0,
      concat(lit("""{"LeaderBlockCommit":{"burn_fee":"""),
        round(col("l_extendedprice")).cast("long"),
        lit(""","vtxindex":"""), col("l_linenumber"), lit("}}")))
      .otherwise(
        concat(lit("""{"LeaderKeyRegister":{"address":"""),
          col("l_suppkey"), lit("}}")))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "LeaderBlockCommit STRUCT<burn_fee: BIGINT, vtxindex: INT>, " +
        "LeaderKeyRegister STRUCT<address: BIGINT>")
    // fanned read: the per-row JSON synth + Jackson parse is ~5 µs/row —
    // the heaviest row-local expression in the suite (223 s single-core at
    // sf10) — and must not serialize on a single-row-group scan task
    Tables.lineitemFanned(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), from_json(op, schema).as("op"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("op.LeaderBlockCommit").isNotNull, "commit")
          .otherwise("key_register").as("op_type"),
        coalesce(col("op.LeaderBlockCommit.burn_fee"), lit(0L)).as("burn_fee"),
        coalesce(col("op.LeaderKeyRegister.address"), lit(0L)).as("address"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("burn_fee"), col("address"))
  }

  val queries: Map[String, Q] = Map(
    "f6_json_extract" -> f6,
    "f7_op_variant_dispatch" -> f7,
    "f10_rr_miner_info" -> f10,
    "f12_txid_csv" -> f12,
    "t5_event_hourly" -> t5
  )

  val oracles: Map[String, String] = Map(
    "f7_op_variant_dispatch" ->
      """WITH j AS (SELECT l_orderkey, l_linenumber,
        |   CASE WHEN l_linenumber % 2 = 0
        |     THEN '{"LeaderBlockCommit":{"burn_fee":' || CAST(CAST(round(l_extendedprice) AS BIGINT) AS VARCHAR) || ',"vtxindex":' || CAST(l_linenumber AS VARCHAR) || '}}'
        |     ELSE '{"LeaderKeyRegister":{"address":' || CAST(l_suppkey AS VARCHAR) || '}}' END AS op
        |  FROM lineitem)
        | SELECT l_orderkey, l_linenumber,
        |   CASE WHEN json_extract(op, '$.LeaderBlockCommit') IS NOT NULL THEN 'commit' ELSE 'key_register' END AS op_type,
        |   coalesce(CAST(json_extract(op, '$.LeaderBlockCommit.burn_fee') AS BIGINT), 0) AS burn_fee,
        |   coalesce(CAST(json_extract(op, '$.LeaderKeyRegister.address') AS BIGINT), 0) AS address
        | FROM j ORDER BY l_orderkey, l_linenumber, burn_fee, address""".stripMargin,
    "f6_json_extract" ->
      """SELECT event_id, event_type, CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER) AS k FROM events ORDER BY event_id""",
    "f10_rr_miner_info" ->
      s"""WITH c AS (SELECT l_suppkey, l_orderkey, ${Domain.feeSql} AS fee,
        |   ${Domain.winnerRnSql} AS rn FROM lineitem),
        | g AS (SELECT l_suppkey, count(*) AS total_mined, CAST(sum(fee) AS BIGINT) AS miner_burned,
        |   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS total_win,
        |   CAST(sum(CASE WHEN rn = 1 AND l_orderkey < 8387 THEN 1 ELSE 0 END) AS BIGINT) AS actual_win_bonus
        |   FROM c GROUP BY 1)
        | SELECT s.s_name AS stx_address, 'btc:' || s.s_name AS btc_address,
        |   g.total_win AS actual_win, g.actual_win_bonus, g.total_win, g.total_mined, g.miner_burned,
        |   ${graft.functions.ExactRatio.scaledSql(
             "(g.actual_win_bonus * 3699 + (g.total_win - g.actual_win_bonus) * 1500) * 10000 - (g.total_mined * 35000 + g.miner_burned) * 6",
             "(g.total_mined * 35000 + g.miner_burned) * 6", 1000L)} AS rr_milli
        | FROM g JOIN supplier s ON g.l_suppkey = s.s_suppkey ORDER BY stx_address""".stripMargin,
    "f12_txid_csv" ->
      """SELECT l_orderkey, string_agg(substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 10), ',' ORDER BY l_linenumber) AS txids
        | FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "t5_event_hourly" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type, count(*) AS n_events,
        |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
