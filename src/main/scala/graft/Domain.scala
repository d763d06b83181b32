package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain → testdata mapping (SURVEY.md §7.1, FIXTURES.md §C).
  *
  * The reference's blockchain relations are re-expressed over the driver's
  * TPC-H-ish parquet so every operator keeps its semantics but runs on real
  * test inputs:
  *
  *   - snapshots (one per burn block)      → orders  (height = o_orderkey)
  *   - block_commits (N per block)         → lineitem (burn_fee = round(l_extendedprice),
  *                                           miner = l_suppkey, vtxindex = l_linenumber)
  *   - sortition winner (winning_block_txid, rpc.js:269) → argmax commit by
  *     burn_fee per height, ties broken by lowest vtxindex (deterministic).
  *
  * burn_fee is a LONG (u64-as-TEXT in the reference, rpc.js:250 — cast per
  * SURVEY §1.2); integer fees keep every downstream aggregate exact, which
  * makes the DuckDB-oracle hash comparison deterministic.
  */
object Domain {

  /** block_commits: one row per commit. Column-pruned scan of lineitem. */
  def commits(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey").as("stacks_block_height"),
      round(col("l_extendedprice")).cast("long").as("burn_fee"),
      col("l_suppkey").as("leader_key_address"),
      col("l_linenumber").as("vtxindex")
    )

  /** snapshots: one row per block (height, status, cumulative-like measure). */
  def snapshots(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("block_height"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100).cast("long").as("total_burn_cents"),
      col("o_orderdate").as("block_time")
    )

  /** Winner-per-height ordering: highest burn_fee wins, lowest vtxindex on
    * ties (rpc.js:269 `txid === winning_block_txid` re-derived as argmax —
    * SURVEY §4 G1 strategy (b)). vtxindex is NOT unique per height in the
    * testdata, so the miner key is a final tie-break: the order must be
    * total or the oracle compare is nondeterministic (SURVEY §7.4.1). */
  val winnerWindow =
    Window.partitionBy("stacks_block_height")
      .orderBy(col("burn_fee").desc, col("vtxindex").asc,
        col("leader_key_address").asc)

  /** One row per height: the winning commit, as a HASH AGGREGATION instead
    * of a window. max_by over the composite (fee, −vtxindex, −miner) key
    * implements exactly [[winnerWindow]]'s argmax (struct comparison is
    * lexicographic; the negations turn the ascending tie-breaks into max),
    * but partial-aggregates map-side — the shuffle carries one candidate
    * per (height, map partition) instead of sorting every commit through a
    * WindowExec. Win counters derive from this relation (≈ #heights rows),
    * never from a row-level is_winner flag over the fact table.
    *
    * MEMOIZED as a shared core (r14 — guide §2.4): the per-miner rollup
    * ([[minerTotals]]) and j8 read this exact relation instead of each
    * re-running the full scan + map-side-sorted partial max_by of the fact
    * table.
    * Parquet-backed ([[Memo.cachedParquet]]), not a checkpoint: the
    * relation is HEIGHT-grain — it grows linearly with chain length
    * (~150 M rows at sf100), which is parquet-index-sized, not
    * metadata-sized. This is the persisted winners index a production
    * pipeline materializes once per ingest anyway. */
  def winners(s: SparkSession, d: String): DataFrame =
    Memo.cachedParquet(s, d, "winners", "lineitem.parquet")(
      winnersOf(commits(s, d)))

  /** The trailing n-block window (the reference's `latest` route
    * parameter, server.js:304-331): heights above the memoized tip
    * ([[operators.Windows.ordersTipOf]]) minus n. The tip is a literal, so
    * the predicate reaches PushedFilters of whichever scan it filters. */
  def inTrailingWindow(s: SparkSession, d: String, n: Long): Column =
    col("stacks_block_height") > lit(operators.Windows.ordersTipOf(s, d) - n)

  /** Argmax over any commits-shaped frame. The winner choice is
    * per-height-local, so a height filter commutes with the argmax: range
    * variants filter the memoized [[winners]] ([[minerTotals]]) rather
    * than re-run this over a filtered scan. */
  def winnersOf(commitsDf: DataFrame): DataFrame =
    commitsDf
      .groupBy(col("stacks_block_height"))
      .agg(max_by(
        struct(col("leader_key_address"), col("burn_fee"), col("vtxindex")),
        struct(col("burn_fee"), (-col("vtxindex")).as("nv"),
          (-col("leader_key_address")).as("na"))).as("w"))
      .select(col("stacks_block_height"), col("w.leader_key_address"),
        col("w.burn_fee"), col("w.vtxindex"))

  /** The per-miner rollup over a commits relation and its winners: one
    * row per `leader_key_address` that committed, with mined = count,
    * burned = sum(burn_fee), won = its winning heights and `bonus_win` =
    * those below [[BonusBoundary]] (rpc.js:244-275, 301-305). Two
    * partial-aggregated shuffles, commits → per-miner and winners →
    * per-miner, joined at miner cardinality; a miner without a win gets 0
    * wins. Every winner committed, so the left join loses no winner. */
  def minerTotalsOf(commitsDf: DataFrame, winnersDf: DataFrame): DataFrame = {
    val mined = commitsDf
      .groupBy(col("leader_key_address"))
      .agg(count(lit(1)).as("total_mined"), sum(col("burn_fee")).as("miner_burned"))
    val won = winnersDf
      .groupBy(col("leader_key_address"))
      .agg(count(lit(1)).as("total_win"),
        sum(when(col("stacks_block_height") < BonusBoundary, 1L).otherwise(0L))
          .as("bonus_win"))
    mined.join(won, Seq("leader_key_address"), "left")
      .select(col("leader_key_address"), col("total_mined"), col("miner_burned"),
        coalesce(col("total_win"), lit(0L)).as("total_win"),
        coalesce(col("bonus_win"), lit(0L)).as("bonus_win"))
  }

  /** [[minerTotalsOf]] over all heights (`latest` = None) or over the
    * trailing `latest`-block window ([[inTrailingWindow]]: the commit scan
    * and the memoized [[winners]] filtered at one tip literal): the ONE
    * per-miner rollup that a1, a2, a9, a12, f10, w7/w7b/w7k and the five
    * miner-grain cache relations project. `latest` is the reference's
    * route parameter, so the window is an argument, not a fixed set. The
    * all-heights rollup is memoized (`Memo.cached`, tag `miner_totals`):
    * several relations of one refresh tick read it. A trailing window is
    * returned lazily: each is read once per tick, so a checkpoint would
    * only add a job. */
  def minerTotals(s: SparkSession, d: String, latest: Option[Long]): DataFrame =
    latest match {
      case None =>
        Memo.cached(s, d, "miner_totals", "lineitem.parquet")(
          minerTotalsOf(commits(s, d), winners(s, d)))
      case Some(n) =>
        val inWindow = inTrailingWindow(s, d, n)
        minerTotalsOf(commits(s, d).filter(inWindow), winners(s, d).filter(inWindow))
    }

  /** Winner row_number as DuckDB SQL — the single shared definition used by
    * every oracle (ADVICE r1: one constant, not per-file re-derivations).
    * Total order: fee DESC, vtxindex, miner — mirrors [[winnerWindow]]. */
  val winnerRnSql: String =
    "row_number() OVER (PARTITION BY l_orderkey ORDER BY round(l_extendedprice) DESC, l_linenumber, l_suppkey)"

  /** burn_fee as DuckDB SQL (matches commits(): round(l_extendedprice)→long). */
  val feeSql: String = "CAST(round(l_extendedprice) AS BIGINT)"

  /** Bonus-era boundary (rpc.js:303 — stacks height < 8387). */
  val BonusBoundary: Long = 8387L

  /** Tip height + its burnchain timestamp (epoch seconds) from the
    * snapshots table — the ONE definition of "the chain tip" shared by the
    * dashboard's chain_tip cache relation and the peer-probe's derived
    * blockchaininfo document (the reference takes both from the burnchain
    * tip block). One-row aggregate. */
  def chainTip(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      max(col("o_orderkey")).as("tip_height"),
      unix_timestamp(max_by(col("o_orderdate"), col("o_orderkey")))
        .as("tip_ts"))
}
