package graft

import org.apache.spark.sql.functions._

/** Invariant specs per operator family (SURVEY.md §5.2): structural
  * properties that must hold on any input, checked on sf0.001. The exact
  * value-level check is the DuckDB oracle gate (Verify + check_oracle). */
class RelationalCoreSpec extends SparkSpec {
  test("s9 top-10 is 10 rows in strictly descending key order") {
    val keys = q("s9_top10").select("o_orderkey").collect().map(_.getLong(0))
    assert(keys.length === 10)
    assert(keys.sliding(2).forall(p => p(0) > p(1)))
  }

  test("s12 latest is exactly one row") {
    assert(q("s12_latest").count() === 1L)
  }

  test("p3 height range keeps only heights in [100, 200]") {
    val out = q("p3_height_range")
      .agg(min("stacks_block_height"), max("stacks_block_height")).head()
    assert(out.getLong(0) >= 100L && out.getLong(1) <= 200L)
  }

  test("j3 inner join never exceeds the fact-side row count") {
    val facts = Domain.commits(spark, sf).count()
    assert(q("j3_commits_join").count() <= facts)
  }

  test("j7 left join preserves every fact row exactly once per match group") {
    val li = Tables.lineitem(spark, sf).count()
    assert(q("j7_two_col_leftjoin").count() === li)
  }

  test("j8 resolves exactly one winner per height") {
    val dup = q("j8_winner_commit")
      .groupBy("stacks_block_height").count().filter(col("count") > 1).count()
    assert(dup === 0L)
    assert(q("j8_winner_commit").count() ===
      Domain.commits(spark, sf).select("stacks_block_height").distinct().count())
  }

  test("j2 miners CSV is sorted ascending within each block") {
    val rows = q("j2_miners_per_block").select("miners").collect().map(_.getString(0))
    assert(rows.forall { s =>
      val xs = s.split(",").map(_.toLong); xs.sameElements(xs.sorted)
    })
  }

  test("p6 sentinel prefix ends at the first matching row") {
    val rows = q("p6_sentinel_prefix").collect()
    assert(rows.nonEmpty)
    // exactly the last row carries the sentinel status
    assert(rows.last.getString(1) === "F")
    assert(rows.dropRight(1).forall(_.getString(1) != "F"))
  }
}

class AggregationsSpec extends SparkSpec {
  test("a1 leaderboard: wins never exceed attempts; derived cols consistent") {
    val bad = q("a1_leaderboard")
      .filter(col("total_win") > col("total_mined")).count()
    assert(bad === 0L)
  }

  test("a2 bonus wins are a subset of wins") {
    assert(q("a2_canonical_wins")
      .filter(col("actual_win_bonus") > col("actual_win")).count() === 0L)
  }

  test("a3/a5/a9 global aggregates are single rows") {
    assert(q("a3_global_totals").count() === 1L)
    assert(q("a5_tx_count").count() === 1L)
    assert(q("a9_btc_total").count() === 1L)
  }

  test("a8 rollup: list length equals commit count per height") {
    val bad = q("a8_block_rollup")
      .withColumn("n_list", size(split(col("commit_value_list"), ";")))
      .filter(col("n_list") =!= col("sum_miner_amount")).count()
    assert(bad === 0L)
  }

  test("a8 rollup totals reconcile with the global sum") {
    val fromRollup = q("a8_block_rollup").agg(sum("sum_burn_fees")).head().getLong(0)
    val global = Domain.commits(spark, sf).agg(sum("burn_fee")).head().getLong(0)
    assert(fromRollup === global)
  }

  test("a10/a11 tail-20 series have at most 20 points") {
    assert(q("a10_tail20_burnfee").head().getString(1).split(",").length <= 20)
    assert(q("a11_tail20_miners").head().getString(1).split(",").length <= 20)
  }

  test("a12 trailing-100 leaderboard only counts commits in the window") {
    val mined = q("a12_leaderboard_100").agg(sum("total_mined")).head().getLong(0)
    val hi = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0)
    val expect = Domain.commits(spark, sf)
      .filter(col("stacks_block_height") > hi - 100L).count()
    assert(mined === expect)
  }
}

class FunnelSpec extends SparkSpec {
  test("a20 funnel: stages shrink monotonically and bracket the direct recounts") {
    val r = q("a20_funnel").head()
    val (nV, nC, nP) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nV >= nC && nC >= nP)
    val ev = Tables.events(spark, sf)
    // stage 1 is exact: distinct users with a view
    assert(nV === ev.filter(col("event_type") === "view")
      .select("user_id").distinct().count())
    // stage 2 brackets: at most view∩click users; at least those whose
    // FIRST click already follows their first view
    val perUser = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("ts"))).as("v"),
      min(when(col("event_type") === "click", col("ts"))).as("c"))
    val both = perUser.filter(col("v").isNotNull && col("c").isNotNull)
    assert(nC <= both.count())
    assert(nC >= both.filter(col("c") >= col("v")).count())
    // conversion basis points agree with the counts (half-up reference)
    def bp(n: Long, d: Long): Long =
      ((BigInt(n) * 20000 + d) / (BigInt(d) * 2)).toLong
    assert(r.getLong(3) === bp(nC, nV))
    assert(r.getLong(4) === bp(nP, nV))
  }

  test("a20b/c bounded funnels: tighter windows never convert more; n_view invariant") {
    val un = q("a20_funnel").head()
    val h24 = q("a20b_funnel_24h").head()
    val h1 = q("a20c_funnel_1h").head()
    // stage 1 has no predecessor — the bound cannot change who enters
    assert(un.getLong(0) === h24.getLong(0) && h24.getLong(0) === h1.getLong(0))
    // each later stage is monotone in the window: 1h ≤ 24h ≤ unbounded
    for (i <- 1 to 2) {
      assert(h24.getLong(i) <= un.getLong(i), s"stage $i 24h vs unbounded")
      assert(h1.getLong(i) <= h24.getLong(i), s"stage $i 1h vs 24h")
    }
    // the bound must BITE at test scale for the parameterization to mean
    // anything: the 1h funnel converts strictly fewer than unbounded
    assert(h1.getLong(2) < un.getLong(2))
  }
}

class WindowsSpec extends SparkSpec {
  test("a6 first differences sum back to the cumulative total") {
    val r = q("a6_lag_diff").agg(sum("actual_burn"), max("cum")).head()
    assert(r.getLong(0) === r.getLong(1))
  }

  test("w16 fee CDF tracks Spark's percent_rank/cume_dist within milli rounding") {
    import org.apache.spark.sql.expressions.Window
    val out = q("w16_fee_cdf")
    // the built-ins over the SAME total order w16 ranks by (vtxindex is
    // not unique per height — Domain.scala — so the triple is the total
    // order and rank is the join key): with no ties, percent_rank's
    // tie-aware rank collapses to row_number and the comparison is exact
    val w = Window.partitionBy(col("stacks_block_height"))
      .orderBy(col("burn_fee"), col("vtxindex"), col("leader_key_address"))
    val ref = graft.Domain.commits(spark, sf)
      .select(col("stacks_block_height"),
        row_number().over(w).cast("long").as("rnk"),
        percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
    val j = out.join(ref, Seq("stacks_block_height", "rnk"))
    // |milli − 1000·builtin| ≤ 0.5 + ε: same rational, half-up vs IEEE
    assert(j.filter(abs(col("percent_milli") - col("pr") * 1000.0) > 0.501).count() === 0L)
    assert(j.filter(abs(col("cume_milli") - col("cd") * 1000.0) > 0.501).count() === 0L)
    // endpoints: first of each height at percent 0, last at cume 1000
    assert(out.filter(col("rnk") === 1L && col("percent_milli") =!= 0L).count() === 0L)
    val last = out.groupBy(col("stacks_block_height"))
      .agg(max(col("cume_milli")).as("mx"))
    assert(last.filter(col("mx") =!= 1000L).count() === 0L)
  }

  test("w12 top-k: contiguous ranks, non-increasing fees, rank 1 is the j8 winner") {
    val out = q("w12_topk_per_group").cache()
    // ranks are 1..min(3, commits in height), contiguous
    val perH = out.groupBy("stacks_block_height")
      .agg(min("rnk").as("lo"), max("rnk").as("hi"), count(lit(1)).as("n"))
    assert(perH.filter(col("lo") =!= 1L || col("hi") =!= col("n") || col("n") > 3L)
      .count() === 0L)
    // fee never increases as rank worsens
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stacks_block_height").orderBy("rnk")
    assert(out.withColumn("prev_fee", lag("burn_fee", 1).over(w))
      .filter(col("prev_fee").isNotNull && col("burn_fee") > col("prev_fee"))
      .count() === 0L)
    // rank-1 rows are exactly j8's winner relation
    val top1 = out.filter(col("rnk") === 1L)
      .select("stacks_block_height", "leader_key_address", "burn_fee")
    val j8 = q("j8_winner_commit")
      .select("stacks_block_height", "leader_key_address", "burn_fee")
    assert(top1.exceptAll(j8).isEmpty && j8.exceptAll(top1).isEmpty)
    out.unpersist()
  }

  test("a7 running max is monotone non-decreasing in event order") {
    val xs = q("a7_running_max").orderBy("event_id")
      .select("running_max").collect().map(_.getDouble(0))
    assert(xs.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("a13 cumulative burn is strictly positive and monotone per miner") {
    val bad = q("a13_cumsum_by_miner")
      .withColumn("prev", lag("cum_burn", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("address").orderBy("height", "vtxindex", "cum_burn")))
      .filter(col("prev").isNotNull && col("cum_burn") < col("prev"))
    assert(bad.count() === 0L)
  }

  test("a13 two-pass cumsum broadcasts its carry (no fact re-shuffle)") {
    // the skew-proof shape (SCALE.md round 10): local window partitioned
    // by (miner, bucket), carry joined back as a BROADCAST — a hash join
    // here would re-shuffle the whole windowed fact side, silently
    // restoring the per-miner hot-key serialization the bucketing removed.
    // Asserted on the UNMEMOIZED builder (a13At): since r14 the registered
    // query serves the parquet-memoized core, so its own plan is a scan —
    // the invariant lives in the plan that BUILDS the core.
    val plan = operators.Windows.a13At(
        operators.Windows.a13WidthBits(spark, sf))(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  test("a14 dedup leaves one row per (address, height)") {
    val dup = q("a14_height_dedup")
      .groupBy("address", "height").count().filter(col("count") > 1).count()
    assert(dup === 0L)
  }

  test("w5 gap-fill produces a dense 1000-height grid per address") {
    val perAddr = q("w5_gapfill").groupBy("address")
      .agg(count(lit(1)).as("n"), countDistinct("height").as("nh"))
      .filter(col("n") =!= 1000L || col("nh") =!= 1000L)
    assert(perAddr.count() === 0L)
  }

  test("w5 gap-fill is monotone non-decreasing per address") {
    val bad = q("w5_gapfill")
      .withColumn("prev", lag("cum_filled", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("address").orderBy("height")))
      .filter(col("prev").isNotNull && col("cum_filled") < col("prev"))
    assert(bad.count() === 0L)
  }

  test("w6 head-50 is descending and covers the 50 newest heights") {
    val hs = q("w6_head50").select("stacks_block_height").collect().map(_.getLong(0))
    assert(hs.length === 50)
    assert(hs.sliding(2).forall(p => p(0) > p(1)))
    val top = Domain.commits(spark, sf).select("stacks_block_height")
      .distinct().orderBy(col("stacks_block_height").desc).limit(50)
      .collect().map(_.getLong(0)).toSet
    assert(hs.toSet === top)
  }

  test("w7 pagination returns page rows 4..6 with the global count attached") {
    val rows = q("w7_pagination").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(4, 5, 6))
    val total = Domain.commits(spark, sf).select("leader_key_address").distinct().count()
    assert(rows.forall(_.getLong(3) === total))
  }
}

class ScalarQueriesSpec extends SparkSpec {
  test("f6 extracts the JSON field for every event") {
    val df = q("f6_json_extract")
    assert(df.count() > 0)
    assert(df.filter(col("k").isNull).count() < df.count())
  }

  test("f10 RR economics: rr_milli present and actual_win==total_win") {
    val df = q("f10_rr_miner_info")
    assert(df.filter(col("rr_milli").isNull).count() === 0L)
    // rr > -1 always (earn >= 0, cost > 0)
    assert(df.filter(col("rr_milli") < -1000L).count() === 0L)
    assert(df.filter(col("actual_win") =!= col("total_win")).count() === 0L)
  }

  /** The reference for the trailing rr leaderboard: an inline argmax over
    * the window's commits, with the tip from a broadcast orders max scan. */
  private def rrInline(n: Long) = {
    val hi = Tables.orders(spark, sf).agg(max(col("o_orderkey")).as("hi"))
    def inWin(df: org.apache.spark.sql.DataFrame) =
      df.crossJoin(broadcast(hi)).filter(col("stacks_block_height") > col("hi") - n)
        .drop("hi")
    functions.ScalarQueries.rrOf(spark, sf)(Domain.minerTotalsOf(
      inWin(Domain.commits(spark, sf)), Domain.winnersOf(inWin(Domain.commits(spark, sf)))))
      .orderBy(col("stx_address"))
  }

  test("the memoized trailing rollup equals the rollup of the inline-filtered commits") {
    val tip = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0)
    Seq(1L, 50L, 100L, 1000L, tip + 1).foreach { n =>
      val inWin = Domain.commits(spark, sf).filter(col("stacks_block_height") > tip - n)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("leader_key_address").collect().toSeq
      val got = rows(Domain.minerTotals(spark, sf, Some(n)))
      assert(got.nonEmpty, s"n = $n")
      assert(got === rows(Domain.minerTotalsOf(inWin, Domain.winnersOf(inWin))), s"n = $n")
    }
  }

  test("trailing rr from the memoized winners equals the inline-argmax formulation") {
    val tip = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0)
    Seq(1L, 100L, 1000L, tip + 1).foreach { n =>
      val got = functions.ScalarQueries.rrMinerInfo(Some(n))(spark, sf).collect().toSeq
      assert(got.nonEmpty, s"n = $n")
      assert(got === rrInline(n).collect().toSeq, s"n = $n")
    }
    // a window past genesis is the whole chain
    assert(functions.ScalarQueries.rrMinerInfo(Some(tip + 1))(spark, sf).collect().toSeq ===
      q("f10_rr_miner_info").collect().toSeq)
  }

  test("f12 CSV carries one 10-char txid prefix per line item") {
    val bad = q("f12_txid_csv")
      .withColumn("n", size(split(col("txids"), ",")))
      .join(
        Tables.lineitem(spark, sf).groupBy("l_orderkey").agg(count(lit(1)).as("c")),
        Seq("l_orderkey"))
      .filter(col("n") =!= col("c"))
    assert(bad.count() === 0L)
  }

  test("t5 hourly buckets align to the hour") {
    val misaligned = q("t5_event_hourly")
      .filter(minute(col("hour_start")) =!= 0 || second(col("hour_start")) =!= 0)
    assert(misaligned.count() === 0L)
  }

  test("w11 trailing-hour window matches the self-join definition") {
    // the RANGE frame IS "events of the same user in (t-3599, t]": rebuild
    // that set with an inequality self-join (the definition, affordable at
    // sf0.001) and require identical counts and cent sums per event
    val e = Tables.events(spark, sf).select(col("event_id"), col("user_id"),
      expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_sec"),
      round(col("value") * 100).cast("long").as("cents"))
    val joined = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts_sec") >= col("a.ts_sec") - 3599L &&
          col("b.ts_sec") <= col("a.ts_sec"))
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(lit(1)).as("n_ref"), sum(col("b.cents")).as("cents_ref"))
    val bad = q("w11_trailing_hour").join(joined, Seq("event_id"))
      .filter(col("n_1h") =!= col("n_ref") || col("cents_1h") =!= col("cents_ref"))
    assert(bad.count() === 0L)
  }

  test("w11 counts at least the event itself and never exceeds user totals") {
    val perUser = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_user"))
    val df = q("w11_trailing_hour").join(perUser, Seq("user_id"))
    assert(df.filter(col("n_1h") < 1).count() === 0L)
    assert(df.filter(col("n_1h") > col("n_user")).count() === 0L)
  }

  test("w15 OHLC: envelope holds, buckets partition the table, open is the earliest event") {
    val out = q("w15_ohlc").cache()
    // high/low bound open and close in every bucket
    assert(out.filter(
      col("open_cents") > col("high_cents") || col("open_cents") < col("low_cents") ||
        col("close_cents") > col("high_cents") || col("close_cents") < col("low_cents"))
      .count() === 0L)
    // every event lands in exactly one bucket
    assert(out.agg(sum("n_events")).head().getLong(0) ===
      Tables.events(spark, sf).count())
    // spot-exact: the busiest bucket's open equals the first event by (ts, event_id)
    val busiest = out.orderBy(col("n_events").desc).head()
    val first = Tables.events(spark, sf)
      .filter(col("user_id") === busiest.getLong(0) &&
        date_trunc("hour", col("ts")) === busiest.get(1))
      .orderBy(col("ts"), col("event_id")).head()
    assert(busiest.getAs[Long]("open_cents") ===
      math.round(first.getAs[Double]("value") * 100))
    out.unpersist()
  }

  test("w14 cumulative distinct: monotone, ends at the true distinct count, prefix-exact") {
    val out = q("w14_cumulative_distinct").cache()
    val c = Domain.commits(spark, sf)
    // ends at the corpus-wide distinct-miner count
    assert(out.orderBy(col("height").desc).head().getLong(2) ===
      c.select("leader_key_address").distinct().count())
    // monotone non-decreasing, and new-miner counts sum to the cum
    val w = org.apache.spark.sql.expressions.Window.orderBy("height")
    assert(out.withColumn("prev", lag("cum_miners", 1).over(w))
      .filter(col("prev").isNotNull && col("cum_miners") < col("prev"))
      .count() === 0L)
    // spot-exact: at an interior height, cum equals a direct per-prefix
    // COUNT(DISTINCT) — the definition the first-seen decomposition replaces
    val mid = out.select("height").collect().map(_.getLong(0)).sorted
      .apply(out.count().toInt / 2)
    val direct = c.filter(col("stacks_block_height") <= mid)
      .select("leader_key_address").distinct().count()
    assert(out.filter(col("height") === mid).head().getLong(2) === direct)
    out.unpersist()
  }

  test("w13 grid is dense and observed rows carry the exact milli fee") {
    val latest = 256L
    val out = q("w13_interpolate").cache()
    val nAddr = out.select("address").distinct().count()
    assert(out.count() === nAddr * latest, "grid not dense")
    assert(out.filter(col("fee_milli").isNull).count() === 0L)
    // observed rows: fee_milli is exactly 1000x the per-height fee sum
    val hi = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0)
    val perH = Domain.commits(spark, sf)
      .filter(col("stacks_block_height") > hi - latest)
      .groupBy(col("leader_key_address").as("address"),
        col("stacks_block_height").as("height"))
      .agg(sum("burn_fee").as("fee_h"))
    val obs = out.filter(col("observed")).join(perH, Seq("address", "height"))
    assert(obs.filter(col("fee_milli") =!= col("fee_h") * 1000L).count() === 0L)
    assert(obs.count() === perH.count(), "observed flag disagrees with the data")
    out.unpersist()
  }

  test("w13 interpolated values stay between their neighboring anchors") {
    // linear interpolation with clamped edges can never leave the envelope
    // of the two nearest observed values; check against the per-address
    // running envelope of observed milli fees on both sides
    val out = q("w13_interp_64").cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("address").orderBy("height")
    val back = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val fwd = w.rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val obsMilli = when(col("observed"), col("fee_milli"))
    val env = out
      .withColumn("pv", last(obsMilli, ignoreNulls = true).over(back))
      .withColumn("nv", first(obsMilli, ignoreNulls = true).over(fwd))
      .filter(!col("observed") && col("pv").isNotNull && col("nv").isNotNull)
    val outside = env.filter(
      col("fee_milli") < least(col("pv"), col("nv")) ||
        col("fee_milli") > greatest(col("pv"), col("nv"))).count()
    assert(outside === 0L)
    out.unpersist()
  }
}
