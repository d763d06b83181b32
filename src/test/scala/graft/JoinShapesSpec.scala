package graft

import org.apache.spark.sql.functions._

/** The round-4 join/OLAP additions: as-of join (union-tag form), bucketed
  * range join, mixture sampling, rollup, pivot. Each scale-shaped query is
  * checked against the naive formulation it replaces — the brute-force
  * inequality join / per-level re-aggregation — so the fast plan is proven
  * equal to the obvious one, not merely to the DuckDB oracle. */
class JoinShapesSpec extends SparkSpec {

  test("w9 as-of join equals the brute-force latest-view-at-or-before join") {
    val ev = Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("event_id").as("vid"), col("ts").as("vts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    // naive: inequality join, then argmax by (vts, vid) per purchase
    val naive = purch.join(views,
        purch("user_id") === views("v_uid") && views("vts") <= purch("ts"), "left")
      .groupBy(col("purchase_id"))
      .agg(max_by(col("vid"), struct(col("vts"), col("vid"))).as("view_event_id"))
    val fast = q("w9_asof_join").select(col("purchase_id"), col("view_event_id"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("w9c forward as-of equals the brute-force earliest-view-at-or-after join") {
    val ev = Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_uid"), col("event_id").as("vid"), col("ts").as("vts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    val hourUs = 3600000000L
    // naive: inequality join bounded to the hour, then argmin by (vts, vid)
    val naive = purch.join(views,
        purch("user_id") === views("v_uid") && views("vts") >= purch("ts") &&
          unix_micros(views("vts").cast("timestamp")) <=
            unix_micros(purch("ts").cast("timestamp")) + hourUs, "left")
      .groupBy(col("purchase_id"))
      .agg(min_by(col("vid"), struct(col("vts"), col("vid"))).as("view_event_id"))
    val fast = q("w9c_asof_fwd_1h").select(col("purchase_id"), col("view_event_id"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    // the look-ahead bound bites: some purchases have no view within the hour
    assert(q("w9c_asof_fwd_1h").filter(col("view_event_id").isNull).count() > 0)
  }

  test("w9 tolerance form nulls matches older than the bound, keeps the rest") {
    val all = q("w9_asof_join")
    val tol = q("w9_asof_1h")
    val j = all.select(col("purchase_id"), col("view_event_id").as("v_all"),
        col("gap_us").as("g_all"))
      .join(tol.select(col("purchase_id"), col("view_event_id").as("v_tol"),
        col("gap_us").as("g_tol")), Seq("purchase_id"))
    assert(j.filter(col("g_all") <= 3600000000L &&
      !(col("v_tol") <=> col("v_all"))).isEmpty)
    assert(j.filter((col("g_all").isNull || col("g_all") > 3600000000L) &&
      col("v_tol").isNotNull).isEmpty)
    // the tolerance bites on this data: some matches survive, some drop
    assert(tol.filter(col("view_event_id").isNotNull).count() > 0)
    assert(tol.filter(col("view_event_id").isNull).count() >
      all.filter(col("view_event_id").isNull).count())
  }

  test("j13 bucketed range join equals the naive inequality join") {
    val dayUs = 86400000000L
    val iv = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey").as("win_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("s_us"))
      .withColumn("e_us", col("s_us") + lit(14L * dayUs))
    val probes = Tables.lineitem(spark, sf)
      .select(col("l_quantity"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
    val naive = iv.join(probes,
        col("ship_us") >= col("s_us") && col("ship_us") < col("e_us"))
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n_ship"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
    val fast = q("j13_range_join")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("j13 joins on the bucket key, not a nested loop over intervals") {
    val plan = q("j13_range_join").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "range join fell back to a nested loop")
  }

  test("px6 keep-rates hit the target mixture and the sample is deterministic") {
    val out = q("px6_mixture_sample")
    val kept = out.groupBy(col("source")).agg(count(lit(1)).as("k"))
      .withColumn("even", substring(col("source"), 4, 10).cast("long") % 2 === 0)
    val Seq(evenK, oddK) = Seq(true, false).map(e =>
      kept.filter(col("even") === e).agg(sum(col("k"))).head().getLong(0))
    // target weights 3:1 over equal-sized sources; hash draw is ±noise
    val ratio = evenK.toDouble / oddK
    assert(ratio > 2.0 && ratio < 4.5, s"even/odd kept ratio $ratio not near 3")
    // half-corpus budget, within hash-sampling noise
    val total = Tables.documents(spark, sf).count()
    val frac = out.count().toDouble / total
    assert(frac > 0.4 && frac < 0.6, s"kept fraction $frac not near 0.5")
    // deterministic: a second run is row-identical
    assert(q("px6_mixture_sample").exceptAll(out).isEmpty)
  }

  test("pr3 rollup levels are mutually consistent") {
    val out = q("pr3_rollup_profile").cache()
    val leaf = out.filter(col("gid") === 0)
    val mid = out.filter(col("gid") === 1)
    val top = out.filter(col("gid") === 3)
    assert(top.count() === 1)
    val n = Tables.documents(spark, sf).count()
    assert(top.head().getLong(2) === n)
    assert(leaf.agg(sum(col("n_docs"))).head().getLong(0) === n)
    assert(mid.agg(sum(col("n_docs"))).head().getLong(0) === n)
    out.unpersist()
  }

  test("j14 semi join equals inner-join-then-distinct and plans as LeftSemi") {
    val hits = Tables.lineitem(spark, sf).filter(col("l_quantity") > 45)
      .select(col("l_suppkey"))
    val naive = Tables.supplier(spark, sf)
      .join(hits, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey")).distinct()
    val fast = q("j14_semi_join")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    assert(fast.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "semi join lost its LeftSemi form (a rewrite to inner would duplicate rows)")
  }

  test("j15 anti join is the complement of the matching semi join") {
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val semi = Tables.customer(spark, sf)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
    val anti = q("j15_anti_join")
    assert(anti.count() > 0, "anti join is vacuous on this data — gate hashes nothing")
    assert(anti.count() + semi.count() === Tables.customer(spark, sf).count())
    assert(anti.join(semi.select(col("c_custkey")), Seq("c_custkey")).isEmpty)
  }

  test("a18 cube levels are mutually consistent") {
    val out = q("a18_event_cube").cache()
    val n = Tables.events(spark, sf).count()
    for (g <- Seq(0L, 1L, 2L))
      assert(out.filter(col("gid") === g).agg(sum(col("n_events")))
        .head().getLong(0) === n, s"gid=$g level does not sum to the corpus")
    val top = out.filter(col("gid") === 3)
    assert(top.count() === 1 && top.head().getAs[Long]("n_events") === n)
    // the cross level rollup misses: dow-only rows exist (event_type = all)
    assert(out.filter(col("gid") === 2 && col("event_type") === "(all)").count() === 7)
    out.unpersist()
  }

  test("w10 quartiles are balanced and monotone in fee within each height") {
    val out = q("w10_fee_quartile").cache()
    assert(out.filter(col("fee_quartile") < 1 || col("fee_quartile") > 4).isEmpty)
    // bucket sizes within a height differ by at most 1 (ntile contract)
    val sizes = out.groupBy(col("stacks_block_height"), col("fee_quartile"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("stacks_block_height"))
      .agg((max(col("sz")) - min(col("sz"))).as("spread"))
    assert(sizes.filter(col("spread") > 1).isEmpty)
    // monotone: a higher-fee commit never lands in a lower quartile
    val a = out.as("a"); val b = out.as("b")
    assert(a.join(b,
      col("a.stacks_block_height") === col("b.stacks_block_height") &&
        col("a.burn_fee") < col("b.burn_fee") &&
        col("a.fee_quartile") > col("b.fee_quartile")).isEmpty)
    out.unpersist()
  }

  test("pr4 heavy hitters agree with direct per-column counts") {
    val out = q("pr4_heavy_hitters").cache()
    // ranks are contiguous from 1 per column; counts non-increasing
    assert(out.groupBy("column_name").agg(min("rnk"), max("rnk"), count(lit(1)))
      .collect().forall(r => r.getLong(1) === 1L && r.getLong(2) === r.getLong(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("column_name").orderBy("rnk")
    assert(out.withColumn("prev", lag("cnt", 1).over(w))
      .filter(col("prev").isNotNull && col("cnt") > col("prev")).isEmpty)
    // the top flag value matches a direct aggregation
    val direct = Tables.lineitem(spark, sf).groupBy("l_returnflag").count()
      .orderBy(col("count").desc, col("l_returnflag")).head()
    val top = out.filter(col("column_name") === "l_returnflag" && col("rnk") === 1).head()
    assert(top.getAs[String]("value") === direct.getString(0) &&
      top.getAs[Long]("cnt") === direct.getLong(1))
    out.unpersist()
  }

  test("pr6 covariance matches a hand-computed fixture exactly") {
    val sp = spark; import sp.implicits._
    // lang aa: (x,y) = (1,1),(2,2),(3,3) — perfectly linear:
    // cov = (3·14 − 36)/9 = 2/3 → 667 milli (round-half-up), slope = 1.
    // lang bb: (x,y) = (1,2),(3,1) — anti-correlated: n·Σxy − ΣxΣy =
    // 2·5 − 12 = −2; cov = −2/4 = −0.5 → −500; slope = −2/(2·10−16) = −0.5.
    val docs = Seq(
      (1L, "w", "aa", 1L), (2L, "w w", "aa", 2L), (3L, "w w w", "aa", 3L),
      (4L, "w w", "bb", 1L), (5L, "w", "bb", 3L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = operators.Profiling.suffStatsState(docs)
    val st = out.collect().map(r => r.getString(0) -> r).toMap
    assert(st("aa").getLong(1) === 3L)
    assert(Seq(2, 3, 4, 5, 6).map(i => st("aa").getDecimal(i).longValueExact())
      === Seq(6L, 6L, 14L, 14L, 14L))
    val pr6 = q("pr6_covariance")  // registered path, real table — just shape
    assert(pr6.columns.toSeq.contains("cov_milli"))
    // fixture through the same derivation the registered query uses:
    // rebuild pr6's select over the fixture state via a tiny local frame
    val n = col("n_docs").cast("decimal(38,0)")
    val covNum = (n * col("sxy") - col("sx") * col("sy")).cast("long")
    val derived = out.select(col("lang"),
      functions.ExactRatio.scaled(covNum, (n * n).cast("long"), 1000L)
        .as("cov_milli"),
      functions.ExactRatio.scaled(covNum,
        (n * col("sx2") - col("sx") * col("sx")).cast("long"), 1000L)
        .as("slope_milli"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(derived("aa") === ((667L, 1000L)))
    assert(derived("bb") === ((-500L, -500L)))
  }

  test("pr7 flags planted orphans and null FKs through the production path") {
    val sp = spark; import sp.implicits._
    val child = Seq(Some(1L), Some(2L), Some(2L), Some(9L), None)
      .toDF("fk_col")
    val parent = Seq(1L, 2L, 3L).toDF("pk_col")
    val r = operators.Profiling
      .riEdge(child, "fk_col", parent, "pk_col", "t.fk->p").head()
    assert(r.getString(0) === "t.fk->p")
    assert(r.getLong(1) === 5L)  // n_rows
    assert(r.getLong(2) === 1L)  // n_null_fk
    assert(r.getLong(3) === 1L)  // n_orphan_rows (fk=9)
    assert(r.getLong(4) === 1L)  // n_orphan_keys
    assert(r.getLong(5) === 2000L)  // 1/5 in bp
    // the shipped graph on the consistent synthetic data: zero everywhere,
    // row counts equal the table sizes
    val out = q("pr7_ref_integrity").cache()
    assert(out.count() === 7L)
    assert(out.filter(col("n_orphan_rows") =!= 0L ||
      col("n_null_fk") =!= 0L || col("orphan_bp") =!= 0L).isEmpty)
    assert(out.filter(col("edge") === "lineitem.l_orderkey->orders")
      .head().getLong(1) === Tables.lineitem(spark, sf).count())
    out.unpersist()
  }

  test("pr8 ewma: planted spike flagged, ramp absorbed, gaps decay, BigInt recompute") {
    val sp = spark; import sp.implicits._
    import java.sql.Date
    def day(i: Int) = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    // 30 steady days at 100, a hole at day 3 (zero events), a mild bump
    // (150) at day 28, a true spike (300) at day 30; the hole sits outside
    // day 24's trailing window so that day's baseline is exactly 100
    val counts: Map[Int, Long] =
      (0 to 30).map(i => i -> 100L).toMap - 3 + (28 -> 150L) + (30 -> 300L)
    val daily = counts.toSeq.map { case (i, n) => (day(i), n) }
      .toDF("day", "n_events")
    val out = operators.Profiling.ewmaSpikes(daily).collect()
    assert(out.length === 31)  // the grid restores the hole as a zero day
    val byDay = out.map(r => r.getDate(0).toString -> r).toMap
    val hole = byDay(day(3).toString)
    assert(hole.getLong(1) === 0L && !hole.getBoolean(3))
    // exact recompute of every baseline and flag from the planted counts
    val h = operators.Profiling.EwmaHorizon
    val denom = BigInt((1L << h) - 1L)
    out.foreach { r =>
      val i = java.time.LocalDate.parse(r.getDate(0).toString).getDayOfYear - 1
      val x = BigInt(counts.getOrElse(i, 0L))
      val wsum = (1 to h).map(k =>
        BigInt(counts.getOrElse(i - k, 0L)) * BigInt(1L << (h - k))).sum
      val want = (wsum * 2000 + denom) / (denom * 2)
      assert(BigInt(r.getLong(2)) === want, s"day $i baseline")
      assert(r.getBoolean(3) === (i >= h && x * denom > 2 * wsum), s"day $i flag")
    }
    // the steady day after warmup: baseline exactly 100 (weights sum to 1)
    assert(byDay(day(24).toString).getLong(2) === 100000L)
    // the spike day flags; the mild bump does not
    assert(byDay(day(30).toString).getBoolean(3))
    assert(!byDay(day(28).toString).getBoolean(3))
    // registered path: contiguous calendar grid, cold-start days never flag
    val reg = q("pr8_ewma_spike").collect()
    val span = java.time.temporal.ChronoUnit.DAYS.between(
      reg.head.getDate(0).toLocalDate, reg.last.getDate(0).toLocalDate)
    assert(reg.length === span + 1)
    assert(reg.take(operators.Profiling.EwmaHorizon).forall(!_.getBoolean(3)))
    // the monitor reads the (day, n_events) counts alone: fed the daily
    // counts computed directly from the events, it equals registered pr8
    val daily0 = Tables.events(spark, sf)
      .groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("n_events"))
    assert(operators.Profiling.ewmaSpikes(daily0).collect().map(_.toString).toSeq ===
      reg.map(_.toString).toSeq)
  }

  test("pr9 mad: planted fixtures pin type-1 medians, zero-MAD, outliers; brute-force agrees") {
    val sp = spark; import sp.implicits._
    // "tpl": 4 docs at 10 + one at 1000 -> med 10, MAD 0, the deviant is
    // an outlier. "uni": 1..9 -> med 5, MAD 2, no outlier (max dev 4 < 10).
    // "even": 1,2,3,4 -> type-1 median = 2 (2*cum >= n at len 2), MAD 1.
    val lens = (Seq.fill(4)(10L) :+ 1000L).map(("tpl", _)) ++
      (1L to 9L).map(("uni", _)) ++ (1L to 4L).map(("even", _))
    val out = operators.Profiling.madProfile(lens.toDF("source", "len"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("tpl") === ((5L, 10L, 0L, 1L)))
    assert(out("uni") === ((9L, 5L, 2L, 0L)))
    assert(out("even") === ((4L, 2L, 1L, 0L)))
    // registered path vs a driver-side brute force over the real table
    def medOf(xs: Seq[Long]): Long = {
      val s = xs.sorted; s((xs.length - 1) / 2)  // type-1 discrete median
    }
    val bynSrc = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val reg = q("pr9_mad_profile").collect()
    assert(reg.map(_.getString(0)).toSet === bynSrc.keySet)
    reg.foreach { r =>
      val xs = bynSrc(r.getString(0))
      val med = medOf(xs)
      val mad = medOf(xs.map(x => math.abs(x - med)))
      val k = operators.Profiling.MadK
      assert(r.getLong(1) === xs.length.toLong, s"${r.getString(0)} n")
      assert(r.getLong(2) === med, s"${r.getString(0)} med")
      assert(r.getLong(3) === mad, s"${r.getString(0)} mad")
      assert(r.getLong(4) === xs.count(x => math.abs(x - med) > k * mad).toLong,
        s"${r.getString(0)} outliers")
    }
  }

  test("u3 corpus diff: all four statuses on planted snapshots; registered counts law") {
    val sp = spark; import sp.implicits._
    val v1 = Seq((1L, "s", "alpha"), (2L, "s", "beta"), (3L, "t", "gamma"))
      .toDF("doc_id", "source", "text")
    val v2 = Seq((1L, "s", "alpha"), (2L, "s", "beta CHANGED"), (9L, "t", "new"))
      .toDF("doc_id", "source", "text")
    val got = operators.JoinStrategies.corpusDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 9L -> "added"))
    // registered synthetic v2: status counts follow from the id arithmetic
    val byMod = Tables.documents(spark, sf).groupBy((col("doc_id") % 10).as("m"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = byMod.values.sum
    val counts = q("u3_corpus_diff").groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("removed") === byMod.getOrElse(3L, 0L))
    assert(counts("changed") === byMod.getOrElse(7L, 0L))
    assert(counts("added") === byMod.getOrElse(1L, 0L))
    assert(counts("unchanged") ===
      n - byMod.getOrElse(3L, 0L) - byMod.getOrElse(7L, 0L))
  }

  test("mergeUserSketches: stored + delta == one-pass sketch exactly, through parquet") {
    val ev = Tables.events(spark, sf)
    val split = col("event_id") % 3 === 0
    val empty = spark.emptyDataFrame.select(
      lit(null).cast("date").as("day"), lit(null).cast("binary").as("sk"))
      .filter(lit(false))
    // two-batch fold, with the intermediate state persisted to parquet —
    // the store must survive its own serialization, not just a lineage
    val dir = java.nio.file.Files.createTempDirectory("sketchstate").toString
    streaming.EventStream.mergeUserSketches(empty, ev.filter(split))
      .write.mode("overwrite").parquet(dir)
    val merged = streaming.EventStream.mergeUserSketches(
      spark.read.parquet(dir), ev.filter(!split))
    // register-for-register: per-day estimates equal the one-pass sketch
    val viaState = merged.select(col("day"),
      hll_sketch_estimate(col("sk")).as("est"))
    val onePass = ev.groupBy(col("ts").cast("date").as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
    assert(viaState.exceptAll(onePass).count() === 0L)
    assert(onePass.exceptAll(viaState).count() === 0L)
    // same-day re-fold is a union, not a double count: folding batch A
    // twice changes nothing (HLL observation idempotence)
    val refold = streaming.EventStream.mergeUserSketches(merged, ev.filter(split))
      .select(col("day"), hll_sketch_estimate(col("sk")).as("est"))
    assert(refold.exceptAll(viaState).count() === 0L)
    // any coarser rollup reads off the maintained state: the all-time
    // estimate from unioning daily state rows equals the direct sketch
    val allTime = merged.agg(
      hll_sketch_estimate(hll_union_agg(col("sk")))).head().getLong(0)
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id")))).head().getLong(0)
    assert(allTime === direct)
  }

  test("a17 pivot cells sum to the per-type event counts") {
    val out = q("a17_event_pivot")
    val byType = Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (t <- Seq("click", "error", "purchase", "signup", "view"))
      assert(out.agg(sum(col(t))).head().getLong(0) === byType(t), s"column $t")
  }

  test("u2 scd2: a planted change sequence builds exactly the collapsed versions") {
    val sp = spark; import sp.implicits._
    // A A B B A → versions A[10,30) B[30,50) A[50,∞): consecutive equal
    // values collapse; a repeated attribute value still re-opens later
    val ev = Seq((1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "B"), (1L, 50L, 5L, "A"), (2L, 5L, 6L, "X"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = operators.JoinStrategies.scd2Build(ev)
      .orderBy("user_id", "version_n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getLong(6)))
    assert(out.toSeq === Seq(
      (1L, 1L, "A", 10L, 30L, false, 1L),
      (1L, 2L, "B", 30L, 50L, false, 3L),
      (1L, 3L, "A", 50L, -1L, true, 5L),
      (2L, 1L, "X", 5L, -1L, true, 6L)))
  }

  test("u2 invariants: one open version per user; versions tile; no uncollapsed runs") {
    val out = q("u2_scd2_build").cache()
    // exactly one current version per user, and it's the last one
    val cur = out.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("n_cur"),
        max("version_n").as("vmax"),
        max(when(col("is_current"), col("version_n"))).as("vcur"))
    assert(cur.filter(col("n_cur") =!= 1L || col("vcur") =!= col("vmax")).isEmpty)
    // adjacency: valid_to of version k == valid_from of version k+1,
    // and consecutive versions never carry the same attribute value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("version_n")
    val adj = out.withColumn("nxt_from", lead("valid_from_us", 1).over(w))
      .withColumn("nxt_type", lead("event_type", 1).over(w))
    assert(adj.filter(col("nxt_from").isNotNull &&
      col("valid_to_us") =!= col("nxt_from")).isEmpty)
    assert(adj.filter(col("nxt_type").isNotNull &&
      col("event_type") === col("nxt_type")).isEmpty)
    // the first version opens at the user's first event
    val first = Tables.events(spark, sf).groupBy("user_id")
      .agg(min(unix_micros(col("ts").cast("timestamp"))).as("t0"))
    assert(out.filter(col("version_n") === 1L).join(first, "user_id")
      .filter(col("valid_from_us") =!= col("t0")).isEmpty)
    out.unpersist()
  }

  test("j18 pit join: every event sees its own state; tie cases resolve by (ts, id)") {
    val sp = spark; import sp.implicits._
    // every fact matched exactly once, and — because facts ARE the change
    // source — each event's matched version carries the event's own type
    val out = q("j18_pit_join").cache()
    val ev = Tables.events(spark, sf)
    assert(out.count() === ev.count())
    assert(out.groupBy("event_id").count().filter(col("count") > 1L).isEmpty)
    assert(out.filter(col("version_n").isNull).isEmpty)
    assert(out.join(ev.select(col("event_id"), col("event_type")), "event_id")
      .filter(col("dim_event_type") =!= col("event_type")).isEmpty)
    out.unpersist()
    // planted ties: two versions open at the SAME ts (ids 1,2); the
    // opening event matches ITS version, not the later same-ts one; a
    // fact before any version gets nulls (left edge is explicit)
    val src = Seq((1L, 10L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "B"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val versions = operators.JoinStrategies.scd2Build(src)
    val facts = src.select(col("user_id"), col("ts_us"), col("event_id"))
      .unionByName(Seq((1L, 5L, 0L)).toDF("user_id", "ts_us", "event_id"))
    val got = operators.JoinStrategies.pitJoin(facts, versions)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) "-" else r.getString(4)))
    assert(got.toSeq === Seq((0L, -1L, "-"), (1L, 1L, "A"),
      (2L, 2L, "B"), (3L, 2L, "B")))
  }

  test("j16 salted join equals the unsalted join, row for row") {
    val c = Domain.commits(spark, sf)
    val dim = Tables.supplier(spark, sf).select(col("s_suppkey"), col("s_nationkey"))
    val plain = c.join(dim, c("leader_key_address") === dim("s_suppkey"))
      .select(col("stacks_block_height"), col("vtxindex"), col("burn_fee"),
        col("s_nationkey"))
    val salted = q("j16_salted_join")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("j16 plan joins on the salt and hashes instead of broadcasting") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val qe = q("j16_salted_join").queryExecution
    // the salt is a real equi-join key in the optimized plan
    val saltKeyed = qe.optimizedPlan.collect {
      case j: Join if j.condition.exists(
        _.references.exists(_.name == "salt")) => j
    }
    assert(saltKeyed.nonEmpty, "salt is not a join key")
    // and the physical strategy is the hinted shuffled-hash build, not a
    // broadcast (which would make the salting dead weight)
    val phys = qe.sparkPlan.toString
    assert(phys.contains("ShuffledHashJoin"), phys.linesIterator.take(8).mkString("\n"))
  }

  test("j17 bloom prune equals the plain join, and the bloom never drops a match") {
    val li = Tables.lineitem(spark, sf)
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    val plain = li.join(urgent, col("l_orderkey") === col("k"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
    val fast = q("j17_bloom_prune")
    assert(fast.exceptAll(plain).isEmpty && plain.exceptAll(fast).isEmpty)
  }

  test("j17 bloom prunes hard: no false negatives, false-positive rate under 1%") {
    import graft.operators.JoinStrategies
    val li = Tables.lineitem(spark, sf)
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    val words = JoinStrategies.bloomBuild(urgent)
    val tested = li.withColumn("bloom_words", typedlit(words.toSeq))
    val passed = tested.filter(JoinStrategies.bloomHit("l_orderkey")).count()
    val trueMatches = li.join(urgent, col("l_orderkey") === col("k"), "left_semi").count()
    val total = li.count()
    assert(passed >= trueMatches, "bloom dropped a true match")
    val nonMatching = total - trueMatches
    assert(passed - trueMatches <= nonMatching / 100,
      s"fp rate ${(passed - trueMatches).toDouble / nonMatching} over 1%")
    // and the prune is real: most non-matching rows never reach the join
    assert(passed < total / 2, s"bloom barely pruned: $passed of $total")
  }

  test("u1 merge is idempotent on (key, balance, nation)") {
    import graft.operators.JoinStrategies
    val once = q("u1_merge_upsert")
    // feed the merged output back through the merge as the new base
    val asBase = once.select(col("c_custkey"),
      (col("bal_cents") / 100.0).as("c_acctbal"), col("c_nationkey"))
    val feed = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey").as("k"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("new_bal"))
      .select(col("k"), when(col("k") % 10 === 0, "D").otherwise("U").as("op"),
        col("new_bal"))
      .unionByName(Tables.supplier(spark, sf).select(
        (col("s_suppkey") + 1000000L).as("k"), lit("U").as("op"),
        round(col("s_acctbal") * 100).cast("long").as("new_bal")))
    val twice = JoinStrategies.mergeUpsert(asBase, feed)
    val a = once.select("c_custkey", "bal_cents", "c_nationkey")
    val b = twice.select("c_custkey", "bal_cents", "c_nationkey")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("u1 actions: inserts are the supplier feed, deletes vanish, updates rebalance") {
    val out = q("u1_merge_upsert").cache()
    val nSupp = Tables.supplier(spark, sf).count()
    assert(out.filter(col("action") === "insert").count() === nSupp)
    // every deleted key (urgent customer, key % 10 == 0) is absent
    val deleted = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_custkey") % 10 === 0)
      .select(col("o_custkey").as("c_custkey")).distinct()
    assert(out.join(deleted, Seq("c_custkey"), "left_semi").isEmpty)
    // kept rows carry the base balance untouched
    val base = Tables.customer(spark, sf).select(col("c_custkey"),
      round(col("c_acctbal") * 100).cast("long").as("base_bal"))
    assert(out.filter(col("action") === "keep").join(base, Seq("c_custkey"))
      .filter(col("bal_cents") =!= col("base_bal")).isEmpty)
    out.unpersist()
  }
}
