package graft

import org.apache.spark.sql.functions._

/** Invariants for the coverage-gap operators (salted agg, approx distinct,
  * vocab, variant dispatch, stage compare, explode round-trip). */
class CoverageSpec extends SparkSpec {
  test("every exact-groundtruth query has a registered, oracle-gated capped twin") {
    // the scale-tier tag (ScaleTiers) must never orphan: skipping an exact
    // form at scale is only sound while its bounded twin exists in BOTH
    // the registry and the oracle gate — and the tagged exact form itself
    // must stay registered (it is the ground truth the twin's laws check)
    val qs = SparkEntry.queries.keySet
    // dynamic (dir-dependent) oracles count: they reach the same Verify
    // gate via oracleSqlFor — their key sets are declared statically so
    // this check doesn't have to train a codebook to see them (d7b)
    val os = SparkEntry.oracleSql.keySet ++
      operators.Dedup.dynamicOracleKeys ++
      operators.Similarity.dynamicOracleKeys
    ScaleTiers.exactGroundtruth.foreach { case (exact, twin) =>
      assert(qs.contains(exact), s"tagged exact form $exact not registered")
      assert(qs.contains(twin), s"$exact's capped twin $twin not registered")
      assert(os.contains(twin), s"$exact's capped twin $twin has no oracle")
    }
    // the skip decision is data-driven and OFF at gate scale
    assert(ScaleTiers.skippedAt(spark, sf).isEmpty)
  }

  test("a15 salted aggregation equals the plain aggregation") {
    val salted = q("a15_salted_leaderboard")
    val plain = Domain.commits(spark, sf)
      .groupBy(col("leader_key_address"))
      .agg(count(lit(1)).as("total_mined"), sum(col("burn_fee")).as("miner_burned"))
    assert(salted.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(salted.select(plain.columns.map(col): _*)).count() === 0L)
  }

  test("a16 approx distinct is within 5% of exact") {
    // the registered query carries the bound as booleans (oracle-gated);
    // re-derive the raw-estimate bound here so a vacuous TRUE can't hide
    // a broken sketch
    val r = q("a16_approx_distinct").head()
    val (em, eh) = (r.getLong(0), r.getLong(1))
    assert(r.getBoolean(2) && r.getBoolean(3))
    val raw = Domain.commits(spark, sf).agg(
      approx_count_distinct(col("leader_key_address"), 0.02),
      approx_count_distinct(col("stacks_block_height"), 0.02)).head()
    assert(math.abs(raw.getLong(0) - em).toDouble / em <= 0.05)
    assert(math.abs(raw.getLong(1) - eh).toDouble / eh <= 0.05)
    // the oracle-gated exact half agrees with a16's own exact columns
    val x = q("a16_exact_distinct").head()
    assert((x.getLong(0), x.getLong(1)) === ((em, eh)))
  }

  test("a19 sketch rollup: daily error <= 5%, union of dailies == one-pass sketch") {
    // every registered row (daily + ALL) must carry a true est_ok — the
    // same predicate the oracle pins as TRUE
    val out = q("a19_sketch_rollup")
    assert(out.filter(!col("est_ok")).count() === 0L)
    // MERGEABILITY, on the raw estimates (the registered query only
    // exposes the bound): the union of per-day sketches must equal the
    // one-pass global sketch register for register — same estimate, exactly
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val unionEst = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      .head().getLong(0)
    val direct = ev
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))))
      .head().getLong(0)
    assert(unionEst === direct)
    // and the raw global estimate really is within the gated 5% bound
    val exact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    assert(math.abs(direct - exact).toDouble / exact <= 0.05)
    // the exact twin agrees with the raw table
    assert(q("a19_exact_by_day").agg(sum("n_events")).head().getLong(0) ===
      Tables.events(spark, sf).count())
  }

  test("a25 sketch-window MAU: exact column equals a24, bound holds, raw est within 5%") {
    val out = q("a25_sliding_mau_sketch").cache()
    assert(out.filter(!col("est_ok")).count() === 0L)
    // the exact trailing count must be a24's, row for row
    val a24m = q("a24_sliding_mau").select(col("day"), col("mau_7d"))
    assert(out.select(col("day"), col("mau_7d")).exceptAll(a24m).count() === 0L)
    assert(a24m.exceptAll(out.select(col("day"), col("mau_7d"))).count() === 0L)
    // re-derive the raw window estimates (the registered query only
    // exposes the bound) and check them against exact directly — and
    // through the MERGED store, proving the window read composes with
    // incremental maintenance
    val ev = Tables.events(spark, sf)
    val split = col("event_id") % 2 === 0
    val empty = spark.emptyDataFrame.select(
      lit(null).cast("date").as("day"), lit(null).cast("binary").as("sk"))
      .filter(lit(false))
    val state = streaming.EventStream.mergeUserSketches(
      streaming.EventStream.mergeUserSketches(empty, ev.filter(split)), ev.filter(!split))
    val days = state.select(col("day")).distinct()
    val est = state
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("day"), col("sk"))
      .select(date_add(col("day"), col("k")).as("day"), col("sk"))
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val bad = est.join(a24m, Seq("day"))
      .filter(abs(col("est") - col("mau_7d")) >
        col("mau_7d").cast("double") * 0.05)
    assert(bad.count() === 0L)
    out.unpersist()
  }

  test("pr11 cardinality profile: exact counts verified per column, bounds hold") {
    val out = q("pr11_cardinality").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val docs = Tables.documents(spark, sf)
    for ((c, (exact, ok)) <- out) {
      assert(ok, s"$c est bound")
      assert(exact === docs.select(col(c)).distinct().count(), s"$c exact")
      // re-derive the raw sketch bound so a vacuous TRUE can't hide drift
      val raw = docs.agg(approx_count_distinct(col(c), 0.02)).head().getLong(0)
      assert(math.abs(raw - exact).toDouble / math.max(exact, 1L) <= 0.05, s"$c raw")
    }
    assert(out.keySet === Set("doc_id", "lang", "n_chars", "source"))
  }

  test("a22 quantile rollup: each p-lo is the target order statistic's bin edge") {
    val out = q("a22_quantile_rollup").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // independent recomputation: the histogram rule must return EXACTLY
    // the bin lower edge of the ⌈bp·n/10⁴⌉-th smallest value
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).cast("string").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def expect(cents: Seq[Long]): (Long, Long, Long, Long) = {
      val s = cents.sorted
      def pLo(bp: Long): Long = {
        val t = ((bp * s.length + 9999L) / 10000L).toInt
        math.max(math.min(s(t - 1) / operators.Aggregations.QBinWidth,
          operators.Aggregations.QMaxBin), 0L) * operators.Aggregations.QBinWidth
      }
      (s.length.toLong, pLo(5000L), pLo(9000L), pLo(9900L))
    }
    ev.groupBy(_._1).foreach { case (day, xs) =>
      assert(out(day) === expect(xs.map(_._2).toSeq), s"day $day")
    }
    assert(out("ALL") === expect(ev.map(_._2).toSeq))
    assert(out.size === ev.map(_._1).distinct.length + 1)
  }

  test("a23 rolling quantiles equal a join-based trailing-window recompute") {
    // independent formulation: day×day range join over the state instead
    // of the contribution explode — same result proves the explode covers
    // exactly the [d-6, d] window
    val h = operators.Aggregations.histState(Tables.events(spark, sf))
    val days = h.select(col("day").as("wday")).distinct()
    val joined = h.join(days,
        datediff(col("wday").cast("date"), col("day").cast("date")).between(0, 6))
      .groupBy(col("wday"), col("bin")).agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a23's windowed histogram, reconstructed from its quantile read input:
    // recompute the same explode the query uses
    val contrib = h
      .select(explode(sequence(lit(0), lit(6))).as("k"),
        col("day"), col("bin"), col("n"))
      .select(date_add(col("day").cast("date"), col("k"))
        .cast("string").as("day"), col("bin"), col("n"))
      .join(h.select(col("day")).distinct(), Seq("day"), "left_semi")
      .groupBy(col("day"), col("bin")).agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(contrib === joined)
    // and the registered read over it has one row per observed day, with
    // each day's window total >= that day's own count
    val own = q("a22_quantile_rollup").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = q("a23_rolling_quantiles").collect()
    assert(out.length === own.size - 1) // a22 adds the ALL row
    out.foreach { r =>
      assert(r.getLong(1) >= own(r.getString(0)), s"day ${r.getString(0)}")
    }
  }

  test("a24 sliding MAU equals a brute-force trailing-window distinct recount") {
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    val days = ud.map(_._2).distinct.sorted
    def d2e(s: String) = java.time.LocalDate.parse(s).toEpochDay
    val expect = days.map { d =>
      val lo = d2e(d) - 6
      d -> ud.filter(p => d2e(p._2) >= lo && d2e(p._2) <= d2e(d))
        .map(_._1).distinct.length.toLong
    }.toMap
    val out = q("a24_sliding_mau").collect()
    assert(out.length === days.length)
    out.foreach { r =>
      val day = r.getDate(0).toString
      assert(r.getLong(2) === expect(day), s"day $day")
      assert(r.getLong(2) >= r.getLong(1)) // window ⊇ the day itself
    }
  }

  test("a22b: the fine grain refines the coarse one within a coarse bin") {
    // both grains floor the SAME order statistic (clamp caps coincide at
    // 100,000 cents), so coarse <= fine < coarse + 500 per percentile
    val coarse = q("a22_quantile_rollup").collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val fine = q("a22b_quantile_fine").collect()
    assert(fine.nonEmpty)
    fine.foreach { r =>
      val (c50, c90, c99) = coarse(r.getString(0))
      for ((c, f) <- Seq((c50, r.getLong(2)), (c90, r.getLong(3)), (c99, r.getLong(4))))
        assert(c <= f && f < c + 500L, s"day ${r.getString(0)}: coarse $c fine $f")
    }
  }

  test("tx5 vocab: tf >= df, descending tf, at most 100 terms") {
    val rows = q("tx5_vocab").collect()
    assert(rows.length <= 100)
    assert(rows.forall(r => r.getLong(1) >= r.getLong(2)))
    assert(rows.map(_.getLong(1)).sliding(2).forall(p => p.head >= p.last))
  }

  test("f7 variant dispatch splits rows by line parity") {
    val df = q("f7_op_variant_dispatch")
    val even = Tables.lineitem(spark, sf).filter(col("l_linenumber") % 2 === 0).count()
    assert(df.filter(col("op_type") === "commit").count() === even)
    // a commit row never carries an address; a register never a fee
    assert(df.filter(col("op_type") === "commit" && col("address") =!= 0L).count() === 0L)
    assert(df.filter(col("op_type") === "key_register" && col("burn_fee") =!= 0L).count() === 0L)
  }

  test("j11 stage compare emits one row with a boolean verdict") {
    val r = q("j11_stage_compare").collect()
    assert(r.length === 1)
    assert(r.head.getBoolean(2) === (r.head.getLong(0) == r.head.getLong(1)))
  }

  test("r1 explode round-trips the nest: row count equals the fact table") {
    assert(q("r1_explode_commits").count() === Tables.lineitem(spark, sf).count())
  }

  /** Scale invariant (VERDICT r2 item 1): a Window with no PARTITION BY
    * funnels its whole input through ONE task. That is only acceptable over
    * an input already reduced by aggregation or a limit (bounded by group
    * cardinality / k, not fact rows). Every total-order prefix query (a6,
    * a7, p2) must use the bucketed two-pass form instead. */
  test("no registered query windows over the raw fact table without PARTITION BY") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LocalLimit, LogicalPlan, Window => LWindow}
    // A window input is BOUNDED iff its own chain reaches a limit or a
    // BOUNDING aggregation before any leaf; a join is bounded only if EVERY
    // branch is — collecting over the whole subtree (the r3 form) would let
    // a raw fact table joined to some aggregated bound slip through on the
    // bound's Aggregate (ADVICE r3).
    //
    // TIGHTENED (VERDICT r7 item 2): an Aggregate no longer bounds
    // unconditionally — grouping by a raw unbounded-cardinality column
    // (height, ts_sec, doc_id) yields a relation that still grows with the
    // data, and a partition-less window over it funnels that growth through
    // one task (w14's old shape). An Aggregate bounds iff it is global
    // (no keys → 1 row) or at least one grouping key is a COMPUTED
    // range-bucketing expression (floor/div/date_trunc over a column —
    // a6's carry relations: one row per PrefixBucket-wide range, so
    // cardinality is data-cardinality ÷ width and the window input is the
    // metadata-sized carry table, never the grid itself).
    import org.apache.spark.sql.catalyst.expressions.Alias
    def isBucketing(e: Expression): Boolean = e match {
      case _: Attribute => false
      case other =>
        val cls = other.getClass.getSimpleName
        cls == "Floor" || cls == "IntegralDivide" || cls == "Divide" ||
          cls == "TruncTimestamp" || cls == "TruncDate" ||
          other.children.exists(isBucketing)
    }
    // Grouping keys are usually AttributeReferences whose computation
    // (floor(height / 1024)) lives in a child Project — resolve through
    // every Alias in the plan before classifying (exprIds are stable
    // within one optimized plan).
    def aliasMap(p: LogicalPlan): Map[Long, Expression] = {
      val m = scala.collection.mutable.Map[Long, Expression]()
      p.foreach {
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          pr.projectList.foreach { case a: Alias => m(a.exprId.id) = a.child; case _ => }
        case ag: Aggregate =>
          ag.aggregateExpressions.foreach { case a: Alias => m(a.exprId.id) = a.child; case _ => }
        case _ =>
      }
      m.toMap
    }
    def expand(e: Expression, m: Map[Long, Expression], depth: Int = 10): Expression = {
      val e2 = e.transform {
        case ar: AttributeReference if m.contains(ar.exprId.id) => m(ar.exprId.id)
      }
      if (depth == 0 || e2.fastEquals(e)) e2 else expand(e2, m, depth - 1)
    }
    def aggBounds(a: Aggregate, m: Map[Long, Expression]): Boolean =
      a.groupingExpressions.isEmpty ||
        a.groupingExpressions.exists(g => isBucketing(expand(g, m)))
    def boundedIn(m: Map[Long, Expression])(p: LogicalPlan): Boolean = {
      def bounded(p: LogicalPlan): Boolean = p match {
        case a: Aggregate => aggBounds(a, m)
        case _: GlobalLimit | _: LocalLimit => true
        case j: Join => j.children.forall(bounded)
        case u if u.children.length == 1 => bounded(u.children.head)
        case other if other.children.nonEmpty => other.children.forall(bounded)
        case _ => false // leaf relation: unbounded
      }
      bounded(p)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = q(name).queryExecution.optimizedPlan
      val m = aliasMap(plan)
      val bad = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !boundedIn(m)(w.child) => w
      }
      if (bad.nonEmpty) Seq(name) else Nil
    }
    assert(offenders.isEmpty,
      s"partition-less window over unbounded input in: ${offenders.mkString(", ")}")
  }

  /** Linear-time windows: Spark evaluates a frame that starts below the
    * partition's first row and runs to its end — (CURRENT ROW, UNBOUNDED
    * FOLLOWING), (1 FOLLOWING, UNBOUNDED FOLLOWING) — by re-aggregating the
    * rest of the partition at every row, O(n²) per partition. Reverse the
    * order into a running frame, or aggregate the whole partition. */
  test("no registered query plans a shrinking (k, UNBOUNDED FOLLOWING) window frame") {
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      q(name).queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
        case w: WindowExpression => w.windowSpec.frameSpecification match {
          case f: SpecifiedWindowFrame =>
            f.upper == UnboundedFollowing && f.lower != UnboundedPreceding
          case _ => false
        }
        case _ => false
      }))
    }
    assert(offenders.isEmpty,
      s"shrinking window frame in: ${offenders.mkString(", ")}")
  }

  /** Scale invariant (VERDICT r3 item 1): IVF cell assignment must be
    * row-local (a fold over the broadcast codebook array), never a Window
    * keyed by vec_id — that form shuffles and sorts k× the vector set to
    * compute a per-row argmax. The surviving windows in these plans
    * partition by q_id (per-query top-k over bounded candidates). */
  test("IVF assignment plans no window over the vector set") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("x3_ann_ivf", "x3b_ann_ivf_trained", "x4_ann_recall")) {
      val bad = q(name).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.exists(
          _.references.exists(_.name == "vec_id")) => w
      }
      assert(bad.isEmpty, s"$name windows over the vector set (vec_id)")
    }
  }

  /** Companion invariant: every cross join visible in a registered plan is
    * a deliberate 1-row broadcast (bounds, totals, seams) that plans as a
    * broadcast nested-loop — an unhinted CartesianProductExec would mean
    * two big sides multiplying. Scope: the FINAL plan only; joins that run
    * eagerly inside localCheckpoint loops (fork walk, d6 rounds, k-means)
    * are not visible here and rely on their builders' explicit
    * equi-join/broadcast shapes. */
  test("no registered query plans an un-broadcast cartesian product") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      q(name).queryExecution.executedPlan.toString
        .contains("CartesianProduct")
    }
    assert(offenders.isEmpty,
      s"CartesianProductExec in: ${offenders.mkString(", ")}")
  }
}
