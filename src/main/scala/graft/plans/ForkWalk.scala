package graft.plans

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G1 — canonical-fork selection (rpc.js:92-125, 277-318) and P2 — the
  * chain-linkage filter (rpc.js:156-175): the reference's two
  * parent-pointer-dependent operators.
  *
  * The fork tree is derived deterministically from `orders`: a main chain
  * (one block per orderkey, parent = previous key's hash) plus 3-block side
  * branches rooted at every 97th height — so the walk has real forks to
  * reject. Both engines derive the identical table (md5-keyed), and DuckDB
  * oracles the walk with WITH RECURSIVE.
  *
  * Scale design: the walk is POINTER DOUBLING — the reached set S and the
  * 2^k-ancestor jump table both double each round, so a depth-D chain needs
  * O(log D) self-joins instead of D sequential probes (rpc.js walks
  * one-by-one; that shape can never distribute). Each round is
  * localCheckpoint'ed: lineage stays constant-depth, and the loop stops at
  * fixpoint. The walk range is bounded by the reference's own
  * startblock/endblock parameterization (rpc.js:285-288).
  */
object ForkWalk {
  type Q = (SparkSession, String) => DataFrame

  /** Trailing-window size for the walk (P4 range semantics, rpc.js:13-21).
    * 1000 keeps the DuckDB recursive oracle O(depth·n) tractable — the
    * Spark side's doubling walk is O(n log depth) and doesn't care. */
  private val WalkWindow = 1000L

  private def h(prefix: String, k: org.apache.spark.sql.Column) =
    md5(concat(lit(prefix), k.cast("string")))

  /** Derived block tree: main chain + 3-block side branches every 97th key,
    * restricted to the trailing [tip-window+1, tip] height range. `window`
    * carries the reference's startblock/endblock parameterization
    * (rpc.js:285-288) as a real argument. */
  private[plans] def chainTable(s: SparkSession, d: String,
                                window: Long = WalkWindow): DataFrame = {
    val o = Tables.orders(s, d)
    // literal tip (the memoized scalar w5/w13/a12 already share): the
    // trailing-window predicate now reaches the orders scan's PushedFilters
    // — the crossJoin(broadcast(max)) form kept the filter above the scan
    // and cost a SECOND full orders pass for the max (18.9 s of g1's sf100
    // wall was these two scans; r14)
    val hi = graft.operators.Windows.ordersTipOf(s, d)
    val keys = o.select(col("o_orderkey").as("k"))
      .filter(col("k") > hi - window)
    val main = keys.select(
      h("m", col("k")).as("block_hash"),
      h("m", col("k") - 1).as("parent_hash"),
      col("k").as("height"))
    val branch = keys.filter(col("k") % 97 === 0)
      .select(col("k"), explode(sequence(lit(1), lit(3))).as("i"))
      .select(
        md5(concat(lit("b"), col("k").cast("string"), lit(":"),
          col("i").cast("string"))).as("block_hash"),
        when(col("i") === 1, h("m", col("k") - 1))
          .otherwise(md5(concat(lit("b"), col("k").cast("string"), lit(":"),
            (col("i") - 1).cast("string")))).as("parent_hash"),
        (col("k") - 1 + col("i")).as("height"))
    main.unionByName(branch)
  }

  /** Canonical chain of `blocks` (block_hash, parent_hash, height): all
    * ancestors of the deepest tip (ties: max hash), via pointer doubling.
    *
    * `maxDepth` bounds the walk: after k rounds the reached set covers
    * ancestor distances [0, 2^k), so ⌈log₂ maxDepth⌉ rounds suffice — the
    * round count is KNOWN up front and no per-round fixpoint count is
    * needed — that removes one driver-blocking job per round (VERDICT r2
    * item 7: g1 was the slowest query purely from those actions; measured:
    * lazy checkpoints are WORSE — the chained-AQE mega-plan re-optimizes
    * per stage — so rounds stay eager, just count-free). */
  /** Rounds the doubling walk needs for a depth-`maxDepth` chain:
    * ⌈log₂(maxDepth−1)⌉, never less than 1 — exposed so the deep-chain
    * stress spec can assert the logarithmic bound arithmetically. */
  private[graft] def roundsFor(maxDepth: Long): Int = math.max(1,
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxDepth - 1)))

  /** RDD POINTER DOUBLING (r14, the graph-family round-loop doctrine — see
    * PageRank.ranksOf): the DataFrame loop paid per-round Catalyst analysis
    * + codegen + an eager checkpoint job (the measured floor that made g1
    * ~2–3 s at EVERY scale); the RDD rounds are plain keyed joins with no
    * per-round plan and need no eager materialization at all — lineage is
    * ⌈log₂ depth⌉ stages deep, walked ONCE by the scheduler when the final
    * join runs. Same doubling algebra, same no-distinct disjointness
    * argument (comments below), exact string-key set semantics — golden
    * fixtures and the recursive-CTE oracle unchanged. */
  def canonicalChain(blocks: DataFrame, maxDepth: Long = WalkWindow + 3): DataFrame = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.storage.StorageLevel
    val rounds = roundsFor(maxDepth)
    val spark = blocks.sparkSession
    val hpRaw = blocks.select(col("block_hash"), col("parent_hash"),
        col("height")).rdd
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
    val part = new org.apache.spark.HashPartitioner(math.max(1, math.min(
      spark.sparkContext.defaultParallelism, hpRaw.getNumPartitions)))
    // one derivation of the block relation serves the tip reduce, the jump
    // map, and (via the output join below) nothing else — blocks itself is
    // scanned once more by the final DataFrame join, keeping this generic
    // over the caller's schema
    val hp = hpRaw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // tip: max by (height, hash) — one reduce, the only eager job here
    val tip = hp.map { case (h, (_, ht)) => (ht, h) }
      .reduce((a, b) => if (a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)) a else b)
      ._2
    var reached: RDD[(String, Unit)] =
      spark.sparkContext.parallelize(Seq((tip, ())), 1)
    var jump: RDD[(String, String)] = hp.mapValues(_._1)
    for (k <- 1 to rounds) {
      // increment := jump_k(S_k). After k rounds S covers ancestor distances
      // [0, 2^k) and jump maps +2^k, so the increment covers [2^k, 2^(k+1))
      // — DISJOINT from S (ancestors of one tip form a path; distances are
      // unique). No distinct() needed; past-genesis rounds add nothing
      // (inner join on an emptied jump map).
      // `part` is passed EXPLICITLY to every join: without it Spark sizes
      // the join to the max parent partition count (spark.default.parallelism
      // is not a set conf key in local mode), and since the union below sums
      // partition counts, the partition count — and with it the task count —
      // DOUBLED per round (measured: 40 960 tasks in round 13's union at
      // depth 10⁴, 24 GB of shuffle scratch at depth 10⁵).
      val inc = reached.join(jump, part).map { case (_, (_, a)) => (a, ()) }
      // jump := jump ∘ jump — 2^k-step ancestor map; empties past genesis.
      // Not composed after the final increment.
      if (k < rounds)
        jump = jump.map { case (h, a) => (a, h) }.join(jump, part)
          .map { case (_, (h, a2)) => (h, a2) }
      // persist (lazily — blocks fill as the final job's stages complete):
      // round k's join otherwise re-evaluates the whole union chain of
      // earlier increments, a quadratic re-read over the rounds
      reached = reached.union(inc).persist(StorageLevel.MEMORY_AND_DISK)
    }
    val reachedDf = spark.createDataFrame(
      reached.map { case (h, _) => Row(h) },
      StructType(Seq(StructField("block_hash", StringType))))
    blocks.join(reachedDf, "block_hash")
  }

  /** G1 query — canonical rows of the derived fork tree. */
  private val g1: Q = (s, d) =>
    canonicalChain(chainTable(s, d))
      .select(col("height"), col("block_hash"))
      .orderBy(col("height"), col("block_hash"))

  /** G2 — branch registry (rpc.js:311-318): every branch of the block tree
    * as (tip, tip height, depth, root), where a tip is a block no other
    * block points at, depth counts the blocks from the tip back to its
    * in-window root, and root is that deepest reachable ancestor.
    *
    * Scale design: BINARY LIFTING. The 2^k-ancestor maps J_0..J_K are the
    * same doubling tables the canonical walk builds (each only maps nodes
    * whose full 2^k chain exists — J_0 joins blocks to blocks, so a
    * window-edge parent pointer never fabricates a phantom node). All tips
    * then lift TOGETHER, descending k: one left join per level moves every
    * tip as far as 2^k if it can. K = ⌈log₂ maxDepth⌉ joins total for ALL
    * branches at once — never a per-branch sequential walk. */
  /** RDD BINARY LIFTING (r14 — same loop doctrine as [[canonicalChain]]):
    * the jump-table builds and the descending lift are plain keyed RDD
    * joins, no per-level Catalyst analysis or checkpoint jobs; the whole
    * registry evaluates lazily as one DAG. Identical algebra — J_0 only
    * maps nodes whose parent exists in-window, each level's left join moves
    * every tip as far as 2^k if it can — so the outputs are exact. */
  def branchRegistry(blocks: DataFrame, maxDepth: Long = WalkWindow + 3): DataFrame = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.storage.StorageLevel
    val levels = math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxDepth - 1)))
    val spark = blocks.sparkSession
    val bRaw = blocks.select(col("block_hash"), col("parent_hash"),
        col("height")).rdd
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
    val part = new org.apache.spark.HashPartitioner(math.max(1, math.min(
      spark.sparkContext.defaultParallelism, bRaw.getNumPartitions)))
    val b = bRaw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // tips: no block claims them as parent (left-anti via leftOuterJoin on
    // the distinct claimed-parent key set)
    val claimed = b.map { case (_, (p, _)) => (p, ()) }
      .reduceByKey(part, (a, _) => a)
    val tips: RDD[(String, Long)] = b.mapValues(_._2)
      .leftOuterJoin(claimed)
      .filter(_._2._2.isEmpty)
      .mapValues(_._1)
    // J_0 maps h -> parent only where the parent exists in-window
    var jump: RDD[(String, String)] =
      b.map { case (h, (p, _)) => (p, h) }.join(b)
        .map { case (p, (h, _)) => (h, p) }
    var jumps = List(jump) // jumps.head = J_k (largest step)
    for (_ <- 1 until levels) {
      // explicit `part` on every join — see canonicalChain's round comment
      jump = jump.map { case (h, a) => (a, h) }.join(jump, part)
        .map { case (_, (h, a2)) => (h, a2) }
      jumps = jump :: jumps
    }
    // descending lift: frontier is one row per tip, never wider.
    // keyed by cur: (cur, (tip_hash, tip_height, depth))
    var frontier: RDD[(String, (String, Long, Long))] =
      tips.map { case (h, ht) => (h, (h, ht, 1L)) } // count the tip itself
    jumps.zipWithIndex.foreach { case (j, i) =>
      val step = 1L << (levels - 1 - i)
      frontier = frontier.leftOuterJoin(j, part).map {
        case (cur, ((th, tht, dep), ao)) => ao match {
          case Some(a) => (a, (th, tht, dep + step))
          case None => (cur, (th, tht, dep))
        }
      }
    }
    spark.createDataFrame(
      frontier.map { case (cur, (th, tht, dep)) => Row(th, tht, dep, cur) },
      StructType(Seq(StructField("tip_hash", StringType),
        StructField("tip_height", LongType),
        StructField("depth", LongType),
        StructField("root_hash", StringType))))
  }

  /** G2 query — branch registry of the derived fork tree. Branch-tip
    * heights can collide with main-chain heights, so the order key is
    * (height desc, hash). */
  private val g2: Q = (s, d) =>
    branchRegistry(chainTable(s, d))
      .orderBy(col("tip_height").desc, col("tip_hash"))

  /** Main chain with parents corrupted at every 1009th height — P2's input
    * needs genuine linkage breaks. */
  private[graft] def linkTable(s: SparkSession, d: String): DataFrame = {
    // NOT a fanned read: the md5 chain derivation looked like a fan-out
    // candidate, but the isolated A/B measured g1/g2 ~1 s WORSE fanned
    // (the walk's repeated consumers each pay the exchange; the md5 work
    // is only ~0.5 s single-core at sf0.1) and p2 a wash
    val o = Tables.orders(s, d)
    val k = col("o_orderkey")
    o.select(
      h("m", k).as("block_hash"),
      when(k % 1009 === 0, h("x", k)).otherwise(h("m", k - 1)).as("parent_hash"),
      k.as("height"))
  }

  /** P2 query — lag-dependent chain-linkage filter: scanning height-DESC
    * from the tip, a row survives only while every link above it held
    * (rpc.js:156-175 keeps a row iff it chains to the previous KEPT row;
    * on a unique-height chain that is exactly "no broken link above me").
    *
    * Bucketed two-pass (operators.Windows.PrefixBucket scale note): the lag
    * and the suffix-max both run bucket-local in parallel; the only
    * cross-bucket state is one row per bucket — the bucket's last hash
    * (feeds the next bucket's first lag) and whether any link in it broke
    * (suffix-OR'd over the bucket relation, then broadcast back). No
    * partition-less window ever sees the full chain. */
  private val p2: Q = (s, d) => {
    val bw = graft.operators.Windows.PrefixBucket
    val t = linkTable(s, d)
      .withColumn("bkt", floor(col("height") / bw).cast("long"))
    val byH = Window.partitionBy(col("bkt")).orderBy(col("height"))
    // ONE fact-table window stage: the lag and the bucket's newest broken
    // height share the same (bkt, height ASC) partitioning+sort. "A break
    // strictly above me" is "the newest break is above me" (heights are
    // unique), so a whole-bucket max, evaluated once per bucket, answers
    // it; a shrinking (1 FOLLOWING, UNBOUNDED) frame would re-aggregate the
    // rest of the bucket at every row.
    // internal_broken only sees WITHIN-bucket links; boundary links are
    // settled at the bucket level below.
    val w = t
      .withColumn("local_prev", lag(col("block_hash"), 1).over(byH))
      .withColumn("internal_broken",
        when(col("local_prev").isNotNull &&
          col("parent_hash") =!= col("local_prev"), 1).otherwise(0))
      .withColumn("local_above", coalesce(
        (max(when(col("internal_broken") === 1, col("height"))).over(
          byH.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) >
          col("height")).cast("int"), lit(0)))
    // (w is consumed twice — bucket agg + final join. Measured: recomputing
    // the scan+window beats caching it; the bucket agg's shuffle is one row
    // per bucket either way.)
    // bucket relation: partial-aggregated map-side, so the shuffle carries
    // one row per bucket. A bucket's "any break" = any internal break OR
    // its first link not matching the previous bucket's last hash; the
    // carry for bucket k is then any break in buckets ABOVE k. (A bucket's
    // own boundary break sits at its lowest row — below every other row in
    // it — so it belongs to the carry of lower buckets only, matching the
    // row-level semantics exactly.)
    val bkts = w.groupBy(col("bkt")).agg(
        max_by(col("block_hash"), col("height")).as("last_hash"),
        min_by(col("parent_hash"), col("height")).as("first_parent"),
        max(col("internal_broken")).as("internal_any"))
      .withColumn("prev_last", lag(col("last_hash"), 1).over(Window.orderBy(col("bkt"))))
      .withColumn("boundary_broken",
        when(col("prev_last").isNotNull &&
          col("first_parent") =!= col("prev_last"), 1).otherwise(0))
      .withColumn("bkt_any", greatest(col("internal_any"), col("boundary_broken")))
      .withColumn("carry_above", coalesce(max(col("bkt_any")).over(
        Window.orderBy(col("bkt").desc).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0)))
      .select(col("bkt"), col("carry_above"))
    // broadcast join + filter: no further shuffle of the fact rows
    w.join(broadcast(bkts), Seq("bkt"))
      .filter(greatest(col("local_above"), col("carry_above")) === 0)
      .select(col("height"), col("block_hash"))
      .orderBy(col("height"))
  }

  val queries: Map[String, Q] = Map(
    "g1_fork_walk" -> g1,
    "g2_branch_registry" -> g2,
    "p2_chain_filter" -> p2
  )

  private val chainSql =
    s"""bounds AS (SELECT max(o_orderkey) AS hi FROM orders),
       | keys AS (SELECT o_orderkey AS k FROM orders, bounds WHERE o_orderkey > hi - $WalkWindow),
       | blocks AS (
       |   SELECT md5('m' || CAST(k AS VARCHAR)) AS block_hash,
       |          md5('m' || CAST(k - 1 AS VARCHAR)) AS parent_hash,
       |          k AS height
       |   FROM keys
       |   UNION ALL
       |   SELECT md5('b' || CAST(k AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
       |          CASE WHEN i = 1 THEN md5('m' || CAST(k - 1 AS VARCHAR))
       |               ELSE md5('b' || CAST(k AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)) END,
       |          k - 1 + i
       |   FROM keys, (SELECT unnest(range(1, 4)) AS i) g WHERE k % 97 = 0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "g1_fork_walk" ->
      s"""WITH RECURSIVE $chainSql,
         | tip AS (SELECT block_hash, parent_hash, height FROM blocks
         |   ORDER BY height DESC, block_hash DESC LIMIT 1),
         | walk AS (
         |   SELECT block_hash, parent_hash, height FROM tip
         |   UNION ALL
         |   SELECT b.block_hash, b.parent_hash, b.height
         |   FROM blocks b JOIN walk w ON b.block_hash = w.parent_hash)
         | SELECT height, block_hash FROM walk ORDER BY height, block_hash""".stripMargin,
    "g2_branch_registry" ->
      s"""WITH RECURSIVE $chainSql,
         | tips AS (SELECT b.block_hash AS tip_hash, b.height AS tip_height
         |   FROM blocks b
         |   WHERE NOT EXISTS (SELECT 1 FROM blocks c WHERE c.parent_hash = b.block_hash)),
         | walk AS (
         |   SELECT t.tip_hash, t.tip_height, b.block_hash AS cur, b.parent_hash,
         |          CAST(1 AS BIGINT) AS depth
         |   FROM tips t JOIN blocks b ON b.block_hash = t.tip_hash
         |   UNION ALL
         |   SELECT w.tip_hash, w.tip_height, b.block_hash, b.parent_hash, w.depth + 1
         |   FROM walk w JOIN blocks b ON b.block_hash = w.parent_hash)
         | SELECT tip_hash, tip_height, CAST(max(depth) AS BIGINT) AS depth,
         |        max_by(cur, depth) AS root_hash
         | FROM walk GROUP BY 1, 2 ORDER BY tip_height DESC, tip_hash""".stripMargin,
    "p2_chain_filter" ->
      s"""WITH c AS (
         |   SELECT md5('m' || CAST(o_orderkey AS VARCHAR)) AS block_hash,
         |          CASE WHEN o_orderkey % 1009 = 0
         |               THEN md5('x' || CAST(o_orderkey AS VARCHAR))
         |               ELSE md5('m' || CAST(o_orderkey - 1 AS VARCHAR)) END AS parent_hash,
         |          o_orderkey AS height
         |   FROM orders),
         | w AS (SELECT height, block_hash, parent_hash,
         |   lag(block_hash) OVER (ORDER BY height) AS prev_hash FROM c),
         | w2 AS (SELECT height, block_hash,
         |   CASE WHEN prev_hash IS NOT NULL AND parent_hash <> prev_hash THEN 1 ELSE 0 END AS broken FROM w),
         | w3 AS (SELECT height, block_hash,
         |   max(broken) OVER (ORDER BY height DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS broken_above FROM w2)
         | SELECT height, block_hash FROM w3
         | WHERE broken_above IS NULL OR broken_above = 0 ORDER BY height""".stripMargin
  )
}
