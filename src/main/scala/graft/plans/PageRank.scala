package graft.plans

import graft.Tables
import graft.functions.ExactRatio
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G3/G4 — graph analytics: PageRank centrality and triangle counting —
  * the influence and community-density probes an entity-graph pipeline
  * runs, beyond the fork-walk's path queries and the dedup layer's
  * connected components.
  *
  * Substrate (the ForkWalk doctrine): the graph is DERIVED deterministically
  * from a base table so both engines construct the identical edge set — a
  * path-with-chords over the contiguous customer key space (edges k→k+1
  * and k→k+2), sparse at every scale (degree ≤ 4), with a closed-form
  * triangle count (N−2) the spec verifies exactly. The tempting "natural"
  * graphs in this corpus fail at one scale or another: supplier co-part
  * adjacency is measured COMPLETE at sf0.1 (C(1000,2) edges — wedge
  * generation explodes), and user co-activity has zero triangles below
  * sf0.1 (too sparse to gate). Picking the graph is part of designing the
  * operator; [[ranksOf]] and the ordered-edge triangle pattern are
  * graph-generic and spec-driven on independent fixtures.
  *
  * Scale shape: classic Pregel-as-joins. The degree-annotated edge list is
  * materialized ONCE (localCheckpoint — every PageRank round reuses it,
  * the same eager-round discipline as ForkWalk/connectedComponents); each
  * of the fixed [[Iters]] rounds is one equi-join (rank → edges) and one
  * map-side-partial aggregation (contributions → nodes), so a round costs
  * one shuffle at edge grain and the loop never grows lineage. No
  * driver-side graph state.
  *
  * Determinism doctrine: ranks are MILLI-SCALED INTEGERS end to end —
  * init 1000/node, per-step contribution = round-half-up(r/deg) and
  * damping = 150 + round-half-up(17·Σ/20) via the shared ExactRatio, so
  * every engine computes bit-identical integers every round (float
  * PageRank is never cross-engine comparable; the ≤0.5-milli-per-step
  * rounding is part of the operator's spec'd semantics, not noise). The
  * DuckDB oracle unrolls the same rounds as CTE layers generated from the
  * SAME iteration count and ratio helper — one definition, two engines. */
object PageRank {
  type Q = (SparkSession, String) => DataFrame

  private[plans] val Iters = 5
  private val Top = 50

  /** Ordered (a < b) path-with-chords edges over customer keys:
    * k→k+1 and k→k+2 for every key with the neighbor in range. */
  private def chordEdges(s: SparkSession, d: String): DataFrame = {
    val n = Tables.customer(s, d).agg(max(col("c_custkey")).cast("long").as("n"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("a"))
      .crossJoin(broadcast(n))
    c.filter(col("a") + 1L <= col("n"))
      .select(col("a"), (col("a") + 1L).as("b"))
      .unionByName(c.filter(col("a") + 2L <= col("n"))
        .select(col("a"), (col("a") + 2L).as("b")))
  }

  private[graft] def symmetric(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))

  /** Partitioner for a round loop's keyed state: the source's own split
    * count capped at the session's cores — sized by the DATA (the r13/r14
    * fan-out lesson: a fixed `defaultParallelism` over-partitions gate-scale
    * inputs into useless tiny tasks). */
  private def loopPartitioner(rdd: org.apache.spark.rdd.RDD[_]) =
    new org.apache.spark.HashPartitioner(math.max(1, math.min(
      rdd.sparkContext.defaultParallelism, rdd.getNumPartitions)))

  /** Full node ranks after `iters` exact milli rounds over any undirected
    * edge frame (u, v) — the reusable core; the spec drives it on golden
    * graphs with hand-computed integer expectations.
    *
    * RUNS THE ROUNDS ON RDDs (r14). The DataFrame loop paid a measured
    * ~0.3–0.5 s/round floor of Catalyst analysis + codegen at EVERY scale
    * (g3 was ~2.2 s at sf1, sf10 AND sf100 — pure orchestration, never
    * data), and round-batching (r13), co-partitioned checkpoints and
    * AQE-off (both r14) were all measured worse — localCheckpoint discards
    * partitioning, so each DataFrame round re-shuffled the full edge
    * relation twice. The RDD loop removes both costs structurally: edges
    * are hash-partitioned ONCE and every round's join reuses that map
    * output (narrow), so a round is exactly one shuffle of map-side-combined
    * contributions; no per-round plan exists to analyze. All arithmetic is
    * the same exact milli-scaled integer math ([[ExactRatio.scaledLong]]
    * law-mirrors the Column form; long sums are order-independent), so the
    * ranks are bit-identical — ForkWalkSpec's hand-computed goldens and the
    * unrolled-CTE oracle both still gate it. */
  /** Per-node adjacency (node → out-neighbor array), hash-partitioned and
    * persisted ONCE — the round loops' shared shape. A generic RDD join
    * (CoGroupedRDD) re-ran its ArrayBuffer merge over every EDGE row each
    * round (measured: ~0.8 s/round at sf0.1, the whole residual g3 cost);
    * the adjacency form merges at NODE grain through one HashMap zip. */
  private def adjacencyOf(e: DataFrame): org.apache.spark.rdd.RDD[(Any, Array[Any])] = {
    import org.apache.spark.storage.StorageLevel
    val raw = e.select(col("u"), col("v")).rdd.map(r => (r.get(0), r.get(1)))
    val part = loopPartitioner(raw)
    raw.partitionBy(part).mapPartitions({ it =>
      val m = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
      it.foreach { case (u, v) =>
        m.computeIfAbsent(u, _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += v }
      val es = m.entrySet().iterator()
      new Iterator[(Any, Array[Any])] {
        def hasNext = es.hasNext
        def next() = { val kv = es.next(); (kv.getKey, kv.getValue.toArray) }
      }
    }, preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
  }

  def ranksOf(e: DataFrame, iters: Int = Iters): DataFrame = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = e.sparkSession
    val nodeType = e.schema("u").dataType
    val adj = adjacencyOf(e)
    val part = adj.partitioner.get
    // rank keys = adjacency keys (nodes with ≥1 out-edge — the original's
    // `deg` relation) every round, so the zips below never miss a key
    var rank: RDD[(Any, Long)] = adj.mapValues(_ => 1000L)
    for (_ <- 1 to iters) {
      // NO preservesPartitioning here: the output is re-keyed by NEIGHBOR,
      // so claiming the input partitioning would let reduceByKey skip its
      // shuffle and leave sums in the generating partition (caught live:
      // round-1 BFS improvements read as 0)
      val contribs = adj.zipPartitions(rank) {
        (ait, rit) =>
          val rm = new java.util.HashMap[Any, java.lang.Long]()
          rit.foreach { case (n, r) => rm.put(n, r) }
          ait.flatMap { case (u, nbrs) =>
            val c = ExactRatio.scaledLong(rm.get(u).longValue, nbrs.length.toLong, 1L)
            nbrs.iterator.map(v => (v, c))
          }
      }.reduceByKey(part, _ + _) // THE round shuffle, map-side combined
      // contributions to a node with no out-edge are dropped, exactly as
      // the original's nodes-LEFT-JOIN-contribs did
      rank = adj.zipPartitions(contribs, preservesPartitioning = true) {
        (ait, cit) =>
          val cm = new java.util.HashMap[Any, java.lang.Long]()
          cit.foreach { case (n, s) => cm.put(n, s) }
          ait.map { case (u, _) =>
            val s = cm.get(u)
            (u, 150L + ExactRatio.scaledLong(
              Math.multiplyExact(17L, if (s == null) 0L else s.longValue),
              20L, 1L))
          }
      }
    }
    spark.createDataFrame(
      rank.map { case (n, r) => Row(n, r) },
      StructType(Seq(StructField("node", nodeType),
        StructField("rank_milli", LongType))))
  }

  /** G3 — the top-[[Top]] ranked nodes after [[Iters]] exact milli rounds. */
  private val g3: Q = (s, d) =>
    ranksOf(symmetric(chordEdges(s, d)))
      .orderBy(col("rank_milli").desc, col("node"))
      .limit(Top)

  /** G4 — TRIANGLE COUNT by the canonical distributed pattern: edges stay
    * ORDERED (a < b), so each triangle (a < b < c) is generated exactly
    * once by two equi-joins (wedges a–b–c closed by the a–c edge) and no
    * node ever enumerates its full neighborhood twice; the ordering
    * halves the wedge count and removes the 6× duplicates a closed-walk
    * count produces. One summary row: nodes, edges, triangles (= N−2 on
    * the chord graph — spec-pinned in closed form). */
  private val g4: Q = (s, d) => {
    val e = chordEdges(s, d).localCheckpoint(true)
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val tri = wedges.as("w").join(e.as("e3"),
      col("w.a") === col("e3.a") && col("w.c") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nn = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
  }

  /** g5 seed spacing: every 32nd key is a distance-0 source. The BFS
    * round budget follows from the SPACING, not the graph size — the
    * farthest node sits ≤ 31 keys from a seed, chords halve hops, so 16
    * rounds reach everything at ANY scale. That is the design point:
    * multi-source BFS depth is bounded by source density, which a
    * pipeline controls, never by corpus growth. */
  private[graft] val SeedMod = 32L
  private[graft] val SeedMod2 = 8L
  private[plans] val BfsRounds = 16

  /** Min-distance propagation over any symmetric edge frame (u, v) from
    * a seed node set — the reusable core, spec-driven on golden graphs.
    * Each round relaxes every edge once: one equi-join (reached frontier
    * → edges) + one min-aggregation, eager-checkpointed so rounds never
    * grow lineage (the ForkWalk/PageRank discipline). `cap` is a BUDGET,
    * not a count: the loop exits one round after the fixpoint (a no-op
    * round proves convergence — the observable [[bfsOfCounted]] exposes),
    * so the spacing bound pays only detection, never wasted relaxation.
    * After `cap` ≥ max eccentricity-to-seed, the frame is the exact hop
    * distance; with a smaller cap, beyond-cap nodes stay honestly null. */
  def bfsOf(e: DataFrame, seeds: DataFrame, cap: Int = BfsRounds): DataFrame =
    bfsOfCounted(e, seeds, cap)._1

  /** [[bfsOf]] plus the relaxation rounds actually run — eccentricity+1
    * when the cap is generous (the +1 is the convergence check), `cap`
    * exactly when it binds.
    *
    * RDD FRONTIER LOOP (r14, same rationale as [[ranksOf]]): edges are
    * partitioned once; a round relaxes only the FRONTIER (the nodes whose
    * distance improved last round — by BFS induction any node improvable in
    * round k+1 has a neighbor improved in round k, so frontier relaxation
    * reaches exactly the distances full relaxation does, in the same round
    * count), shuffles only the map-side-min-combined candidates, and
    * detects convergence with one count of the persisted flagged frame —
    * no per-round Catalyst analysis, no re-shuffle of the edge relation.
    * Distances are exact long mins; results bit-identical (golden-path
    * spec + recursive-CTE oracle unchanged). */
  private[graft] def bfsOfCounted(
      e: DataFrame, seeds: DataFrame, cap: Int): (DataFrame, Int) = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.storage.StorageLevel
    val spark = e.sparkSession
    val nodeType = e.schema("u").dataType
    val adj = adjacencyOf(e)
    val part = adj.partitioner.get
    val seedRdd = seeds.select(col("node")).rdd.map(r => (r.get(0), ()))
      .partitionBy(part)
    // boxed distances over the node set (= adjacency keys — e is symmetric
    // for every caller, and the original's node set was distinct u too);
    // null = unreached, the honest beyond-cap semantics. Seeds outside the
    // node set are dropped exactly as the original's left join did.
    var dist: RDD[(Any, java.lang.Long)] =
      adj.zipPartitions(seedRdd, preservesPartitioning = true) { (ait, sit) =>
        val sm = new java.util.HashSet[Any]()
        sit.foreach { case (n, _) => sm.add(n) }
        ait.map { case (u, _) =>
          (u, if (sm.contains(u)) java.lang.Long.valueOf(0L) else null)
        }
      }
    var frontier: RDD[(Any, Long)] =
      dist.filter(_._2 != null).mapValues(_.longValue)
    var rounds = 0
    var changed = true
    var prev: RDD[_] = null
    while (changed && rounds < cap) {
      // relax the frontier through the adjacency: node-grain HashMap zip,
      // then THE round shuffle — map-side-min-combined candidates
      // NO preservesPartitioning: output re-keyed by neighbor (see ranksOf)
      val cand = adj.zipPartitions(frontier) {
        (ait, fit) =>
          val fm = new java.util.HashMap[Any, java.lang.Long]()
          fit.foreach { case (n, dd) => fm.put(n, dd) }
          ait.flatMap { case (u, nbrs) =>
            val dd = fm.get(u)
            if (dd == null) Iterator.empty
            else { val nd = dd.longValue + 1L; nbrs.iterator.map(v => (v, nd)) }
          }
      }.reduceByKey(part, math.min(_: Long, _: Long))
      // flagged next frame: one narrow zip over the node set. Candidates
      // for nodes outside the set are dropped (original left-join rule).
      val next = dist.zipPartitions(cand, preservesPartitioning = true) {
        (dit, cit) =>
          val cm = new java.util.HashMap[Any, java.lang.Long]()
          cit.foreach { case (n, nd) => cm.put(n, nd) }
          dit.map { case (n, d) =>
            val nd = cm.get(n)
            if (nd != null && (d == null || nd.longValue < d.longValue))
              (n, (nd, true))
            else (n, (d, false))
          }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.filter(_._2._2).count() > 0 // materializes `next`
      if (prev != null) prev.unpersist(false)
      prev = next
      frontier = next.filter(_._2._2).mapValues(_._1.longValue)
      dist = next.mapValues(_._1)
      rounds += 1
    }
    val out = spark.createDataFrame(
      dist.map { case (n, d) => Row(n, d) },
      StructType(Seq(StructField("node", nodeType),
        StructField("dist", LongType))))
    (out, rounds)
  }

  /** G5 — MULTI-SOURCE BFS / hop distance to the nearest seed: the
    * proximity primitive behind influence radii, seed-expansion labeling,
    * and staleness-from-source checks. [[bfsOf]] over the chord graph
    * with every [[SeedMod]]-th key seeded; [[BfsRounds]] rounds reach all
    * nodes by the spacing argument, and the spec pins the closed-form
    * distance ⌈min(gap_down, gap_up)/2⌉ per node. */
  private def g5Of(mod: Long): Q = (s, d) => {
    val e = symmetric(chordEdges(s, d))
    val seeds = e.select(col("u").as("node")).distinct()
      .filter(col("node") % mod === 1L)
    bfsOf(e, seeds).orderBy(col("node"))
  }
  private val g5 = g5Of(SeedMod)
  private val g5b = g5Of(SeedMod2)

  val queries: Map[String, Q] = Map(
    "g3_pagerank" -> g3, "g4_triangle_count" -> g4,
    "g5_bfs_distance" -> g5, "g5b_bfs_dense" -> g5b)

  private val edgeCte =
    """nmax AS (SELECT CAST(max(c_custkey) AS BIGINT) AS n FROM customer),
      | e0 AS (SELECT CAST(c_custkey AS BIGINT) AS a, CAST(c_custkey + 1 AS BIGINT) AS b
      |   FROM customer, nmax WHERE c_custkey + 1 <= n
      |  UNION ALL
      |  SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey + 2 AS BIGINT)
      |   FROM customer, nmax WHERE c_custkey + 2 <= n)""".stripMargin

  /** The identical rounds as unrolled CTE layers — generated from the same
    * Iters/ExactRatio definitions the Spark loop uses. */
  private def pagerankSql: String = {
    val layers = (1 to Iters).map { k =>
      val prev = s"r${k - 1}"
      s"""s$k AS (SELECT e.v AS node,
         |   CAST(sum(${ExactRatio.scaledSql("r.r", "deg.d", 1L)}) AS BIGINT) AS sum_c
         |  FROM e JOIN deg ON e.u = deg.u JOIN $prev r ON e.u = r.node
         |  GROUP BY 1),
         | r$k AS (SELECT deg.u AS node,
         |   CAST(150 + ${ExactRatio.scaledSql(s"17 * coalesce(s$k.sum_c, 0)", "20", 1L)} AS BIGINT) AS r
         |  FROM deg LEFT JOIN s$k ON deg.u = s$k.node)""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgeCte,
       | e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
       | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
       | r0 AS (SELECT u AS node, CAST(1000 AS BIGINT) AS r FROM deg),
       | $layers
       | SELECT node, r AS rank_milli FROM r$Iters
       | ORDER BY rank_milli DESC, node LIMIT $Top""".stripMargin
  }

  private def g5SqlOf(mod: Long): String =
    s"""WITH RECURSIVE $edgeCte,
       | e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
       | r(node, d) AS (
       |   SELECT DISTINCT u, 0 FROM e WHERE u % $mod = 1
       |   UNION
       |   SELECT e.v, r.d + 1 FROM r JOIN e ON e.u = r.node
       |   WHERE r.d < $BfsRounds)
       | SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r
       | GROUP BY 1 ORDER BY node""".stripMargin

  val oracles: Map[String, String] = Map(
    // independent formulation: recursive frontier enumeration with row
    // dedup (UNION) + depth cap, min per node — agreeing with the
    // round-relaxation loop proves both
    "g5_bfs_distance" -> g5SqlOf(SeedMod),
    "g5b_bfs_dense" -> g5SqlOf(SeedMod2),
    "g3_pagerank" -> pagerankSql,
    "g4_triangle_count" ->
      s"""WITH $edgeCte,
         | tri AS (SELECT count(*) AS n_triangles
         |   FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
         |   JOIN e0 e3 ON e1.a = e3.a AND e2.b = e3.b),
         | nn AS (SELECT count(*) AS n_nodes FROM
         |   (SELECT a AS n FROM e0 UNION SELECT b FROM e0)),
         | ne AS (SELECT count(*) AS n_edges FROM e0)
         | SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri""".stripMargin)
}
