package graft.operators

import graft.{Domain, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical join strategies for hostile data distributions (SURVEY.md §2.3
  * extensions; §7.6 scale notes).
  *
  * Three patterns every 100 TB deployment eventually needs, expressed as
  * ordinary oracle-gated queries so their results stay exactly equal to the
  * naive forms they replace:
  *
  *   - j16: SALTED equi-join — a hot join key overwhelms one reducer in a
  *     shuffled join; salting the fact side and replicating the dim side
  *     spreads each key over `SaltN` partitions.
  *   - j17: BLOOM-PRUNED join — a semi-join reduction: the dim side's keys
  *     are folded into a fixed-size Bloom bitset (an aggregate, never a
  *     collect of the keys themselves), broadcast as a literal, and applied
  *     as a row-local pre-filter on the fact scan BEFORE the join shuffle.
  *     Spark's own runtime row-level filtering does this behind a cost
  *     model; this is the explicit, always-on form with the false-positive
  *     rate pinned by spec.
  *   - u1: CDC MERGE/upsert — one full-outer join applying an
  *     insert/update/delete change feed to a dimension snapshot, the
  *     incremental-refresh primitive behind every warehouse MERGE INTO.
  */
object JoinStrategies {
  type Q = (SparkSession, String) => DataFrame

  /** Salt fan-out. At 100 TB pick ≥ the reducer count you want the hottest
    * key spread over; the dim side grows ×SaltN, so keep it ≪ dim rows. */
  private[graft] val SaltN = 8

  /** J16 — skew-salted commits ⋈ supplier. The fact side gets a
    * content-derived salt in [0, SaltN); the dim side is replicated once
    * per salt value (explode over a SaltN-element sequence — row-local, no
    * shuffle), and the join key becomes (suppkey, salt). Every fact row
    * still matches exactly one replica, so the result is row-identical to
    * the unsalted join — JoinShapesSpec asserts both that equality and
    * that the salt is a real join key in the plan. The shuffle_hash hint
    * keeps the demonstration honest at test scale (AQE would otherwise
    * broadcast the toy dim side and no shuffle would exist to salt);
    * at production scale the hint is also the right call — the replicated
    * dim side is the build side, and sorting it ×SaltN for a merge join
    * would be wasted work. */
  private val j16: Q = (s, d) => {
    val fact = Domain.commits(s, d)
      .withColumn("salt",
        pmod(xxhash64(col("vtxindex"), col("burn_fee")), lit(SaltN)))
    val dim = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
      .withColumn("salt", explode(sequence(lit(0L), lit(SaltN - 1L))))
    fact.join(dim.hint("shuffle_hash"),
        fact("leader_key_address") === dim("s_suppkey") &&
          fact("salt") === dim("salt"))
      .select(col("stacks_block_height"), col("vtxindex"), col("burn_fee"),
        col("s_nationkey"))
      .orderBy(col("stacks_block_height"), col("vtxindex"), col("burn_fee"),
        col("s_nationkey"))
  }

  /** Bloom geometry: m bits as m/64 longs, k probe hashes. With the urgent
    * dim keyset (~20% of orders) this sits far below 1% false positives at
    * every test SF; the bitset is 8 KiB regardless of dim cardinality —
    * the whole point: the REDUCTION of the dim side is broadcastable even
    * when the dim side itself is not. */
  private[graft] val BloomBits = 1 << 16
  private[graft] val BloomK = 3

  /** The j17 probe-side bit positions for one seed: xxhash64(seed, key)
    * mod m. Seeds make the k hash functions independent. The seed is a
    * LONG literal on both the build side and the probe-side SQL — xxhash64
    * hashes int and long literals differently, so a type mismatch here
    * would silently produce false negatives. */
  private def bloomPos(seed: Int, key: org.apache.spark.sql.Column) =
    pmod(xxhash64(lit(seed.toLong), key), lit(BloomBits.toLong))

  /** Build the Bloom bitset for a one-column key frame: explode each key
    * into its k bit positions, aggregate per 64-bit word with bit_or, and
    * materialize the (≤ m/64)-row word table on the driver. The collect is
    * bounded by the bitset geometry (1024 rows / 8 KiB here), never by the
    * key count — same class of bounded edge as KMeansCodebook's k·dim
    * collect. */
  private[graft] def bloomBuild(keys: DataFrame): Array[Long] = {
    val keyCol = col(keys.columns.head)
    val posCols = (1 to BloomK).map(i => bloomPos(i, keyCol))
    val words = keys.select(explode(array(posCols: _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        expr("shiftleft(1L, int(pos % 64))").as("bit"))
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("word"))
      .collect()
    val arr = new Array[Long](BloomBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** The probe-side membership test: all k bits set for `keyName` in the
    * frame's `bloom_words` literal array. Kept as one SQL expr per seed so
    * the whole conjunction stays a codegen'd scalar over the literal —
    * a row-local filter, evaluable at the scan. Seed literals are LONGs to
    * match [[bloomPos]] (see the type note there). */
  private[graft] def bloomHit(keyName: String): org.apache.spark.sql.Column =
    (1 to BloomK).map { i =>
      expr(s"(element_at(bloom_words, int(pmod(xxhash64(${i}L, $keyName), " +
        s"${BloomBits}L) / 64) + 1) >> int(pmod(xxhash64(${i}L, $keyName), " +
        s"${BloomBits}L) % 64)) & 1 = 1")
    }.reduce(_ && _)

  /** J17 — Bloom-pruned lineitem ⋈ urgent-orders join. The urgent order
    * keys are folded to an 8 KiB bitset; the fact scan then keeps only
    * rows whose key tests positive on all k probes — a row-local predicate
    * over a literal array, inside whole-stage codegen, BEFORE any
    * exchange. The exact equi-join afterwards removes the (spec-bounded)
    * false positives, so the result is identical to the plain join: the
    * bloom only ever prunes shuffle input. At 100 TB this turns "shuffle
    * every fact row to discover 20% match" into "shuffle ~20% + ε". */
  private val j17: Q = (s, d) => {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    val bloom = bloomBuild(urgent)
    Tables.lineitem(s, d)
      .withColumn("bloom_words", typedlit(bloom.toSeq))
      .filter(bloomHit("l_orderkey"))
      .join(urgent, col("l_orderkey") === col("k"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
      .orderBy(col("l_orderkey"))
  }

  /** The u1 change feed, derived deterministically from the test tables so
    * both engines build the identical feed: every customer with an urgent
    * order gets an update (key % 10 == 0 becomes a delete instead), and
    * the supplier keys — offset beyond the customer key range — arrive as
    * inserts. new_bal is exact cents. */
  private def changes(s: SparkSession, d: String): DataFrame = {
    val upd = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey").as("k"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("new_bal"))
      .select(col("k"),
        when(col("k") % 10 === 0, "D").otherwise("U").as("op"),
        col("new_bal"))
    val ins = Tables.supplier(s, d).select(
      (col("s_suppkey") + 1000000L).as("k"), lit("U").as("op"),
      round(col("s_acctbal") * 100).cast("long").as("new_bal"))
    upd.unionByName(ins)
  }

  /** U1 — CDC merge: apply an (op, key, value) change feed to the customer
    * dimension in ONE full-outer shuffle join. Matched U rewrites the
    * balance, matched D drops the row, unmatched U inserts, unmatched D is
    * a no-op, untouched base rows pass through — MERGE INTO semantics
    * without a transactional table format. Both sides co-partition on the
    * key; at scale the cost is one shuffle of base + feed, independent of
    * how small the feed is (the price of full-outer; an incremental table
    * format turns this into touched-partition overwrites). Applying the
    * same feed twice is idempotent — JoinShapesSpec drives the merged
    * output through the merge again and asserts a fixed point. */
  def mergeUpsert(base: DataFrame, feed: DataFrame): DataFrame = {
    val b = base.select(col("c_custkey").as("bk"),
      round(col("c_acctbal") * 100).cast("long").as("bal"),
      col("c_nationkey").cast("long").as("nat"))
    b.join(feed, b("bk") === feed("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("bk"), col("k")).as("c_custkey"),
        when(col("op") === "U", col("new_bal")).otherwise(col("bal"))
          .as("bal_cents"),
        coalesce(col("nat"), lit(-1L)).as("c_nationkey"),
        when(col("bk").isNull, "insert")
          .when(col("op") === "U", "update").otherwise("keep").as("action"))
  }

  private val u1: Q = (s, d) =>
    mergeUpsert(Tables.customer(s, d), changes(s, d))
      .orderBy(col("c_custkey"))

  /** u2's history builder over any (user_id, ts_us, event_id, event_type)
    * frame — exposed for the spec's planted change sequences. A new
    * version opens ONLY where the tracked attribute CHANGES (consecutive
    * equal values collapse — the defining SCD2 rule); each version is
    * valid [its change's ts, the next change's ts), the last is open
    * (valid_to = −1, is_current). Ties at the same ts order by event_id —
    * a total order, so both engines agree bit-for-bit. */
  private[graft] def scd2Build(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    // change detection over ALL events, then versioning over the CHANGE
    // rows: same partitioning and sort key, so the second window reuses
    // the first's Exchange + Sort — the whole build is ONE shuffle
    val changes = ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("version_n", row_number().over(w).cast("long"))
      .withColumn("nxt", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("version_n"), col("event_type"),
        col("ts_us").as("valid_from_us"),
        coalesce(col("nxt"), lit(-1L)).as("valid_to_us"),
        col("nxt").isNull.as("is_current"),
        // lineage: the event that OPENED the version. j18's point-in-time
        // join needs it — two versions of one user can open at the same
        // ts_us (two change events, tied timestamps), and only the
        // (ts_us, event_id) pair orders them totally.
        col("event_id").as("open_event_id"))
  }

  /** U2 — SCD2 DIMENSION-HISTORY BUILDER: turn a raw change feed into the
    * versioned dimension table warehouses join against (the build step
    * whose OUTPUT w9's as-of join and u1's merge consume). Tracked
    * attribute: each user's event_type over the events stream. Scale
    * shape: one shuffle on the dimension key; both windows share it; no
    * self-join, no global sort — at 100 TB this is the nightly
    * dim-history rebuild, and incrementally the same logic applies to
    * (current open version ∪ delta) per touched key only. */
  private val u2: Q = (s, d) =>
    scd2Build(Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_id"), col("event_type")))
      .orderBy(col("user_id"), col("version_n"))

  /** j18's core — exposed for the spec's planted tie cases. `facts` =
    * (user_id, ts_us, event_id); `versions` = [[scd2Build]] output. The
    * as-of order is (ts_us, event_id): a fact matches the latest version
    * whose opening event sorts at-or-before it — the SAME total order
    * u2's change detection used, so the event that OPENS a version
    * matches that version (interval semantics [from, to)), and tied
    * timestamps resolve identically on both engines. */
  private[graft] def pitJoin(facts: DataFrame, versions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = versions.select(col("user_id"),
      col("valid_from_us").as("ts_us"), col("open_event_id").as("oid"),
      lit(0).as("kind"), col("version_n"),
      col("event_type").as("dim_type"))
    val f = facts.select(col("user_id"), col("ts_us"),
      col("event_id").as("oid"), lit(1).as("kind"),
      lit(null).cast("long").as("version_n"),
      lit(null).cast("string").as("dim_type"))
    // kind orders a version-open BEFORE the same event as a fact: the
    // opening event belongs to the version it opens
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("oid"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v.unionByName(f)
      .withColumn("v_n", last(col("version_n"), ignoreNulls = true).over(w))
      .withColumn("v_type", last(col("dim_type"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("oid").as("event_id"), col("user_id"), col("ts_us"),
        col("v_n").as("version_n"), col("v_type").as("dim_event_type"))
  }

  /** J18 — POINT-IN-TIME JOIN against the SCD2 dimension: every fact row
    * picks the dimension version valid AT ITS OWN timestamp — the
    * feature-store correctness primitive (joining the CURRENT version
    * instead leaks future attribute values into training labels). Scale
    * shape: NOT an interval join — versions and facts union-tag into ONE
    * shuffle on the dimension key and a single forward-carry window, the
    * same plan family as w9's as-of join; cost is one sort of facts +
    * versions regardless of how many versions a key has. Every fact
    * matches exactly one version by u2's tiling law (spec-asserted). */
  private val j18: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("event_id"), col("event_type"))
    pitJoin(ev.select(col("user_id"), col("ts_us"), col("event_id")),
        scd2Build(ev))
      .orderBy(col("event_id"))
  }

  /** u3's core: the content-level delta between two corpus snapshots —
    * every doc classified added / removed / changed / unchanged by key
    * presence and content hash. ONE full-outer hash join on the key plus
    * a row-local md5 compare; no sort, no window, and the changed-set
    * output is exactly what an incremental ingest (d9) or re-embed job
    * consumes downstream. Presence markers, not hash-nullness, decide
    * added/removed, so null-text docs diff correctly. */
  private[graft] def corpusDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val av = a.select(col("doc_id"), col("source").as("src_a"),
      md5(col("text")).as("h_a"), lit(1L).as("in_a"))
    val bv = b.select(col("doc_id"), col("source").as("src_b"),
      md5(col("text")).as("h_b"), lit(1L).as("in_b"))
    av.join(bv, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("src_b"), col("src_a")).as("source"),
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(not(col("h_a") <=> col("h_b")), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy(col("doc_id"))
  }

  /** U3 — CORPUS SNAPSHOT DIFF: the ingest-regression audit between two
    * dataset versions. The registered query derives a deterministic v2
    * from the documents table (drop doc_id%10==3, append " v2" to
    * %10==7, re-key %10==1 up by 10⁹ as additions) so the gate exercises
    * all four statuses; production callers hand [[corpusDiff]] two real
    * snapshot reads. */
  private val u3: Q = (s, d) => {
    val v1 = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    val v2 = v1.filter(col("doc_id") % 10 =!= 3)
      .withColumn("text", when(col("doc_id") % 10 === 7,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(v1.filter(col("doc_id") % 10 === 1)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
    corpusDiff(v1, v2)
  }

  val queries: Map[String, Q] = Map(
    "j16_salted_join" -> j16,
    "j17_bloom_prune" -> j17,
    "j18_pit_join" -> j18,
    "u1_merge_upsert" -> u1,
    "u2_scd2_build" -> u2,
    "u3_corpus_diff" -> u3
  )

  private val fee = Domain.feeSql

  /** The u1 change feed as the shared oracle CTE (mirrors [[changes]]). */
  private val changesSql =
    """changes AS (
      | SELECT k, CASE WHEN k % 10 = 0 THEN 'D' ELSE 'U' END AS op, new_bal
      | FROM (SELECT o_custkey AS k,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS new_bal
      |       FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
      | UNION ALL
      | SELECT s_suppkey + 1000000, 'U', CAST(round(s_acctbal * 100) AS BIGINT)
      | FROM supplier)""".stripMargin

  val oracles: Map[String, String] = Map(
    "u3_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, source, text FROM documents),
        | v2 AS (SELECT doc_id, source,
        |     CASE WHEN doc_id % 10 = 7 THEN text || ' v2' ELSE text END AS text
        |   FROM documents WHERE doc_id % 10 <> 3
        |   UNION ALL
        |   SELECT doc_id + 1000000000, source, text FROM documents
        |   WHERE doc_id % 10 = 1),
        | j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |     COALESCE(b.source, a.source) AS source,
        |     md5(a.text) AS h_a, md5(b.text) AS h_b,
        |     a.doc_id IS NULL AS a_null, b.doc_id IS NULL AS b_null
        |   FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        | SELECT doc_id, source,
        |   CASE WHEN a_null THEN 'added' WHEN b_null THEN 'removed'
        |        WHEN h_a <> h_b THEN 'changed' ELSE 'unchanged' END AS status
        | FROM j ORDER BY doc_id""".stripMargin,
    // the oracle is the UNSALTED join: salting must be invisible in the result
    "j16_salted_join" ->
      s"""SELECT l.l_orderkey AS stacks_block_height, l.l_linenumber AS vtxindex,
         |   $fee AS burn_fee, s.s_nationkey
         | FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         | ORDER BY stacks_block_height, vtxindex, burn_fee, s_nationkey""".stripMargin,
    // the oracle is the UNPRUNED join: the bloom must only cut shuffle input
    "j17_bloom_prune" ->
      """SELECT l.l_orderkey, count(*) AS n_items,
        |   CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        | WHERE o.o_orderpriority = '1-URGENT'
        | GROUP BY l.l_orderkey ORDER BY l.l_orderkey""".stripMargin,
    // independent formulation: an inequality join + per-fact argmax (the
    // textbook PIT plan) — agreeing with the union-tag window proves both
    "j18_pit_join" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |     event_id, event_type FROM events),
        | m AS (SELECT *, lag(event_type) OVER
        |     (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
        | c AS (SELECT user_id, ts_us, event_id AS oid, event_type,
        |     CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS version_n
        |   FROM m WHERE prev IS NULL OR prev <> event_type)
        | SELECT event_id, user_id, ts_us, version_n, dim_event_type FROM (
        |   SELECT f.event_id, f.user_id, f.ts_us, v.version_n,
        |     v.event_type AS dim_event_type,
        |     row_number() OVER (PARTITION BY f.event_id
        |       ORDER BY v.ts_us DESC, v.oid DESC) AS rn
        |   FROM e f JOIN c v ON f.user_id = v.user_id
        |     AND (v.ts_us < f.ts_us OR (v.ts_us = f.ts_us AND v.oid <= f.event_id))
        | ) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "u2_scd2_build" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |     event_id, event_type FROM events),
        | m AS (SELECT *, lag(event_type) OVER
        |     (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
        | c AS (SELECT * FROM m WHERE prev IS NULL OR prev <> event_type),
        | v AS (SELECT user_id, event_type, ts_us AS valid_from_us, event_id,
        |     CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS version_n,
        |     lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS nxt
        |   FROM c)
        | SELECT user_id, version_n, event_type, valid_from_us,
        |   coalesce(nxt, -1) AS valid_to_us, nxt IS NULL AS is_current,
        |   event_id AS open_event_id
        | FROM v ORDER BY user_id, version_n""".stripMargin,
    "u1_merge_upsert" ->
      s"""WITH $changesSql
         | SELECT coalesce(c.c_custkey, g.k) AS c_custkey,
         |   CASE WHEN g.op = 'U' THEN g.new_bal
         |        ELSE CAST(round(c.c_acctbal * 100) AS BIGINT) END AS bal_cents,
         |   coalesce(CAST(c.c_nationkey AS BIGINT), -1) AS c_nationkey,
         |   CASE WHEN c.c_custkey IS NULL THEN 'insert'
         |        WHEN g.op = 'U' THEN 'update' ELSE 'keep' END AS action
         | FROM customer c FULL JOIN changes g ON c.c_custkey = g.k
         | WHERE g.op IS NULL OR g.op <> 'D'
         | ORDER BY c_custkey""".stripMargin
  )
}
