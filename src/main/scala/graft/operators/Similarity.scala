package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star ops, SURVEY.md
  * §7.5): brute-force cosine top-k as the exact baseline, and LSH / IVF
  * bucketed variants as the scale paths.
  *
  * Every ANN variant is structured as CANDIDATE GENERATION (a bucketed
  * equi-join — never all-pairs) followed by the shared exact re-rank
  * ([[rerank]]): x4 gates each variant's recall@10 AND its candidate-set
  * size, so the recall/cost trade of every path is hash-compared per round
  * instead of claimed.
  *
  * The LSH planes are fixed ±1 matrices derived from md5 (driver-side,
  * deterministic) and embedded as literals into BOTH the Spark plan and the
  * DuckDB oracle SQL, so the two engines bucket identically. At 100 TB the
  * bucket signature is a map-side expression; the candidate join shuffles
  * on (bucket) instead of comparing all pairs — recall trades against the
  * number of planes (here 4 planes → 16 buckets) and, for the OR-amplified
  * form, the number of independent tables.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val Dim = 64
  private val NPlanes = 4
  private val TopK = 10

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic ±1 hyperplanes: component i of plane j is +1 iff the
    * first hex digit of md5("j:i") has its high bit set. */
  private[operators] val planes: Seq[Seq[Double]] =
    (0 until NPlanes).map(j => (0 until Dim).map(i =>
      if (md5hex(s"$j:$i").head >= '8') 1.0 else -1.0))

  /** float[] → double[] as a native array cast (codegen'd; a transform()
    * lambda here would knock the whole stage out of WSCG). */
  private def dvec(c: Column): Column = c.cast("array<double>")

  /** Native codegen'd dot product (expressions.DotProduct). Callers MUST
    * run GraftExtensions.ensure(session) first — [[vecs]] does — or
    * call_function cannot resolve graft_dot (no HOF fallback; the fold
    * order is pinned by the expression so results are IEEE-identical). */
  private[operators] def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** LSH bucket id (row-local): bit j set iff v · plane_j > 0. */
  private def bucket(v: Column): Column =
    (0 until NPlanes).map { j =>
      when(dot(v, typedlit(planes(j))) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Vectors with their norm precomputed once (row-local) — per-candidate
    * work in the knn joins is then a single dot product. */
  private[graft] def vecs(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), dvec(col("embedding")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
  }

  /** Shared exact re-rank: per-query top-k over candidate pairs carrying
    * (q_id, vec_id, cos_raw [, extra]). The window partitions by q_id —
    * bounded by candidates-per-query, never the corpus. */
  private[graft] def rerank(cand: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(Seq(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 4).as("cos")) ++ extra.map(col): _*)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Exact candidate set: every (query, other-vector) pair. One broadcast
    * of the tiny query side; candidates never shuffle. */
  private def candX1(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))
    v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
  }

  /** X1 — exact brute-force cosine top-k for query vectors (vec_id < 5):
    * the correctness baseline every ANN variant is judged against. */
  private val x1: Q = (s, d) => rerank(candX1(s, d))

  /** X2 candidates — single-table LSH: queries only compare against
    * candidates in the SAME hyperplane bucket (16 buckets). The equi-join
    * on bucket is the 100 TB plan shape — O(n/16) candidates per query
    * instead of O(n). */
  private def candX2(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).withColumn("bucket", bucket(col("v")))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("bucket"))
    v.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
  }

  private val x2: Q = (s, d) => rerank(candX2(s, d), Seq("bucket"))

  /** X2b candidates — MULTI-PROBE LSH: each query probes its own bucket
    * plus the NPlanes buckets at Hamming distance 1 (flip one plane's bit).
    * Still a bucketed equi-join: the tiny query side explodes ×(NPlanes+1)
    * and broadcasts; candidates never shuffle, and a candidate lives in
    * exactly one bucket so no pair repeats. */
  private def candX2b(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).withColumn("bucket", bucket(col("v")))
    val probes = array(
      col("bucket") +: (0 until NPlanes).map(j =>
        col("bucket").bitwiseXOR(lit(1 << j))): _*)
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"), explode(probes).as("bucket"))
    v.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
  }

  private val x2b: Q = (s, d) => rerank(candX2b(s, d))

  /** OR-amplification parameters (VERDICT r3 item 2): OrTables independent
    * hash tables of OrPlanes planes each. Fewer planes per table = higher
    * per-table collision probability; OR-ing candidates across tables
    * amplifies recall (1-(1-p^P)^L) at the cost of indexing each vector L
    * times — the standard storage/recall trade of production LSH.
    * L = 12 since r8 (VERDICT r7 item 6): 8 tables measured recall@10
    * 0.84 on this corpus → per-table miss 0.16^(1/8) ≈ 0.795, so 12
    * tables predict 1 − 0.795¹² ≈ 0.94 at ~1.2× the candidate set (the
    * unrelated-pair collision bound grows 1-(1-2⁻³)⁸ = 0.66 →
    * 1-(1-2⁻³)¹² = 0.80) — inside the ≤1.5× growth budget the x4 gate
    * enforces. */
  private val OrTables = 12
  private val OrPlanes = 3

  /** Independent plane families per table: component i of plane (t, j) is
    * derived from md5("or:t:j:i") — disjoint from the single-table family. */
  private[operators] val orPlanes: Seq[Seq[Seq[Double]]] =
    (0 until OrTables).map(t => (0 until OrPlanes).map(j => (0 until Dim).map(i =>
      if (md5hex(s"or:$t:$j:$i").head >= '8') 1.0 else -1.0)))

  /** Bucket of vector v in table t (row-local, 2^OrPlanes buckets). */
  private def orBucket(t: Int, v: Column): Column =
    (0 until OrPlanes).map { j =>
      when(dot(v, typedlit(orPlanes(t)(j))) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** X2c candidates — OR-AMPLIFIED LSH: the index side materializes each
    * vector in all OrTables tables (posexplode ×L — the map-side expansion
    * every multi-table LSH index pays), the equi-join runs on (table,
    * bucket), and duplicate pairs collapse in ONE partial-aggregated
    * groupBy on the pair key (cos is computed pre-dedup so the aggregate
    * is max of identical values — no array shuffle). */
  private def candX2c(s: SparkSession, d: String): DataFrame = {
    val idx = vecs(s, d).select(col("vec_id"), col("v"), col("norm"),
      posexplode(array((0 until OrTables).map(t => orBucket(t, col("v"))): _*))
        .as(Seq("tid", "bucket")))
    val q = idx.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("tid"), col("bucket"))
    idx.join(broadcast(q), Seq("tid", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("cos_raw")).as("cos_raw"))
  }

  private val x2c: Q = (s, d) => rerank(candX2c(s, d))

  private val NCells = 16

  /** IVF candidates over a DRIVER-SIDE codebook (cell_id, centroid):
    * assign ROW-LOCALLY, equi-join queries to their `nprobe` nearest
    * cells (the standard IVF recall lever — candidates always live in
    * exactly one cell, so probing N cells never duplicates a pair).
    *
    * A codebook is a few KB of driver data (every production IVF build
    * collects it — that IS the broadcast artifact), so cell assignment
    * unrolls STATICALLY: greatest() over k codegen'd (cos, -cell_id)
    * struct scores — a per-row argmax inside whole-stage codegen with no
    * 16× fact expansion, no shuffle, no Window over the vector set (the
    * r3 finding: the old crossJoin + row_number form shuffled and sorted
    * 16n rows keyed by vec_id; an interpreted HOF fold over a broadcast
    * array was row-local but measured ~2× slower than this unrolled
    * form). Lexicographic struct comparison ≡ ORDER BY cos DESC, cell_id
    * ASC, so the DuckDB oracle's row_number form picks the identical
    * cell. */
  private[graft] def cellNorms(cells: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double], Double)] =
    cells.map { case (id, cv) => (id, cv, math.sqrt(cv.map(x => x * x).sum)) }

  private[graft] def cellScore(c: (Long, Seq[Double], Double)): Column =
    struct(
      (dot(col("v"), typedlit(c._2)) / (col("norm") * lit(c._3))).as("cos"),
      lit(-c._1).as("neg_id"))

  /** The IVF index POSTINGS relation: every vector with its assigned cell
    * — the thing a production build PERSISTS. Assignment is row-local
    * (statically-unrolled argmax over the broadcast codebook), which is
    * what makes the index incrementally maintainable: admitting a batch
    * of new vectors ([[appendIndex]]) assigns ONLY the batch against the
    * same codebook and appends — no rebuild, no rescan, and incremental ≡
    * one-shot exactly (spec-proven), the ANN twin of d9's band-index
    * admit. */
  /** Above this codebook size a statically-unrolled greatest() argmax
    * stops being the right plan: k literal struct scores inflate analysis
    * and generated-code size linearly with k (and at k in the hundreds
    * risk the huge-method JIT cliff the d4 rehearsal hit). Since r13 the
    * ASSIGNMENT side is the native CellArgmax expression at every k (plan
    * size O(1), no row fanout); this threshold still switches the QUERY-
    * side probe scoring (queryProbes needs the full sorted score list,
    * which the argmax expression does not produce) between the unrolled
    * array of k literal scores and the broadcast-join + collect_list form. */
  private[graft] val UnrollMax = 64

  /** Cell-id column: native row-local argmax over the codebook
    * (expressions.CellArgmax — one tight loop per row, codebook in the
    * codegen references array). Replaces both prior plans (r13, guide §4):
    * the k-literal greatest() unroll (O(k·dim) plan/codegen size — the
    * UnrollMax ceiling existed for its JIT cliff) and the broadcast-join +
    * max(struct) form (n·k materialized rows through a partial aggregate +
    * a payload re-join — memo:cell_asg 240 s at sf100 for a row-local
    * argmax). Identical output by construction — same graft_dot fold, same
    * cos = dot/(norm·cnorm) float ops, same (cos DESC, cell_id ASC) tie
    * order — and KMeansSpec triangle-compares all three forms. */
  private[graft] def cellIdOf(v: Column, norm: Column,
                              cells: Seq[(Long, Seq[Double])]): Column = {
    val sorted = cellNorms(cells).sortBy(_._1)
    val idx = call_function("graft_argmax_cell", v, norm,
      typedlit(sorted.map(_._2)), typedlit(sorted.map(_._3)), lit("cos"))
    element_at(typedlit(sorted.map(_._1)), idx + 1)
  }

  private[graft] def assignCells(v: DataFrame,
                                     cells: Seq[(Long, Seq[Double])]): DataFrame =
    v.select(col("vec_id"), col("v"), col("norm"),
      cellIdOf(col("v"), col("norm"), cells).as("cell_id"))

  /** Admit a delta of vectors into a stored IVF postings table: assign the
    * delta row-locally with the SAME broadcast codebook and append.
    * Vector rows are immutable observations, so the merge is a union —
    * re-admitting an id is the caller's dedup concern (d9's admit shows
    * the anti-join shape if needed). */
  private[graft] def appendIndex(stored: DataFrame, delta: DataFrame,
                                     cells: Seq[(Long, Seq[Double])]): DataFrame =
    stored.unionByName(assignCells(delta, cells))

  private[graft] def ivfCands(v: DataFrame, cells: Seq[(Long, Seq[Double])],
                                  nprobe: Int = 1): DataFrame =
    ivfCandsFrom(assignCells(v, cells), v, cells, nprobe)

  /** The query probe set: (q_id, qv, qnorm, cell_id) — each query row
    * exploded to its `nprobe` nearest cells. Shared by the trained-IVF
    * read path (ivfCandsFrom) and the trained-PQ path (pqApproxTrained).
    *
    * Scoring switches unroll-vs-join exactly like assignCells (review
    * r9): the unrolled `array(k literal struct scores)` embeds k·Dim
    * literals in the plan, which above UnrollMax costs O(k·Dim) analysis
    * + a huge codegen on EVERY plan construction; the join form scores
    * (query × broadcast codebook) rows and collapses to the same
    * sorted-tail via array_sort(collect_list) — identical floats
    * (graft_dot), identical (cos, neg_id) total order, and a groupBy over
    * 5 query keys, never a window over the vector set. */
  private[graft] def queryProbes(v: DataFrame, cells: Seq[(Long, Seq[Double])],
                                 nprobe: Int): DataFrame = {
    // centroid norms driver-side, same ascending-index fold as the oracle
    val withNorm = cellNorms(cells)
    def score(c: (Long, Seq[Double], Double)): Column = cellScore(c)
    // query side (5 rows): sort the k scores ascending, take the nprobe
    // tail — same total order as the assignment argmax
    val qScored =
      if (cells.size <= UnrollMax)
        v.filter(col("vec_id") < 5)
          .withColumn("scores", array(withNorm.map(score): _*))
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("norm").as("qnorm"), col("scores"))
      else {
        val s = v.sparkSession
        val cb = s.createDataFrame(withNorm).toDF("cell_id", "cv", "cnorm")
        v.filter(col("vec_id") < 5).crossJoin(broadcast(cb))
          .withColumn("sc", struct(
            (dot(col("v"), col("cv")) / (col("norm") * col("cnorm"))).as("cos"),
            (-col("cell_id")).as("neg_id")))
          .groupBy(col("vec_id"), col("v"), col("norm"))
          .agg(array_sort(collect_list(col("sc"))).as("scores"))
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("norm").as("qnorm"), col("scores"))
      }
    qScored
      .select(col("q_id"), col("qv"), col("qnorm"),
        explode(slice(array_sort(col("scores")), -nprobe, nprobe)).as("probe"))
      .select(col("q_id"), col("qv"), col("qnorm"),
        (-col("probe.neg_id")).as("cell_id"))
  }

  /** IVF candidate generation over an EXISTING postings relation (the
    * persisted-index read path; [[ivfCands]] fuses build+probe for the
    * registered one-shot queries). */
  private[graft] def ivfCandsFrom(assigned: DataFrame, v: DataFrame,
                                      cells: Seq[(Long, Seq[Double])],
                                      nprobe: Int = 1): DataFrame = {
    val q = queryProbes(v, cells, nprobe)
    assigned.join(broadcast(q), Seq("cell_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
  }

  /** X3's fixed codebook — the 16 lowest vec_ids, so both engines derive
    * identical cells (x3b k-means-trains instead). A 16-row collect,
    * memoized like the trained codebook. */
  private[graft] def fixedCodebook(s: SparkSession, d: String): Seq[(Long, Seq[Double])] =
    graft.Memo.value(s, d, "x3_fixed_codebook", "embeddings.parquet")(
      vecs(s, d).filter(col("vec_id") < NCells)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)

  /** X3 — IVF-style ANN: the plan shape (assign map-side, equi-join on
    * cell, exact re-rank) is the coarse-quantization scale path
    * (Σ O(|cell|·queries-in-cell) instead of O(n) per query). */
  private val x3: Q = (s, d) =>
    rerank(ivfCands(vecs(s, d), fixedCodebook(s, d)), Seq("cell_id"))

  /** Corpus size — ONE count against parquet row-group metadata,
    * memoized; the input every adaptive-k decision derives from. */
  private[graft] def corpusN(s: SparkSession, d: String): Long =
    graft.Memo.value(s, d, "embeddings_rowcount", "embeddings.parquet")(
      Tables.embeddings(s, d).count())

  /** ADAPTIVE codebook size k = max(8, ⌈√n⌉) — the blocking/IVF key must
    * REFINE as the corpus grows (VERDICT r8 item 1/7): a fixed k means
    * cells grow linearly with n, so within-cell pair work grows n²/k ~ n²
    * and IVF's candidate bound erodes (x3b measured 3.4× at the 10×
    * rehearsal). √n balances assignment cost (n·k) against within-cell
    * pair cost (n²/k) at n^1.5 each — sub-quadratic per decade, the
    * standard IVF sizing. */
  private[graft] def scaledK(s: SparkSession, d: String): Int =
    math.max(8, math.ceil(math.sqrt(corpusN(s, d).toDouble)).toInt)

  /** nprobe scales WITH k (≈ k/8) so the probed fraction of the corpus —
    * the recall lever — stays constant as the codebook refines; a fixed
    * nprobe over a growing k silently trades recall for speed. */
  private[graft] def scaledNprobe(s: SparkSession, d: String): Int =
    math.max(2, math.round(scaledK(s, d) / 8.0).toInt)

  /** The trained codebook at the adaptive size (3 Lloyd's iterations,
    * memoized per dir+mtime in KMeansCodebook). */
  private[graft] def scaledCodebook(s: SparkSession, d: String): Seq[(Long, Seq[Double])] =
    KMeansCodebook.centroidsFor(s, d, scaledK(s, d), 3)
      .map { case (id, cv) => (id.toLong, cv) }

  /** Every vector with its trained-cell assignment — THE blocking relation
    * of the embedding-dedup family (d5 pairs, d7 clusters, x6 decontam).
    * Row-local argmax over the broadcast codebook; no shuffle, no window.
    * Memoized (Memo shared-core contract): the assignment plan carries
    * k·dim literal centroids, and re-analyzing that tree per consumer cost
    * more than the assignment itself — materializing once is also exactly
    * the persisted postings relation a production build keeps on disk. */
  private[graft] def scaledAssigned(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "cell_asg", "embeddings.parquet")(
      assignCells(vecs(s, d), scaledCodebook(s, d)))

  /** X3b — IVF over a TRAINED codebook (KMeansCodebook, 3 Lloyd's
    * iterations) at the ADAPTIVE size k = ⌈√n⌉ with nprobe ≈ k/8: k-means
    * buys data-adaptive, balanced cells (bounded per-cell candidate cost
    * on clustered real embeddings; on the isotropic testdata it is
    * recall-neutral) and the probe count is the recall lever. Oracle-gated
    * via the literal-codebook SQL ([[dynamicOracles]]): training is
    * Spark-side, but the trained centroids are plain driver data both
    * engines can assign against identically. KMeansSpec additionally pins
    * an absolute recall floor. */
  private val x3b: Q = (s, d) =>
    // probes the MEMOIZED postings relation (scaledAssigned) instead of
    // re-assigning the whole corpus per query construction — the persisted-
    // index read path, and at sf10 the difference between a probe and a
    // fresh 90M-row assignment pass
    rerank(ivfCandsFrom(scaledAssigned(s, d), vecs(s, d), scaledCodebook(s, d),
      nprobe = scaledNprobe(s, d)), Seq("cell_id"))

  private val PqM = 8       // subspaces
  private val PqSub = 8     // dims per subspace (PqM · PqSub = Dim)
  private val PqTopMin = 50L // re-rank depth floor (gate scales use this)
  /** Exact-re-rank depth for the PQ path, scaled with the corpus: the ADC
    * approximation's per-pair error is scale-free, but the DENSITY of
    * near-boundary competitors grows with n, so a FIXED survivor depth
    * loses recall as the corpus grows — measured at the sf100 rehearsal:
    * recall@10 fell 1.00 → 0.38 at 2 M vectors with the old fixed 50.
    * n/5000 keeps the re-rank (PqTop point lookups per query) trivially
    * cheap while restoring headroom; every oracle-gate scale (≤200 k
    * vectors) stays exactly at the floor, so gate hashes are unchanged —
    * the oracle embeds the SAME formula's value per dir (dynamic since
    * this change). */
  private[graft] def pqTopFor(n: Long): Long = math.max(PqTopMin, n / 5000L)

  /** PQ codebook: subspace m's centroid for code k = the m-th slice of
    * fixed-codebook cell k's vector, with its squared norm. Sorted by id so
    * code values index the literal arrays positionally (ids are 0..15 —
    * required below). */
  private def pqCodebook(s: SparkSession, d: String): Seq[Seq[(Long, Seq[Double], Double)]] = {
    val cells = fixedCodebook(s, d).sortBy(_._1)
    require(cells.map(_._1) == (0L until NCells.toLong),
      s"PQ codes index positionally; expected ids 0..${NCells - 1}")
    (0 until PqM).map { m =>
      cells.map { case (id, cv) =>
        val c = cv.slice(m * PqSub, (m + 1) * PqSub)
        (id, c, c.map(x => x * x).sum)
      }
    }
  }

  /** X5 candidates — IVF-PQ (ADC): the 100 TB memory/bandwidth path.
    * Vectors are PRODUCT-QUANTIZED row-locally — per subspace, the code is
    * an unrolled argmax of 2·⟨v_sub, c⟩ − ‖c‖² (≡ argmin L2, same
    * statically-unrolled greatest() shape as the IVF assignment) — so each
    * vector's index entry is PqM small ints + one reconstruction norm, not
    * 64 doubles. Queries probe their 2 nearest IVF cells and carry a
    * per-subspace LOOKUP TABLE of partial dots (PqM×16 doubles on the
    * broadcast side); the candidate join then scores approximately by PqM
    * array lookups per pair — the asymmetric-distance computation — with
    * NO full-width dot product and no vector payload in the join. Only
    * the PqTop approx survivors per query fetch their true vector back
    * (a point-lookup join) for the exact re-rank, so exact-distance work
    * drops from |cell| to PqTop per query. */
  private[graft] def pqApprox(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val cells = fixedCodebook(s, d)
    val withNorm = cells.map { case (id, cv) =>
      (id, cv, math.sqrt(cv.map(x => x * x).sum)) }
    def cellScore(c: (Long, Seq[Double], Double)): Column =
      struct(
        (dot(col("v"), typedlit(c._2)) / (col("norm") * lit(c._3))).as("cos"),
        lit(-c._1).as("neg_id"))
    val sub = pqCodebook(s, d)
    // index side: cell + codes + reconstruction norm — all row-local (r13:
    // one native argmax + one native encode pass per row; same floats and
    // tie order as the unrolled greatest() forms — see cellIdOf/pqCodeCols)
    val assigned = pqCodeCols(
      v.select(col("vec_id"),
        cellIdOf(col("v"), col("norm"), cells).as("cell_id"), col("v")), sub)
    // query side (5 rows, broadcast): 2 probe cells + the ADC lookup tables
    val q = v.filter(col("vec_id") < 5)
      .withColumn("scores", array(withNorm.map(cellScore): _*))
      .select(Seq(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"),
        explode(slice(array_sort(col("scores")), -2, 2)).as("probe")) ++
        (0 until PqM).map(m => array(sub(m).map(c =>
          dot(slice(col("v"), m * PqSub + 1, PqSub), typedlit(c._2))): _*)
          .as(s"qlut$m")): _*)
      .withColumn("cell_id", -col("probe.neg_id"))
    assigned.join(broadcast(q), Seq("cell_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx_cos",
        (0 until PqM).map(m => element_at(col(s"qlut$m"), col(s"code$m") + 1))
          .reduce(_ + _) / (col("qnorm") * sqrt(col("recon_sq"))))
  }

  /** PqTop prune + exact re-rank over a given ADC-scored frame (so a
    * caller that also needs the pre-prune set for cost accounting can
    * materialize it ONCE and feed both consumers — x4 does). */
  private[graft] def pqCandsFrom(approx: DataFrame, s: SparkSession,
                                 d: String, depth: Long = -1L): DataFrame = {
    val wA = Window.partitionBy("q_id")
      .orderBy(col("approx_cos").desc, col("vec_id"))
    val top = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <=
        (if (depth > 0) depth else pqTopFor(corpusN(s, d))))
      .select(col("q_id"), col("vec_id"), col("qv"), col("qnorm"))
    // exact re-rank fetch: true vectors for the survivors only
    top.join(vecs(s, d).select(col("vec_id"), col("v"), col("norm")),
        Seq("vec_id"))
      .withColumn("cos_raw",
        dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
  }

  private[graft] def pqCands(s: SparkSession, d: String): DataFrame =
    pqCandsFrom(pqApprox(s, d), s, d)

  private val x5: Q = (s, d) => rerank(pqCands(s, d))

  /** x5b's probe count — CONSTANT, not k/8 (deliberately different from
    * x3b's scaledNprobe): PQ's recall lever is the exact re-rank depth
    * (pqTopFor, already ∝ n), so the coarse probe only has to SURFACE the
    * true neighbors into the ADC set, and a constant number of trained
    * cells does that on clustered embeddings (x4 gates it per round).
    * This is what makes x5b's candidate set ~nprobe·n/k = O(√n) per query
    * — the sub-linear scale shape x5's fixed 16-cell codebook could not
    * reach (its candidates were 2·n/16, linear; 236 s at sf100, VERDICT
    * r10 wrong #1). k/8 probes would restore a constant corpus FRACTION
    * (n/8 candidates — right for plain IVF, where missing a cell loses
    * the neighbor forever; wasteful for PQ, which re-ranks a deep exact
    * tail anyway). */
  private[graft] val PqTrainedNprobe = 12

  /** x5b's exact-re-rank depth: same adaptive n/5000 scaling as x5 but a
    * floor of 500 — at gate scales the probed pool (~12·√n per query) is
    * only ~250–550 candidates, so ANY aggressive cut just trades recall
    * for a prune that saves nothing (measured at sf0.1: 42/50 true pairs
    * in the probed cells, 37/50 surviving a 150-cut; a ≥pool floor makes
    * the cut a no-op there and recall equals cell recall). At the scales
    * where pruning pays the floor is a 3–9% cut (sf10: 500 of ~5.3 k
    * per query; sf100: 500 of ~16 k), and recall is MONOTONE in depth
    * (survivor supersets, exact re-rank), so the 1.00 sf10/sf100 battery
    * rows are preserved by construction. 500 exact point re-scores per
    * query is noise next to any scan. */
  private[graft] def pqTopTrainedFor(n: Long): Long = math.max(500L, n / 5000L)

  /** Per-subspace PQ sub-codebooks TRAINED on the corpus (16 codewords ×
    * PqM subspaces, k-means over the subspace slices — the production PQ
    * build, replacing x5's slices-of-the-fixed-codebook codewords). Each
    * training is KMeansCodebook.train on the sliced vectors: bounded
    * sample, decimal means, deterministic — so the codewords embed in the
    * oracle as exact literals (the scaledCodebook contract). Memoized;
    * returns per subspace the (code, codeword, ‖codeword‖²) rows sorted
    * by code 0..15 (positional lookup). */
  private[graft] def trainedPqCodebook(s: SparkSession,
                                       d: String): Seq[Seq[(Long, Seq[Double], Double)]] =
    graft.Memo.value(s, d, "pq_subcodebooks", "embeddings.parquet") {
      val v = vecs(s, d)
      // The PqM subspace trainings are INDEPENDENT deterministic jobs
      // (each reads only its own slice; decimal means make each result
      // merge-order-free), so they run from a small thread pool instead
      // of sequentially — Lloyd's is driver-round-trip bound at this
      // sample size (~8 tiny jobs per subspace), and overlapping the 8
      // chains back-fills the cluster exactly as guide §2.6 prescribes
      // (r13: build 5.1 s → measured below 2 s at sf0.1). Result order
      // is pinned by Future.sequence, so the codebooks (and the oracle
      // literals derived from them) are byte-identical to the
      // sequential build's.
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(PqM)
      try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        val futs = (0 until PqM).map { m => Future {
          val sliced = v.select(col("vec_id"),
            slice(col("v"), m * PqSub + 1, PqSub).as("v"))
          // l2 = true: PQ encodes by reconstruction error, so the
          // training argmin must be the serving argmin
          // (see KMeansCodebook.train)
          val cents = KMeansCodebook.train(sliced, NCells, 3, l2 = true)
          require(cents.map(_._1) == (0 until NCells),
            s"PQ codes index positionally; expected ids 0..${NCells - 1}")
          cents.map { case (id, cv) => (id.toLong, cv, cv.map(x => x * x).sum) }
        } }
        Await.result(Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** The PERSISTED PQ INDEX: every vector's trained cell + its PqM trained
    * codes + the reconstruction norm — ~34 bytes of index entry instead of
    * 512 bytes of vector, the memory/bandwidth compression PQ exists for.
    * Built from the memoized IVF postings (scaledAssigned: the coarse
    * assignment is paid once, shared with x3b/d5/d7/x6); the encode itself
    * is row-local (per subspace, a statically-unrolled argmax of
    * 2·⟨v_sub, c⟩ − ‖c‖² over 16 codeword literals). Memoized: this
    * relation is exactly what a production build writes to disk. */
  private[graft] def pqEncoded(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "pq_codes", "embeddings.parquet")(
      pqEncode(scaledAssigned(s, d), trainedPqCodebook(s, d)))

  /** PQ-encode any coarse-assigned postings frame (vec_id, v, cell_id)
    * against frozen sub-codebooks — row-local (per subspace, a
    * statically-unrolled argmax of 2·⟨v_sub, c⟩ − ‖c‖² over 16 codeword
    * literals), which is what makes the index admittable: encoding a
    * batch never looks at the stored codes. */
  private[graft] def pqEncode(assigned: DataFrame,
                              sub: Seq[Seq[(Long, Seq[Double], Double)]]): DataFrame =
    pqCodeCols(assigned.select(col("vec_id"), col("cell_id"), col("v")), sub)

  /** Attach code0..code{M−1} + recon_sq to any frame carrying `v`,
    * dropping `v`: ONE native graft_pq_codes pass computes all M codes
    * (expressions.PqCodes — same 2·dot−‖c‖² scores, same smaller-code tie
    * rule as the unrolled per-subspace greatest() it replaces, which paid
    * 2·M·K slice() allocations per row; NorthStarSpec law-compares the
    * two). recon_sq folds the per-subspace ‖codeword‖² in subspace order,
    * unchanged. */
  private def pqCodeCols(framed: DataFrame,
                         sub: Seq[Seq[(Long, Seq[Double], Double)]]): DataFrame = {
    val codes = call_function("graft_pq_codes", col("v"),
      typedlit(sub.map(_.map(_._2))), typedlit(sub.map(_.map(_._3))))
    framed
      .withColumn("_codes", codes)
      .select(framed.columns.filter(_ != "v").map(col).toSeq ++
        (0 until PqM).map(m =>
          element_at(col("_codes"), m + 1).as(s"code$m")): _*)
      .withColumn("recon_sq", (0 until PqM).map(m =>
        element_at(typedlit(sub(m).map(_._3)), col(s"code$m") + 1)).reduce(_ + _))
  }

  /** Admit a batch of new vectors into a stored PQ index (VERDICT r11
    * item 8 — the coarse IVF postings and the trigram/positional postings
    * all have admits; the PQ codes are just as per-row): coarse-assign
    * the batch against the FROZEN IVF codebook, encode against the FROZEN
    * sub-codebooks — both row-local — and append. Incremental ≡ one-shot
    * exactly (spec law), because codes depend only on (v, codebooks),
    * never on other rows. Re-admitting an id is the caller's dedup
    * concern (the appendIndex contract). */
  private[graft] def appendPqIndex(stored: DataFrame, delta: DataFrame,
                                   cells: Seq[(Long, Seq[Double])],
                                   sub: Seq[Seq[(Long, Seq[Double], Double)]]): DataFrame =
    stored.unionByName(pqEncode(assignCells(delta, cells), sub))

  /** X5B candidates — IVF-PQ over the TRAINED adaptive codebook: queries
    * probe their [[PqTrainedNprobe]] nearest trained cells (join-form
    * scoring — k = ⌈√n⌉ exceeds UnrollMax at scale) carrying per-subspace
    * ADC lookup tables over the TRAINED codewords; the candidate join runs
    * against the persisted PQ index ([[pqEncoded]]) — codes only, no
    * vector payload — and scores by PqM array lookups per pair. Survivors
    * fetch their true vectors for the exact re-rank (pqCandsFrom, depth
    * [[pqTopTrainedFor]]: max(500, n/5000)). Candidate volume:
    * nprobe·n/k ≈ 12√n per query. */
  private[graft] def pqApproxTrained(s: SparkSession, d: String): DataFrame =
    pqApproxTrainedOn(pqEncoded(s, d), s, d)

  /** The x5b ADC probe against an EXPLICIT index frame — factored so the
    * incremental-admit law can drive the real read path over an
    * incrementally-built index (the d9/tx16c probe-path convention). */
  private[graft] def pqApproxTrainedOn(index: DataFrame, s: SparkSession,
                                       d: String): DataFrame = {
    val v = vecs(s, d)
    val cells = scaledCodebook(s, d)
    val sub = trainedPqCodebook(s, d)
    // clamp: tiny corpora can have k < the constant probe count (sf0.001's
    // k = 8), and slice's negative-start tail must not exceed the array
    val q = queryProbes(v, cells, math.min(PqTrainedNprobe, cells.size))
      .select(Seq(col("q_id"), col("qv"), col("qnorm"), col("cell_id")) ++
        (0 until PqM).map(m => array(sub(m).map(c =>
          dot(slice(col("qv"), m * PqSub + 1, PqSub), typedlit(c._2))): _*)
          .as(s"qlut$m")): _*)
    index.join(broadcast(q), Seq("cell_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx_cos",
        (0 until PqM).map(m => element_at(col(s"qlut$m"), col(s"code$m") + 1))
          .reduce(_ + _) / (col("qnorm") * sqrt(col("recon_sq"))))
  }

  private val x5b: Q = (s, d) =>
    rerank(pqCandsFrom(
      pqApproxTrained(s, d)
        .select(col("q_id"), col("vec_id"), col("qv"), col("qnorm"),
          col("approx_cos")),
      s, d, pqTopTrainedFor(corpusN(s, d))))

  /** X4 — ANN recall/cost gate (VERDICT r2 item 4 + r3 item 2): recall@10
    * AND candidate-set size of each ANN path against the exact kNN
    * baseline, AS A QUERY — both the quality and the cost of every
    * approximate path are hash-compared per round instead of claimed. All
    * inputs are deterministic, so both metrics are too. Scaled-integer
    * basis points via ExactRatio (engine-portable rounding). */
  private val x4: Q = (s, d) => {
    // each candidate set feeds TWO aggregates (hits via rerank ∩ exact,
    // and the distinct-pair count); recomputing the generation stage for
    // the second consumer measured FASTER than persist() (6.2 s vs 4.5 s
    // at sf0.1 — materialization barriers beat pipelined recompute at
    // candidate-set sizes), so the lineage is deliberately unshared
    // the exact baseline is referenced by EVERY method row (7 hit-joins)
    // plus the total aggregate — 8 executions of the brute-force subtree
    // per x4 run (96 parquet scans in the r13 before-plan). Post-rerank it
    // is exactly queries×TopK = 50 rows, so the checkpoint is free and the
    // corpus-sized candX1 pass runs ONCE (r13: the per-candidate-set
    // recompute-not-persist note below is about the WIDE generation
    // frames, not this tiny result relation).
    val exact = x1(s, d).select(col("q_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val total = exact.agg(count(lit(1)).as("total"))
    // cand_pairs must count the candidate set the method's scoring join
    // actually touches — for ivf_pq that is the ADC-scored set (costCand),
    // NOT the PqTop post-prune survivors, or the cross-method cost
    // comparison is apples-to-oranges and a degenerate codebook blowing up
    // the candidate join would be invisible to the gate (self-review r5)
    def recallOf(cand: DataFrame, method: String,
                 costCand: Option[DataFrame] = None): DataFrame = {
      val nCand = costCand.getOrElse(cand)
        .select(col("q_id"), col("vec_id")).distinct()
        .agg(count(lit(1)).as("cand_pairs"))
      rerank(cand).select(col("q_id"), col("neighbor_id"))
        .join(exact, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(total))
        .crossJoin(broadcast(nCand))
        .select(lit(method).as("method"), col("hits"), col("total"),
          graft.functions.ExactRatio.scaled(col("hits"), col("total"), 10000L)
            .as("recall_bp"),
          col("cand_pairs"))
    }
    // the PQ row's two consumers share ONE materialized ADC pass: unlike
    // the cheap LSH/IVF generators above, pqApprox is the most expensive
    // candidate stage in the battery, and recomputing it for the cost
    // aggregate doubled x4's wall time (bench r5: 3.5 s → 7.6 s). The
    // checkpointed frame is pruned to the re-rank's five columns first.
    val ap = pqApprox(s, d)
      .select(col("q_id"), col("vec_id"), col("qv"), col("qnorm"),
        col("approx_cos"))
      .localCheckpoint(true)
    // the trained-PQ twin: same shared-ADC-pass economics as the fixed row
    val apT = pqApproxTrained(s, d)
      .select(col("q_id"), col("vec_id"), col("qv"), col("qnorm"),
        col("approx_cos"))
      .localCheckpoint(true)
    recallOf(ivfCands(vecs(s, d), fixedCodebook(s, d)), "ivf")
      .unionByName(recallOf(pqCandsFrom(ap, s, d), "ivf_pq", Some(ap)))
      // the production IVF-PQ (trained coarse cells + trained sub-
      // codebooks, constant nprobe): recall AND the ~√n candidate set are
      // hash-gated per round (VERDICT r10 item 1)
      .unionByName(recallOf(
        pqCandsFrom(apT, s, d, pqTopTrainedFor(corpusN(s, d))),
        "ivf_pq_trained", Some(apT)))
      // the trained ADAPTIVE codebook (x3b's path) measured in the same
      // battery — recall AND candidate cost of the √n-cell / k/8-probe
      // sizing are hash-gated per round, so a codebook or nprobe change
      // that erodes either is caught by the driver, not a spec rerun
      // (VERDICT r8 item 7)
      .unionByName(recallOf(
        ivfCandsFrom(scaledAssigned(s, d), vecs(s, d), scaledCodebook(s, d),
          scaledNprobe(s, d)),
        "ivf_trained"))
      .unionByName(recallOf(candX2(s, d), "lsh"))
      .unionByName(recallOf(candX2b(s, d), "lsh_mp"))
      .unionByName(recallOf(candX2c(s, d), "lsh_or"))
      .orderBy(col("method"))
  }

  /** MMR geometry: 5 picks, λ = 0.7 (relevance weight vs redundancy). */
  private val MmrK = 5

  /** X9 — MMR (maximal marginal relevance) DIVERSIFIED re-rank of x1's
    * exact top-k: greedily pick the candidate maximizing
    * λ·rel − (1−λ)·max sim-to-already-picked — the standard fix for an
    * ANN result list full of near-duplicates of one answer (in a dedup
    * engine the retrieval side should not re-surface the redundancy the
    * dedup side removes). Candidate-candidate cosines are computed ONCE
    * per query over the top-k only (k² rows per query, never corpus²),
    * and every greedy round is a per-query window argmax over ≤ k rows.
    * Cross-engine exactness: rel and sim are rounded to 4 dp FIRST, so
    * both engines run the greedy on identical decimals with identical
    * IEEE score arithmetic and vec_id tie-breaks — the pick sequence is
    * oracle-gated, not just spec-bounded. */
  private val x9: Q = (s, d) => {
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("norm"))
    val cand = rerank(candX1(s, d))
      .select(col("q_id"), col("neighbor_id").as("vec_id"), col("cos").as("rel"))
      .join(v, Seq("vec_id"))
      .localCheckpoint(true)
    val sims = cand.as("a").join(cand.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.q_id").as("q_id"), col("a.vec_id").as("i"),
        col("b.vec_id").as("j"),
        round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 4)
          .as("sim"))
      .localCheckpoint(true)
    // ONE row-local greedy per query (r14 — guide §4/§2.4): the per-query
    // candidate set is ≤ TopK rows and the sims ≤ TopK² — both collect to
    // per-query arrays in one shuffle, and the whole k-round greedy runs
    // as a higher-order-function fold over those arrays. The previous form
    // materialized FOUR checkpointed round frames, each a join + window +
    // union job chain over ≤ (queries·k) rows — pure orchestration cost
    // (driver r13: 2.07 s @32 for 25 output rows). Semantics preserved
    // exactly: same argmax order (score DESC, vec_id ASC), same double
    // arithmetic 0.7·rel − 0.3·maxsim on the same 4-dp-rounded inputs,
    // same inner-join rule (a remaining candidate with no sim row to any
    // picked doc cannot be picked), oracle-gated per round.
    val perQ = cand.groupBy(col("q_id"))
      .agg(collect_list(struct(col("vec_id"), col("rel"))).as("ca"))
      .join(
        sims.groupBy(col("q_id"))
          .agg(collect_list(struct(col("i"), col("j"), col("sim"))).as("sa")),
        Seq("q_id"), "left")
      .withColumn("sa", coalesce(col("sa"),
        expr("cast(array() as array<struct<i:bigint,j:bigint,sim:double>>)")))
    // first pick: argmax rel (ties: lowest vec_id) — order-independent
    // fold, so collect_list's nondeterministic array order cannot matter
    val fp = expr(
      """aggregate(ca, cast(null as struct<vec_id:bigint, rel:double>),
        | (b, c) -> CASE WHEN b IS NULL OR c.rel > b.rel
        |   OR (c.rel = b.rel AND c.vec_id < b.vec_id) THEN c ELSE b END)
        |""".stripMargin)
    // `best(acc)` is bound ONCE per round via the single-element transform
    // (HOF lambdas have no let-binding; inlining the argmax fold at each of
    // its four references quadrupled the expression tree and its one-off
    // codegen/analysis cost)
    val picks = expr(
      s"""aggregate(
         | sequence(2, $MmrK),
         | array(named_struct('vec_id', fp.vec_id, 'rel', fp.rel,
         |   'score', fp.rel, 'mmr_rank', CAST(1 AS BIGINT))),
         | (acc, r) -> element_at(transform(array(best(acc)),
         |   b -> CASE WHEN b IS NULL THEN acc
         |     ELSE concat(acc, array(named_struct(
         |       'vec_id', b.vec_id, 'rel', b.rel,
         |       'score', 0.7D * b.rel - 0.3D * b.ms,
         |       'mmr_rank', CAST(r AS BIGINT)))) END), 1))
         |""".stripMargin
        .replace("best(acc)",
          """aggregate(
            | filter(
            |  transform(
            |   filter(ca, c -> NOT exists(acc, p -> p.vec_id = c.vec_id)),
            |   c -> named_struct('vec_id', c.vec_id, 'rel', c.rel, 'ms',
            |     array_max(transform(
            |       filter(sa, t -> t.i = c.vec_id
            |         AND exists(acc, p -> p.vec_id = t.j)),
            |       t -> t.sim)))),
            |  x -> x.ms IS NOT NULL),
            | cast(null as struct<vec_id:bigint, rel:double, ms:double>),
            | (b, c) -> CASE WHEN b IS NULL THEN c
            |   WHEN (0.7D * c.rel - 0.3D * c.ms) > (0.7D * b.rel - 0.3D * b.ms) THEN c
            |   WHEN (0.7D * c.rel - 0.3D * c.ms) = (0.7D * b.rel - 0.3D * b.ms)
            |     AND c.vec_id < b.vec_id THEN c
            |   ELSE b END)""".stripMargin))
    perQ
      .withColumn("fp", fp)
      .withColumn("p", explode(picks))
      .select(col("q_id"), col("p.mmr_rank").as("mmr_rank"),
        col("p.vec_id").as("neighbor_id"), col("p.rel").as("rel"),
        round(col("p.score"), 4).as("mmr_score"))
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  /** X6 — EMBEDDING-LEVEL EVAL DECONTAMINATION: flag every eval-split
    * vector whose cosine to ANY train-split vector reaches the near-dup
    * threshold — the semantic counterpart of px4's n-gram decontamination
    * (paraphrases share no shingles but do share an embedding
    * neighborhood). The split is the deterministic vec_id parity (any
    * real pipeline substitutes its px10 group split); candidates are
    * blocked by TRAINED codebook cell exactly like d5 — k = ⌈√n⌉ refines
    * with the corpus, so the join is Σ|cell_train|·|cell_eval| within
    * cells whose size grows √n, never train×eval (the r8 form blocked on
    * the fixed 10-value label column, whose cells grew linearly — VERDICT
    * r8 item 1). Output is per-eval-vector: how many train contaminants
    * and the worst cosine — the report an eval curator acts on. */
  private val x6: Q = (s, d) => {
    val v = scaledAssigned(s, d)
    val train = v.filter(col("vec_id") % 2 === 0)
      .select(col("cell_id"), col("v").as("tv"), col("norm").as("tnorm"))
    val eval_ = v.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("cell_id"), col("v"), col("norm"))
    eval_.join(train, Seq("cell_id"))
      .withColumn("cos",
        round(dot(col("v"), col("tv")) / (col("norm") * col("tnorm")), 4))
      .filter(col("cos") >= 0.35)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_contaminants"), max(col("cos")).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** X7 — INT8 QUANTIZATION of the embedding column: per-vector symmetric
    * scale (max |x|), q_i = round(127·x_i / scale) — the 4× storage/
    * bandwidth compression every large embedding store applies before
    * indexing (x5's PQ is the codebook cousin; this is the scalar form).
    * Row-local HOFs, no shuffle. Cross-engine exactness: scale and the
    * scaled ratio are IEEE doubles computed by the same ops in both
    * engines, and round() rounds half away from zero in both; the gate
    * compares the quantized INTEGER stream (joined to one string before
    * md5) plus the saturation count — never a float-formatted string. */
  private val x7: Q = (s, d) => {
    graft.GraftExtensions.ensure(s)
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), dvec(col("embedding")).as("v"))
      .withColumn("scale", aggregate(col("v"), lit(0.0),
        (acc, x) => greatest(acc, abs(x))))
    v.select(col("vec_id"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") === 0.0, lit(0L))
            .otherwise(round(x * 127.0 / col("scale")).cast("long"))).as("q"))
      .select(col("vec_id"), col("scale"),
        md5(concat_ws(",", col("q"))).as("q_md5"),
        size(filter(col("q"), q => abs(q) === 127L)).cast("long").as("n_sat"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, Q] = Map(
    "x7_int8_quant" -> x7,
    "x6_embed_decontam" -> x6,
    "x1_knn_bruteforce" -> x1,
    "x2_ann_lsh" -> x2,
    "x2b_ann_multiprobe" -> x2b,
    "x2c_ann_or" -> x2c,
    "x3_ann_ivf" -> x3,
    "x3b_ann_ivf_trained" -> x3b,
    "x5_ann_ivfpq" -> x5,
    "x5b_ann_ivfpq_trained" -> x5b,
    "x4_ann_recall" -> x4,
    "x9_mmr_rerank" -> x9
  )

  private def planeSql(j: Int): String =
    planes(j).map(p => if (p > 0) "1.0" else "-1.0").mkString("[", ",", "]")
  private def orPlaneSql(t: Int, j: Int): String =
    orPlanes(t)(j).map(p => if (p > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  private val dotQSql =
    s"list_sum(list_transform(range($Dim), i -> a.v[i+1] * q.qv[i+1]))"
  private val normSql = "a.norm * q.qnorm"
  private val vNormSql =
    s"sqrt(list_sum(list_transform(range($Dim), i -> v[i+1] * v[i+1])))"
  private val bucketSql = (0 until NPlanes).map { j =>
    s"(CASE WHEN list_sum(list_transform(range($Dim), i -> v[i+1] * (${planeSql(j)})[i+1])) > 0 THEN ${1 << j} ELSE 0 END)"
  }.mkString(" + ")
  private def orBucketSql(t: Int): String = (0 until OrPlanes).map { j =>
    s"(CASE WHEN list_sum(list_transform(range($Dim), i -> v[i+1] * (${orPlaneSql(t, j)})[i+1])) > 0 THEN ${1 << j} ELSE 0 END)"
  }.mkString(" + ")

  /** Shared v0/v CTE prefix (vectors with norms). */
  private val vCte =
    s"""v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | v AS (SELECT vec_id, v, $vNormSql AS norm FROM v0)""".stripMargin

  /** The OR-LSH index/query/candidate CTE chain (through `c`: deduped
    * candidate pairs with cos). Reused by the x2c oracle and x4's
    * candidate count. */
  private val orCandCte =
    s"""$vCte,
       | bk AS (SELECT vec_id, v, norm,
       |   [${(0 until OrTables).map(orBucketSql).mkString(", ")}] AS bks FROM v),
       | idx AS (SELECT vec_id, v, norm, t.tid, bks[t.tid+1] AS bucket
       |   FROM bk, (SELECT unnest(range($OrTables)) AS tid) t),
       | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, tid, bucket
       |   FROM idx WHERE vec_id < 5),
       | c AS (SELECT DISTINCT q.q_id, a.vec_id, $dotQSql / ($normSql) AS cos_raw
       |   FROM idx a JOIN q ON a.tid = q.tid AND a.bucket = q.bucket
       |   WHERE a.vec_id <> q.q_id)""".stripMargin

  /** IVF-PQ CTE chain through `top` (approx survivors) and `ex` (exact
    * re-scored survivors). Float-fold order mirrors the Spark side
    * exactly: cell scores fold all 64 dims ascending; ADC partials fold
    * 16 dims per subspace and sum in subspace order; recon_sq sums the
    * per-subspace squared norms in subspace order. */
  private def pqCteFor(top: Long): String = {
    def subDot(xa: String, xb: String, m: Int): String =
      s"list_sum(list_transform(range($PqSub), i -> $xa[${m * PqSub} + i + 1] * $xb[${m * PqSub} + i + 1]))"
    val sqCols = (0 until PqM).map(m => s"${subDot("v", "v", m)} AS sq$m").mkString(", ")
    val encCtes = (0 until PqM).map { m =>
      s"""e$m AS (SELECT vec_id, code AS code$m FROM (
         |   SELECT a.vec_id, cb.code, row_number() OVER (PARTITION BY a.vec_id
         |     ORDER BY 2 * ${subDot("a.v", "cb.v", m)} - cb.sq$m DESC, cb.code) AS rn
         |   FROM v a CROSS JOIN cb) WHERE rn = 1)""".stripMargin
    }.mkString(",\n ")
    val encJoins = (0 until PqM).map(m => s"JOIN e$m USING (vec_id)").mkString(" ")
    val cbJoins = (0 until PqM).map(m => s"JOIN cb c$m ON c$m.code = e.code$m").mkString(" ")
    val reconSq = (0 until PqM).map(m => s"c$m.sq$m").mkString(" + ")
    val adc = (0 until PqM).map(m => subDot("c.qv", s"c$m.v", m)).mkString(" + ")
    s"""$vCte,
       | cb AS (SELECT vec_id AS code, v, $sqCols FROM v WHERE vec_id < $NCells),
       | $encCtes,
       | enc AS (SELECT v.vec_id, ${(0 until PqM).map(m => s"code$m").mkString(", ")}
       |   FROM v $encJoins),
       | cbv AS (SELECT vec_id AS cell_id, v AS cv, $vNormSql AS cnorm FROM v WHERE vec_id < $NCells),
       | asg0 AS (SELECT v.vec_id, v.v, v.norm, cbv.cell_id,
       |   list_sum(list_transform(range($Dim), i -> v.v[i+1] * cbv.cv[i+1])) / (v.norm * cbv.cnorm) AS cell_cos
       |   FROM v CROSS JOIN cbv),
       | asg AS (SELECT vec_id, cell_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS rc FROM asg0) WHERE rc = 1),
       | qp AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, cell_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS rc
       |   FROM asg0 WHERE vec_id < 5) WHERE rc <= 2),
       | cand AS (SELECT q.q_id, q.qv, q.qnorm, a.vec_id
       |   FROM asg a JOIN qp q ON a.cell_id = q.cell_id WHERE a.vec_id <> q.q_id),
       | ap AS (SELECT c.q_id, c.qv, c.qnorm, c.vec_id,
       |     ($adc) / (c.qnorm * sqrt($reconSq)) AS approx_cos
       |   FROM cand c JOIN enc e ON c.vec_id = e.vec_id $cbJoins),
       | top AS (SELECT q_id, qv, qnorm, vec_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, vec_id) AS ar FROM ap) WHERE ar <= $top),
       | ex AS (SELECT t.q_id, t.vec_id,
       |     list_sum(list_transform(range($Dim), i -> a.v[i+1] * t.qv[i+1])) / (a.norm * t.qnorm) AS cos_raw
       |   FROM top t JOIN v a ON a.vec_id = t.vec_id)""".stripMargin
  }

  /** Standalone candidate-pair queries (q_id, vec_id), one per ANN method
    * — x4's oracle counts them as subqueries (DuckDB allows WITH inside a
    * FROM subquery). */
  private def candPairSqlFor(top: Long): Map[String, String] = Map(
    "ivf_pq" ->
      s"""WITH ${pqCteFor(top)}
         | SELECT q_id, vec_id FROM ap""".stripMargin,
    "ivf" ->
      s"""WITH $vCte,
         | cb AS (SELECT vec_id AS cell_id, v AS cv, norm AS cnorm FROM v WHERE vec_id < $NCells),
         | asg0 AS (SELECT v.vec_id, v.v, v.norm, cb.cell_id,
         |   list_sum(list_transform(range($Dim), i -> v.v[i+1] * cb.cv[i+1])) / (v.norm * cb.cnorm) AS cell_cos
         |   FROM v CROSS JOIN cb),
         | asg AS (SELECT vec_id, v, norm, cell_id FROM (
         |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS rc FROM asg0) WHERE rc = 1),
         | q AS (SELECT vec_id AS q_id, cell_id FROM asg WHERE vec_id < 5)
         | SELECT q.q_id, a.vec_id FROM asg a JOIN q ON a.cell_id = q.cell_id
         | WHERE a.vec_id <> q.q_id""".stripMargin,
    "lsh" ->
      s"""WITH $vCte,
         | vb AS (SELECT vec_id, $bucketSql AS bucket FROM v),
         | q AS (SELECT vec_id AS q_id, bucket FROM vb WHERE vec_id < 5)
         | SELECT q.q_id, a.vec_id FROM vb a JOIN q ON a.bucket = q.bucket
         | WHERE a.vec_id <> q.q_id""".stripMargin,
    "lsh_mp" ->
      s"""WITH $vCte,
         | vb AS (SELECT vec_id, $bucketSql AS bucket FROM v),
         | q AS (SELECT q_id, p.probe AS bucket FROM
         |   (SELECT vec_id AS q_id, bucket FROM vb WHERE vec_id < 5),
         |   UNNEST([bucket, ${(0 until NPlanes).map(j => s"xor(bucket, ${1 << j})").mkString(", ")}]) AS p(probe)),
         | c AS (SELECT q.q_id, a.vec_id FROM vb a JOIN q ON a.bucket = q.bucket
         |   WHERE a.vec_id <> q.q_id)
         | SELECT q_id, vec_id FROM c""".stripMargin,
    "lsh_or" ->
      s"""WITH $orCandCte
         | SELECT q_id, vec_id FROM c""".stripMargin
  )

  /** x4's oracle — DYNAMIC since round 9: the battery includes the
    * trained-adaptive-codebook row (`ivf_trained`), whose candidate CTE
    * embeds the literal centroids, so the whole statement is generated
    * per dir (the other five methods' subqueries stay the static SQL). */
  private def x4SqlFor(s: SparkSession, d: String): String = {
    val candPairSql = candPairSqlFor(pqTopFor(corpusN(s, d)))
    val scaled = graft.functions.ExactRatio.scaledSql("hits", "total", 10000L)
    def row(method: String, out: String) =
      s"""SELECT '$method' AS method, hits, total, $scaled AS recall_bp, cand_pairs
         | FROM ${out}h, t, ${out}c""".stripMargin
    s"""WITH e AS (SELECT q_id, neighbor_id FROM (${oraclesBase("x1_knn_bruteforce")})),
       | l AS (SELECT q_id, neighbor_id FROM (${oraclesBase("x2_ann_lsh")})),
       | m AS (SELECT q_id, neighbor_id FROM (${oraclesBase("x2b_ann_multiprobe")})),
       | o AS (SELECT q_id, neighbor_id FROM (${oraclesBase("x2c_ann_or")})),
       | f AS (SELECT q_id, neighbor_id FROM (${oraclesBase("x3_ann_ivf")})),
       | p AS (SELECT q_id, neighbor_id FROM (${x5SqlFor(s, d)})),
       | pt AS (SELECT q_id, neighbor_id FROM (${x5bSqlFor(s, d)})),
       | w AS (SELECT q_id, neighbor_id FROM (${x3bSqlFor(s, d)})),
       | t AS (SELECT count(*) AS total FROM e),
       | lh AS (SELECT count(*) AS hits FROM l JOIN e USING (q_id, neighbor_id)),
       | mh AS (SELECT count(*) AS hits FROM m JOIN e USING (q_id, neighbor_id)),
       | oh AS (SELECT count(*) AS hits FROM o JOIN e USING (q_id, neighbor_id)),
       | fh AS (SELECT count(*) AS hits FROM f JOIN e USING (q_id, neighbor_id)),
       | ph AS (SELECT count(*) AS hits FROM p JOIN e USING (q_id, neighbor_id)),
       | pth AS (SELECT count(*) AS hits FROM pt JOIN e USING (q_id, neighbor_id)),
       | wh AS (SELECT count(*) AS hits FROM w JOIN e USING (q_id, neighbor_id)),
       | lc AS (SELECT count(*) AS cand_pairs FROM (SELECT DISTINCT q_id, vec_id FROM (${candPairSql("lsh")}))),
       | mc AS (SELECT count(*) AS cand_pairs FROM (SELECT DISTINCT q_id, vec_id FROM (${candPairSql("lsh_mp")}))),
       | oc AS (SELECT count(*) AS cand_pairs FROM (SELECT DISTINCT q_id, vec_id FROM (${candPairSql("lsh_or")}))),
       | fc AS (SELECT count(*) AS cand_pairs FROM (SELECT DISTINCT q_id, vec_id FROM (${candPairSql("ivf")}))),
       | pc AS (SELECT count(*) AS cand_pairs FROM (SELECT DISTINCT q_id, vec_id FROM (${candPairSql("ivf_pq")}))),
       | ptc AS (SELECT count(*) AS cand_pairs FROM (SELECT DISTINCT q_id, vec_id FROM (WITH ${x5bCteFor(s, d)} SELECT q_id, vec_id FROM ap))),
       | wc AS (SELECT count(*) AS cand_pairs FROM (SELECT DISTINCT q_id, vec_id FROM (WITH ${x3bCandCte(s, d)} SELECT q_id, vec_id FROM c)))
       | ${row("ivf", "f")}
       | UNION ALL
       | ${row("ivf_pq", "p")}
       | UNION ALL
       | ${row("ivf_pq_trained", "pt")}
       | UNION ALL
       | ${row("ivf_trained", "w")}
       | UNION ALL
       | ${row("lsh", "l")}
       | UNION ALL
       | ${row("lsh_mp", "m")}
       | UNION ALL
       | ${row("lsh_or", "o")}
       | ORDER BY method""".stripMargin
  }

  lazy val oracles: Map[String, String] =
    oraclesBase + ("x9_mmr_rerank" -> x9Sql)

  /** Shortest round-trip decimal for a double (Java's Double.toString):
    * DuckDB parses it back — whether through an exact DECIMAL literal cast
    * to DOUBLE or an E-notation DOUBLE literal — to the IDENTICAL bits,
    * because the shortest representation rounds to its source double by
    * definition. This is what makes Spark-trained centroids embeddable in
    * oracle SQL without any cross-engine float drift. */
  private def dlit(x: Double): String = java.lang.Double.toString(x)

  /** cb/asg0/asg CTE block over a LITERAL codebook: the Spark-trained
    * centroids (and their Scala-computed norms) rendered as VALUES rows,
    * followed by the same argmax-assignment SQL the x3/x5 oracles already
    * hash-match. Expects a `v` CTE (vec_id, v, norm) in scope. `asg` keeps
    * (vec_id, v, norm, cell_id) — the blocking relation. */
  private[operators] def litAsgCte(cells: Seq[(Long, Seq[Double])]): String = {
    val rows = cellNorms(cells).map { case (id, cv, n) =>
      s"($id, [${cv.map(dlit).mkString(",")}], ${dlit(n)})"
    }.mkString(",\n   ")
    s""" cb AS (SELECT t.cell_id, list_transform(t.cv, x -> CAST(x AS DOUBLE)) AS cv,
       |     CAST(t.cnorm AS DOUBLE) AS cnorm
       |   FROM (VALUES $rows) t(cell_id, cv, cnorm)),
       | asg0 AS (SELECT v.vec_id, v.v, v.norm, cb.cell_id,
       |   list_sum(list_transform(range($Dim), i -> v.v[i+1] * cb.cv[i+1])) / (v.norm * cb.cnorm) AS cell_cos
       |   FROM v CROSS JOIN cb),
       | asg AS (SELECT vec_id, v, norm, cell_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS rc FROM asg0) WHERE rc = 1)""".stripMargin
  }

  /** The trained-codebook CTE for `d`'s embeddings at the adaptive size —
    * shared by this object's dynamic oracles and Dedup's (d5/d7). */
  private[operators] def scaledAsgCte(s: SparkSession, d: String): String =
    litAsgCte(scaledCodebook(s, d))

  private def x6SqlFor(s: SparkSession, d: String): String =
    s"""WITH $vCte,
       |${scaledAsgCte(s, d)},
       | t AS (SELECT cell_id, v AS tv, norm AS tnorm FROM asg WHERE vec_id % 2 = 0),
       | e AS (SELECT vec_id, cell_id, v, norm FROM asg WHERE vec_id % 2 = 1),
       | c AS (SELECT e.vec_id,
       |   round(list_sum(list_transform(range($Dim), i -> e.v[i+1] * t.tv[i+1]))
       |     / (e.norm * t.tnorm), 4) AS cos
       |  FROM e JOIN t ON e.cell_id = t.cell_id)
       | SELECT vec_id, count(*) AS n_contaminants, max(cos) AS max_cos
       | FROM c WHERE cos >= 0.35 GROUP BY 1 ORDER BY vec_id""".stripMargin

  /** The trained-IVF CTE chain through `c` (candidates with cos_raw) —
    * shared by x3b's full oracle and x4's `ivf_trained` hit/cost rows. */
  private def x3bCandCte(s: SparkSession, d: String): String = {
    val np = scaledNprobe(s, d)
    s"""$vCte,
       |${scaledAsgCte(s, d)},
       | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, cell_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS rc
       |   FROM asg0 WHERE vec_id < 5) WHERE rc <= $np),
       | c AS (SELECT q.q_id, a.vec_id, a.cell_id, $dotQSql / ($normSql) AS cos_raw
       |   FROM asg a JOIN q ON a.cell_id = q.cell_id WHERE a.vec_id <> q.q_id)""".stripMargin
  }

  private def x3bSqlFor(s: SparkSession, d: String): String =
    s"""WITH ${x3bCandCte(s, d)},
       | r AS (SELECT q_id, vec_id, cell_id, cos_raw,
       |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM c)
       | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos, cell_id
       | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** Oracles that EMBED data-derived literals (the trained codebook), so
    * they cannot be static strings: Verify generates them against the
    * actual data dir at dump time (SparkEntry.oracleSqlFor). Training is
    * deterministic per (dir, data) — decimal-mean Lloyd's — so both
    * engines see the same cells and the hash gate stays exact. */
  /** Declared statically so callers (Verify subset runs) can decide
    * whether generation — which trains the codebook — is needed at all,
    * without invoking it. */
  val dynamicOracleKeys: Set[String] =
    Set("x6_embed_decontam", "x3b_ann_ivf_trained", "x4_ann_recall",
      "x5_ann_ivfpq", "x5b_ann_ivfpq_trained")

  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = Map(
    "x5_ann_ivfpq" -> x5SqlFor(s, d),
    "x5b_ann_ivfpq_trained" -> x5bSqlFor(s, d),
    "x6_embed_decontam" -> x6SqlFor(s, d),
    "x3b_ann_ivf_trained" -> x3bSqlFor(s, d),
    "x4_ann_recall" -> x4SqlFor(s, d))

  /** x9's oracle: the greedy unrolled to [[MmrK]] stages, generated from
    * the same constants as the Spark loop so k and λ cannot drift. */
  private lazy val x9Sql: String = {
    val simsDot = s"list_sum(list_transform(range($Dim), i -> a.v[i+1] * b.v[i+1]))"
    val head =
      s"""WITH $vCte,
         | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM v WHERE vec_id < 5),
         | c0 AS (SELECT q.q_id, a.vec_id, $dotQSql / ($normSql) AS cos_raw
         |   FROM v a CROSS JOIN q WHERE a.vec_id <> q.q_id),
         | cr AS (SELECT q_id, vec_id, cos_raw, row_number() OVER
         |     (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM c0),
         | cand AS (SELECT q_id, vec_id, round(cos_raw, 4) AS rel
         |   FROM cr WHERE rank <= $TopK),
         | cv AS (SELECT cand.q_id, cand.vec_id, cand.rel, v.v, v.norm
         |   FROM cand JOIN v USING (vec_id)),
         | sims AS (SELECT a.q_id, a.vec_id AS i, b.vec_id AS j,
         |     round($simsDot / (a.norm * b.norm), 4) AS sim
         |   FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
         | sel1 AS (SELECT q_id, vec_id, rel, rel AS score FROM
         |   (SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1)""".stripMargin
    val rounds = (2 to MmrK).map { r =>
      val selUnion = (1 until r).map(k => s"SELECT q_id, vec_id FROM sel$k")
        .mkString(" UNION ALL ")
      s""" pen$r AS (SELECT s.q_id, s.i AS vec_id, max(s.sim) AS maxsim
         |   FROM sims s JOIN ($selUnion) t ON s.q_id = t.q_id AND s.j = t.vec_id
         |   GROUP BY 1, 2),
         | sc$r AS (SELECT c.q_id, c.vec_id, c.rel,
         |     0.7 * c.rel - 0.3 * p.maxsim AS score
         |   FROM cand c JOIN pen$r p ON c.q_id = p.q_id AND c.vec_id = p.vec_id
         |   WHERE NOT EXISTS (SELECT 1 FROM ($selUnion) u
         |     WHERE u.q_id = c.q_id AND u.vec_id = c.vec_id)),
         | sel$r AS (SELECT q_id, vec_id, rel, score FROM
         |   (SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, vec_id) AS rn FROM sc$r) WHERE rn = 1)""".stripMargin
    }
    val selAll = (1 to MmrK)
      .map(k => s"SELECT q_id, vec_id, rel, score, $k AS mmr_rank FROM sel$k")
      .mkString(" UNION ALL ")
    s"$head,\n${rounds.mkString(",\n")}\n" +
      " SELECT q_id, CAST(mmr_rank AS BIGINT) AS mmr_rank," +
      " vec_id AS neighbor_id, rel, round(score, 4) AS mmr_score" +
      s" FROM ($selAll) ORDER BY q_id, mmr_rank"
  }

  private lazy val oraclesBase: Map[String, String] = Map(
    "x7_int8_quant" ->
      """WITH v0 AS (SELECT vec_id,
        |     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | sc AS (SELECT vec_id, v,
        |   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale FROM v0),
        | q AS (SELECT vec_id, scale,
        |   list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |     ELSE CAST(round(x * 127.0 / scale) AS BIGINT) END) AS q FROM sc)
        | SELECT vec_id, scale,
        |   md5(array_to_string(q, ',')) AS q_md5,
        |   CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        | FROM q ORDER BY vec_id""".stripMargin,
    "x1_knn_bruteforce" ->
      s"""WITH $vCte,
         | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM v WHERE vec_id < 5),
         | c AS (SELECT q.q_id, a.vec_id, $dotQSql / ($normSql) AS cos_raw
         |   FROM v a CROSS JOIN q WHERE a.vec_id <> q.q_id),
         | r AS (SELECT q_id, vec_id, cos_raw,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM c)
         | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos
         | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "x3_ann_ivf" ->
      s"""WITH $vCte,
         | cb AS (SELECT vec_id AS cell_id, v AS cv, norm AS cnorm FROM v WHERE vec_id < $NCells),
         | asg0 AS (SELECT v.vec_id, v.v, v.norm, cb.cell_id,
         |   list_sum(list_transform(range($Dim), i -> v.v[i+1] * cb.cv[i+1])) / (v.norm * cb.cnorm) AS cell_cos
         |   FROM v CROSS JOIN cb),
         | asg AS (SELECT vec_id, v, norm, cell_id FROM (
         |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS rc FROM asg0) WHERE rc = 1),
         | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, cell_id FROM asg WHERE vec_id < 5),
         | c AS (SELECT q.q_id, a.vec_id, a.cell_id, $dotQSql / ($normSql) AS cos_raw
         |   FROM asg a JOIN q ON a.cell_id = q.cell_id WHERE a.vec_id <> q.q_id),
         | r AS (SELECT q_id, vec_id, cell_id, cos_raw,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM c)
         | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos, cell_id
         | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "x2_ann_lsh" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | v AS (SELECT vec_id, v, $vNormSql AS norm, $bucketSql AS bucket FROM v0),
         | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, bucket FROM v WHERE vec_id < 5),
         | c AS (SELECT q.q_id, a.vec_id, a.bucket, $dotQSql / ($normSql) AS cos_raw
         |   FROM v a JOIN q ON a.bucket = q.bucket WHERE a.vec_id <> q.q_id),
         | r AS (SELECT q_id, vec_id, bucket, cos_raw,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM c)
         | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos, bucket
         | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "x2b_ann_multiprobe" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | v AS (SELECT vec_id, v, $vNormSql AS norm, $bucketSql AS bucket FROM v0),
         | q0 AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, bucket FROM v WHERE vec_id < 5),
         | q AS (SELECT q_id, qv, qnorm, p.probe AS bucket FROM q0,
         |   UNNEST([bucket, ${(0 until NPlanes).map(j => s"xor(bucket, ${1 << j})").mkString(", ")}]) AS p(probe)),
         | c AS (SELECT q.q_id, a.vec_id, $dotQSql / ($normSql) AS cos_raw
         |   FROM v a JOIN q ON a.bucket = q.bucket WHERE a.vec_id <> q.q_id),
         | r AS (SELECT q_id, vec_id, cos_raw,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM c)
         | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos
         | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "x2c_ann_or" ->
      s"""WITH $orCandCte,
         | r AS (SELECT q_id, vec_id, cos_raw,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM c)
         | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos
         | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
  )

  /** x5's oracle — DYNAMIC since the adaptive re-rank depth: the PQ CTE
    * embeds pqTopFor(corpus size), which the static map cannot know. */
  private def x5SqlFor(s: SparkSession, d: String): String =
    s"""WITH ${pqCteFor(pqTopFor(corpusN(s, d)))},
       | r AS (SELECT q_id, vec_id, cos_raw,
       |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM ex)
       | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos
       | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** x5b's CTE chain through ap/ex over LITERAL TRAINED codebooks: coarse
    * cells from the adaptive k-means codebook (scaledAsgCte — the same cb/
    * asg0/asg block x3b/d5 hash-match), per-subspace codeword VALUES
    * tables (pcb$m), per-vector argmax codes, ADC against cell-local
    * postings, survivors exactly re-scored. Float-fold parity with the
    * Spark side: codeword arrays are 8-dim literals indexed [i+1] against
    * the full-width vector indexed [m·8+i+1], folded ascending — the same
    * order graft_dot pins on the slice. */
  private def x5bCteFor(s: SparkSession, d: String): String = {
    val np = math.min(PqTrainedNprobe, scaledCodebook(s, d).size)
    val topN = pqTopTrainedFor(corpusN(s, d))
    val sub = trainedPqCodebook(s, d)
    def subDotQ(xa: String, cvRef: String, m: Int): String =
      s"list_sum(list_transform(range($PqSub), i -> $xa[${m * PqSub} + i + 1] * $cvRef[i + 1]))"
    val pcbCtes = (0 until PqM).map { m =>
      val rows = sub(m).map { case (code, cv, sq) =>
        s"($code, [${cv.map(dlit).mkString(",")}], ${dlit(sq)})"
      }.mkString(",\n   ")
      s""" pcb$m AS (SELECT t.code, list_transform(t.cv, x -> CAST(x AS DOUBLE)) AS cv,
         |     CAST(t.sq AS DOUBLE) AS sq
         |   FROM (VALUES $rows) t(code, cv, sq))""".stripMargin
    }.mkString(",\n")
    val encCtes = (0 until PqM).map { m =>
      s""" e$m AS (SELECT vec_id, code AS code$m FROM (
         |   SELECT a.vec_id, cb.code, row_number() OVER (PARTITION BY a.vec_id
         |     ORDER BY 2 * ${subDotQ("a.v", "cb.cv", m)} - cb.sq DESC, cb.code) AS rn
         |   FROM v a CROSS JOIN pcb$m cb) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val encJoins = (0 until PqM).map(m => s"JOIN e$m USING (vec_id)").mkString(" ")
    val cbJoins = (0 until PqM).map(m => s"JOIN pcb$m c$m ON c$m.code = e.code$m").mkString(" ")
    val reconSq = (0 until PqM).map(m => s"c$m.sq").mkString(" + ")
    val adc = (0 until PqM).map(m => subDotQ("c.qv", s"c$m.cv", m)).mkString(" + ")
    s"""$vCte,
       |${scaledAsgCte(s, d)},
       |$pcbCtes,
       |$encCtes,
       | enc AS (SELECT v.vec_id, ${(0 until PqM).map(m => s"code$m").mkString(", ")}
       |   FROM v $encJoins),
       | qp AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, cell_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS rc
       |   FROM asg0 WHERE vec_id < 5) WHERE rc <= $np),
       | cand AS (SELECT q.q_id, q.qv, q.qnorm, a.vec_id
       |   FROM asg a JOIN qp q ON a.cell_id = q.cell_id WHERE a.vec_id <> q.q_id),
       | ap AS (SELECT c.q_id, c.qv, c.qnorm, c.vec_id,
       |     ($adc) / (c.qnorm * sqrt($reconSq)) AS approx_cos
       |   FROM cand c JOIN enc e ON c.vec_id = e.vec_id $cbJoins),
       | top AS (SELECT q_id, qv, qnorm, vec_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, vec_id) AS ar FROM ap) WHERE ar <= $topN),
       | ex AS (SELECT t.q_id, t.vec_id,
       |     list_sum(list_transform(range($Dim), i -> a.v[i+1] * t.qv[i+1])) / (a.norm * t.qnorm) AS cos_raw
       |   FROM top t JOIN v a ON a.vec_id = t.vec_id)""".stripMargin
  }

  private def x5bSqlFor(s: SparkSession, d: String): String =
    s"""WITH ${x5bCteFor(s, d)},
       | r AS (SELECT q_id, vec_id, cos_raw,
       |   row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank FROM ex)
       | SELECT q_id, rank, vec_id AS neighbor_id, round(cos_raw, 4) AS cos
       | FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
}
