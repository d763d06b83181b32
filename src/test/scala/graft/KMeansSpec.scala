package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import operators.Similarity.{cellNorms, cellScore}

/** The pre-r13 plans of the cell assignment and the PQ encode, kept as the
  * law REFERENCES the native expressions (graft_argmax_cell,
  * graft_pq_codes) are compared against. */
object SimilarityReferences {
  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** The statically-unrolled argmax: k literal struct scores through
    * greatest(); only valid ≤ UnrollMax. */
  def assignCellsUnrolled(v: DataFrame, cells: Seq[(Long, Seq[Double])]): DataFrame =
    v.withColumn("best", greatest(cellNorms(cells).map(cellScore): _*))
      .select(col("vec_id"), col("v"), col("norm"),
        (-col("best.neg_id")).as("cell_id"))

  /** Join-form assignment: broadcast the k-row codebook, score each
    * (vector, cell) pair, keep the per-vector argmax via max over the SAME
    * (cos, -cell_id) struct order the unrolled form compares, then join
    * the winning cell back to the vector payload. */
  def assignCellsJoin(v: DataFrame, cells: Seq[(Long, Seq[Double])]): DataFrame = {
    val cb = v.sparkSession.createDataFrame(cellNorms(cells)).toDF("cell_id", "cv", "cnorm")
    val best = v.crossJoin(broadcast(cb))
      .select(col("vec_id"), struct(
        (dot(col("v"), col("cv")) / (col("norm") * col("cnorm"))).as("cos"),
        (-col("cell_id")).as("neg_id")).as("score"))
      .groupBy(col("vec_id"))
      .agg(max(col("score")).as("b"))
      .select(col("vec_id"), (-col("b.neg_id")).as("cell_id"))
    v.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("norm"), col("cell_id"))
  }

  /** The unrolled encode: per subspace, the greatest() of the literal
    * codeword scores. */
  def pqEncodeUnrolled(assigned: DataFrame,
                       sub: Seq[Seq[(Long, Seq[Double], Double)]]): DataFrame = {
    val width = sub.head.head._2.length
    def encScore(m: Int, c: (Long, Seq[Double], Double)): Column =
      struct(
        (lit(2.0) * dot(slice(col("v"), m * width + 1, width), typedlit(c._2))
          - lit(c._3)).as("s"),
        lit(-c._1).as("nc"))
    assigned
      .select(Seq(col("vec_id"), col("cell_id")) ++
        sub.indices.map(m =>
          (-greatest(sub(m).map(c => encScore(m, c)): _*).getField("nc"))
            .cast("int").as(s"code$m")): _*)
      .withColumn("recon_sq", sub.indices.map(m =>
        element_at(typedlit(sub(m).map(_._3)), col(s"code$m") + 1)).reduce(_ + _))
  }
}

/** The trained IVF codebook path (x3b): Lloyd's iterations must produce a
  * stable k-cell codebook with usable recall. On the isotropic random
  * testdata, k-means is recall-NEUTRAL vs the fixed-vector codebook
  * (measured: it can land a few hits above or below depending on scale
  * factor) — its value is data-adaptive, balanced cells on clustered real
  * embeddings — so the gate is an absolute recall floor, not a
  * beats-the-stub comparison. */
class KMeansSpec extends SparkSpec {

  test("codebook is k stable cells of the embedding dimension") {
    val cb = operators.KMeansCodebook.forEmbeddings(spark, sf, 16, 2).collect()
    assert(cb.length === 16)
    assert(cb.map(_.getInt(0)).toSet === (0 until 16).toSet)
    assert(cb.forall(_.getSeq[Double](1).length === 64))
    assert(cb.forall(r => r.getDouble(2) > 0.0)) // no degenerate centroid
  }

  test("native, unrolled and join-form cell assignment are identical") {
    import org.apache.spark.sql.functions._
    // the same codebook through all three forms must assign every vector
    // to the identical cell — a plan-shape switch can never change an
    // answer: native CellArgmax loop (assignCells since r13) vs the
    // k-literal greatest() unroll vs broadcast join + max_by
    val cells = operators.Similarity.scaledCodebook(spark, sf)
    val v = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    assert(cells.size <= operators.Similarity.UnrollMax) // unroll form valid
    val native = operators.Similarity.assignCells(v, cells)
      .select("vec_id", "cell_id")
    val unrolled = SimilarityReferences.assignCellsUnrolled(v, cells)
      .select("vec_id", "cell_id")
    val joined = SimilarityReferences.assignCellsJoin(v, cells)
      .select("vec_id", "cell_id")
    assert(native.exceptAll(unrolled).isEmpty && unrolled.exceptAll(native).isEmpty)
    assert(native.exceptAll(joined).isEmpty && joined.exceptAll(native).isEmpty)
  }

  test("native PQ encode equals the unrolled per-subspace argmax exactly") {
    // graft_pq_codes (one native pass, all subspaces) vs the unrolled
    // greatest() reference — codes AND recon_sq must match bit for bit
    val asg = operators.Similarity.scaledAssigned(spark, sf)
    val sub = operators.Similarity.trainedPqCodebook(spark, sf)
    val native = operators.Similarity.pqEncode(asg, sub)
    val unrolled = SimilarityReferences.pqEncodeUnrolled(asg, sub)
    assert(native.columns.toSeq === unrolled.columns.toSeq)
    assert(native.exceptAll(unrolled).isEmpty && unrolled.exceptAll(native).isEmpty)
  }

  test("k-means training at k above UnrollMax produces a stable codebook") {
    // exercises train()'s join-form assignment branch (the sf1+ path where
    // k = ceil(sqrt(n)) exceeds the unroll threshold)
    val k = operators.Similarity.UnrollMax + 6
    val cb = operators.KMeansCodebook.forEmbeddings(spark, sf, k, 2).collect()
    assert(cb.length === k)
    assert(cb.forall(_.getSeq[Double](1).length === 64))
    assert(cb.forall(r => r.getDouble(2) > 0.0))
  }

  test("join-form probe path (k > UnrollMax) matches a driver-side recompute exactly") {
    import org.apache.spark.sql.functions._
    // above UnrollMax BOTH sides of ivfCands switch to the join form
    // (assignment AND query-side probe scoring); the candidate set must
    // equal a from-scratch driver-side argmax over the same floats
    // (ascending-fold dot products — bit-identical to graft_dot)
    val k = operators.Similarity.UnrollMax + 6
    val nprobe = 3
    val cells = operators.KMeansCodebook.centroidsFor(spark, sf, k, 2)
      .map { case (id, cv) => (id.toLong, cv) }
    val v = operators.Similarity.vecs(spark, sf)
    val cand = operators.Similarity.ivfCands(v, cells, nprobe)
      .select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // driver-side mirror
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }; acc
    }
    val cn = cells.map { case (id, cv) => (id, cv, math.sqrt(cv.map(x => x * x).sum)) }
    val vs = v.select(col("vec_id"), col("v"), col("norm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    def scores(vec: Seq[Double], norm: Double) =
      cn.map { case (id, cv, cnorm) => ((dot(vec, cv) / (norm * cnorm), -id), id) }
    val assign = vs.map { case (id, vec, norm) =>
      id -> scores(vec, norm).maxBy(_._1)._2 }.toMap
    val expected = (for {
      (qid, qv, qn) <- vs if qid < 5
      probed = scores(qv, qn).sortBy(_._1).takeRight(nprobe).map(_._2).toSet
      (vid, _, _) <- vs if vid != qid && probed.contains(assign(vid))
    } yield (qid, vid)).toSet
    assert(cand === expected)
  }

  test("l2 k-means separates norm-stratified clusters that dot training collapses") {
    val sp = spark; import sp.implicits._
    // two tight clusters along the SAME direction at norms 1 and 10: dot
    // scoring ranks the large-norm centroid above the small cluster's own
    // (10 > 1 for a norm-1 point), so dot training collapses everything
    // into one cell; the l2 argmin ‖v−c‖² keeps them apart — the property
    // PQ encoding depends on (x5b trains its sub-codebooks with l2 = true)
    val rnd = new scala.util.Random(7)
    def pt(base: Double): Seq[Double] =
      (0 until 4).map(i =>
        (if (i == 0) base else 0.0) + rnd.nextGaussian() * 0.01)
    val rows = (0L until 40L).map(i =>
      (i, pt(if (i % 2 == 0) 1.0 else 10.0)))
    val df = rows.toDF("vec_id", "v")
    def assignCounts(cents: Seq[(Int, Seq[Double])], l2: Boolean): Map[Int, Int] =
      rows.groupBy { case (_, v) =>
        cents.maxBy { case (id, c) =>
          val dot = v.zip(c).map { case (a, b) => a * b }.sum
          val score = if (l2) 2 * dot - c.map(x => x * x).sum else dot
          (score, -id)
        }._1
      }.view.mapValues(_.size).toMap
    val l2Cents = operators.KMeansCodebook.train(df, 2, 3, l2 = true)
    assert(assignCounts(l2Cents, l2 = true).values.toSeq.sorted === Seq(20, 20))
    val l2Norms = l2Cents.map(c => math.sqrt(c._2.map(x => x * x).sum)).sorted
    assert(math.abs(l2Norms(0) - 1.0) < 0.1 && math.abs(l2Norms(1) - 10.0) < 0.1)
    // control: dot training + dot serving lumps every point into one cell
    val dotCents = operators.KMeansCodebook.train(df, 2, 3)
    assert(assignCounts(dotCents, l2 = false).size === 1)
  }

  test("trained adaptive codebook + scaled nprobe clears an absolute recall floor") {
    val exact = q("x1_knn_bruteforce").select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trained = q("x3b_ann_ivf_trained").select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).count(exact)
    // k = ceil(sqrt(n)) cells probed at nprobe ~ k/8 keeps the probed
    // corpus fraction ~1/8 as the codebook refines; recall measured
    // 0.76-0.9 across SFs — 0.5 is a robust floor far above the 1/8
    // random-candidate baseline
    assert(trained * 2 >= exact.size, s"trained=$trained of ${exact.size}")
    // the probe count actually scales with the codebook
    val k = operators.Similarity.scaledK(spark, sf)
    assert(operators.Similarity.scaledNprobe(spark, sf) ===
      math.max(2, math.round(k / 8.0).toInt))
  }
}
