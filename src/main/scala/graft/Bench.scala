package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Pinned reference time for the calibration workload (seconds), measured
    * once on the round-6 build machine. `total_normalized` = total ·
    * CalibRefSec / calib_sec — a judge/driver comparing rounds divides out
    * machine drift arithmetically instead of guessing (VERDICT r5 item 2:
    * the 2x perf gate was hostage to 2-3x cross-session VM variance). */
  private val CalibRefSec = 1.34

  /** Code-independent micro-workload: shuffle + sort + agg over a generated
    * range — touches codegen, hash-agg, exchange, and TakeOrdered, the same
    * machinery the real queries run on, but depends on NO graft operator,
    * so its time moves only when the machine does. One UNTIMED warmup run
    * first (the probe must not charge its own codegen/JIT to the machine —
    * a cold first call measured 2x a warmed one), then three timed runs,
    * min taken (min is the contention-robust estimator of machine speed). */
  private def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def run(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L)
        .select((col("id") * 2654435761L % 1048576L).as("k"), col("id"))
        .groupBy(col("k"))
        .agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
        .orderBy(col("s").desc).limit(100).collect()
      (System.nanoTime() - t0) / 1e9
    }
    run() // warmup, discarded
    (1 to 3).map(_ => run()).min
  }

  /** Force FULL evaluation of a query's output: xxhash64 over every output
    * column, summed. `count()` is not an honest benchmark action — Catalyst
    * legally deletes work that cannot change the row count, and round 10
    * caught it red-handed: px17's argmax became a grouped aggregate
    * (provably unique join key), so count() ELIMINATED the left joins and
    * with them the entire candidate-join subtree — 0.25 s "measured" for a
    * query whose real cost is ~500 s at sf10. Hashing references every
    * column, so join elimination and output-column pruning are both off
    * the table, while final sorts stay excluded (EliminateSorts removes an
    * ordering under an aggregate — count() excluded them too, keeping
    * cross-round numbers comparable). All registered outputs are scalar
    * columns (driver-comparator contract), so xxhash64 accepts them. */
  private[graft] def evaluate(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    // bit_xor, not sum: summing 64-bit hashes overflows, and ANSI mode
    // (Spark 4 default) turns that into a runtime error; xor is order-
    // insensitive and overflow-free. df(name), not col(name): apply()
    // resolves the name LITERALLY, where col() would parse a dot or
    // backtick as a nested-field path (ADVICE r10 — latent only, but the
    // bench must not constrain future output naming)
    df.select(xxhash64(df.columns.map(df.apply): _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, "graft-bench")
    // dev loop: an optional comma-separated arg restricts to named queries
    // (isolated timings — full-run numbers carry ±2x cross-query noise)
    val only = args.headOption.map(_.split(",").toSet)
    // Shared-core (Memo) builds are attributed to their OWN `memo:<tag>`
    // line items, and the enclosing query's time is reported build-free:
    // memoization made per-query numbers order-dependent (the first query
    // touching a core paid its whole build — d10 vs d2 in BENCH_r08), so
    // cross-round per-query comparison needs the build cost separated
    // (VERDICT r8 item 3). Warmup-phase builds are captured the same way
    // (their wall-clock is measured inside Memo, not by this loop), so
    // every core build in the session is visible exactly once and the
    // suite total = pure query time + all core builds.
    Memo.drainBuilds() // discard pre-run noise (e.g. spec leftovers)
    val memoBuilds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def drainInto(): Double = {
      val builds = Memo.drainBuilds()
      builds.foreach { case (tag, sec) =>
        memoBuilds.updateWith(s"memo:$tag") {
          case Some(x) => Some(x + sec); case None => Some(sec) }
      }
      builds.map(_._2).sum
    }
    // exact-groundtruth tier: skipped BY MEASURED DATA above the ceiling
    // (ScaleTiers — the sf100 cliques make their candidate sets answer-
    // bound; the capped twins are the tier that runs there). An explicit
    // `only` arg overrides the skip: a dev pointing the bench at a named
    // exact query at scale is asking for exactly that probe.
    // failure-isolated like every per-query crash (the no-documents-table
    // dir must still produce a JSON record — the document-family queries
    // will land in "failed" on their own)
    val skipped =
      if (only.isDefined) Set.empty[String]
      else try ScaleTiers.skippedAt(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] scale-tier probe failed (${e.getMessage}); " +
          "running all queries"); Set.empty[String] }
    drainInto() // the probe's builds (the documents relation and row count)
    if (skipped.nonEmpty)
      System.err.println(s"[bench] exact-groundtruth tier skipped at this " +
        s"scale (> ${ScaleTiers.ExactTierMaxDocs} docs): " +
        skipped.toSeq.sorted.mkString(","))
    // deterministic name order: run-to-run comparability beats hash order
    val chosen = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skipped(n) }
    // Warm the JVM/codegen/scan paths once per FAMILY so the first timed
    // query of each isn't charged JIT/codegen warmup (r1: first query +4s;
    // r3: family-first queries +1-2s each). Families and their warm query
    // are DERIVED from the registry (first name per letter prefix), so a
    // renamed query can never silently re-skew family-first timings
    // (ADVICE r3; the old form hard-coded four names). Warmup time is not
    // part of any query's timing (core builds it triggers ARE, as their
    // own memo items); failures are loud on stderr only (never stdout —
    // the JSON line contract).
    chosen.map(_._1).groupBy(_.takeWhile(_.isLetter)).toSeq.sortBy(_._1)
      .map(_._2.head).foreach { w =>
        try evaluate(SparkEntry.queries(w)(spark, sfDir))
        catch { case e: Throwable => System.err.println(s"warmup $w failed: $e") }
      }
    drainInto() // attribute warmup-triggered core builds
    // calibration brackets the run (machine speed can drift mid-run).
    // min of the two probes: the probe estimates the VM's steady speed for
    // CROSS-SESSION normalization, and transient contention/GC can only
    // inflate a probe, never deflate it — max would let one unlucky probe
    // (e.g. right after a heavy query's GC) overstate the whole session's
    // slowness (measured: 5.1 s probe after the ANN harness vs 2.0 s
    // steady on the same VM)
    val calibBefore = calibrate(spark)
    // A query that throws records the sentinel -1, NOT its crash time:
    // r6's 25 analysis-time crashes each logged ~0.06 s and silently
    // DEFLATED the suite total, making a broken round look faster than a
    // green one (VERDICT r6 item 2). Failures are excluded from the total
    // and surfaced both in a "failed" JSON field and on stderr.
    val results = chosen.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        evaluate(fn(spark, sfDir))
        // clamp at 0: builds are timed exclusively (Memo.timedBuild), but
        // measurement noise around a build-dominated query must never
        // produce a negative net time — the -1 sentinel means CRASH only
        val dt = math.max(0.0, (System.nanoTime() - t0) / 1e9 - drainInto())
        // stderr progress line per query: at rehearsal scales (sf1/sf10 —
        // SCALE.md) a run is tens of minutes, and a silent stall would be
        // undiagnosable; stdout stays the one-JSON-line contract.
        System.err.println(f"[bench] $name $dt%.2f s")
        // Outside the timed window: a finished heavy query leaves its
        // shuffle files on disk until its ShuffleDependency is GC'd, and
        // an 80 g heap can go a whole rehearsal without a full GC — at
        // sf100 the accumulated files from 3 prior queries filled the
        // disk and failed px16 with ENOSPC. One explicit GC after each
        // >5 s query lets the ContextCleaner reap them promptly; cheap
        // queries skip it (GC cost would dwarf their runtime share).
        if (dt > 5) System.gc()
        name -> dt
      }
      catch { case e: Throwable =>
        drainInto() // a build that completed before the crash still counts
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        name -> -1.0
      }
    }
    val calibAfter = calibrate(spark)
    val calib = math.min(calibBefore, calibAfter)
    val failed = results.collect { case (k, v) if v < 0 => k }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED (excluded " +
        s"from total): ${failed.mkString(",")}")
    // Failed queries appear ONLY in "failed", never in "queries": a -1.0
    // sentinel inside the per-query map would silently deflate any consumer
    // that sums/averages the map instead of reading "value" (ADVICE r7).
    val qs = results.collect { case (k, v) if v >= 0 => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Shared-core builds live in their OWN "builds" map, not "queries":
    // every "queries" key validates against SparkEntry.queries, so a
    // consumer diffing per-query timings across rounds never has to
    // special-case a memo: prefix (ADVICE r9). value = queries + builds.
    val bs = memoBuilds.toSeq.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum +
      memoBuilds.values.sum
    val normalized = total * CalibRefSec / calib
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""calib_sec":$calib,"calib_ref_sec":$CalibRefSec,""" +
        s""""total_normalized":$normalized,""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""skipped_exact":${skipped.toSeq.sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""queries":$qs,"builds":$bs,"sf":"$sfDir"}"""
    println(line)
    // Persist the full record to a repo file too: the round artifact must
    // not depend on stdout surviving truncation (BENCH_r03.json lost its
    // total and 15 per-query entries to a cut-off stdout tail — VERDICT r3
    // item 4). Full runs only — subset dev runs would overwrite the real
    // record with partial numbers.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
          "BENCH_LATEST.json")), line + "\n")
      catch { case e: Throwable => System.err.println(s"bench record write failed: $e") }
    spark.stop()
  }
}
