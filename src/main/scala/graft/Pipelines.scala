package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M6 — serving/cache parity (SURVEY.md §3.1, §7.2): the reference's
  * update() cycle recomputes every dashboard key and overwrites it in
  * Redis wholesale (server.js:280-331); here the same nine relations land
  * as parquet directories, overwritten idempotently — re-runnable on a
  * timer, readers never touch the source tables (the read path is
  * O(cache)).
  *
  * Cache relations are written UNORDERED. Every serving read imposes its
  * own total order, so a sort before the write would buy nothing; the
  * presentation order lives in the query registry (a1, j8, a8, w5, f10)
  * and in [[operators.Windows.gapfill]] / [[functions.ScalarQueries.rrMinerInfo]].
  *
  * At 100 TB: each cache write is `overwrite` of a small AGGREGATED result
  * (leaderboard ≈ #miners, chain ≈ #heights in range, rollup ≈ #heights) —
  * the big fact table never gets copied, only scanned.
  */
object Pipelines {

  /** The update() cycle: recompute every dashboard relation and overwrite
    * the cache dir (the reference recomputes all Redis keys per tick,
    * server.js:280-331). Idempotent — same contract as the whole-key Redis
    * SET. block_info (the only per-height relation) is partitioned by
    * height bucket (SURVEY §7.6): readers with a height range prune
    * partitions, and dynamic partition overwrite lets an incremental
    * refresh rewrite only the buckets that changed instead of the whole
    * relation. Every relation here is aggregate-sized (≈ #miners or
    * #heights-in-window rows), never a copy of the fact table. */
  def refreshCache(s: SparkSession, sfDir: String, cacheDir: String): Unit = {
    def put(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$cacheDir/$name")
    // miner_info: P9 projection of A1+A2+A4 (rpc.js:430-445)
    put(operators.Aggregations.minerLeaderboard(s, sfDir), "miner_info")
    // mining_info: P10, the canonical winner per height (rpc.js:447-457)
    put(operators.RelationalCore.winnerCommits(s, sfDir), "mining_info")
    // block_info: the A8 per-height rollup (rpc.js:463-487)
    operators.Aggregations.blockRollup(s, sfDir)
      .withColumn("height_bucket", (col("stacks_block_height") / 1000L).cast("long"))
      .write.mode("overwrite")
      .partitionBy("height_bucket")
      .parquet(s"$cacheDir/block_info")
    // dashboard composition relations (VERDICT r2 item 2)
    put(operators.Windows.gapfillSeries(1000L)(s, sfDir), "burn_fee_area")
    put(functions.ScalarQueries.rrLeaderboard(None)(s, sfDir), "miner_info_rr")
    put(functions.ScalarQueries.rrLeaderboard(Some(1000L))(s, sfDir), "miner_info_rr_1000")
    put(functions.ScalarQueries.rrLeaderboard(Some(100L))(s, sfDir), "miner_info_rr_100")
    put(operators.Aggregations.queries("a9_btc_total")(s, sfDir), "btc_total")
    put(Domain.chainTip(s, sfDir), "chain_tip")
  }

  /** Incremental refresh of the block_info cache: recompute ONLY heights ≥
    * fromHeight and dynamically overwrite just the height buckets they land
    * in — untouched buckets' files are left as-is. This is the T2-style
    * trailing refresh at scale: the 120 s cycle rewrites the tip bucket,
    * not the whole history. Requires partitionOverwriteMode=dynamic (set
    * per-write here, not globally). */
  def refreshBlockInfoIncremental(s: SparkSession, sfDir: String,
                                  cacheDir: String, fromHeight: Long): Unit = {
    operators.Aggregations.blockRollup(s, sfDir)
      // refresh from the START of fromHeight's bucket: dynamic overwrite
      // replaces whole partitions, so a mid-bucket threshold would rewrite
      // the straddled bucket with only its upper half and drop the rest
      .filter(col("stacks_block_height") >= (fromHeight / 1000L) * 1000L)
      .withColumn("height_bucket", (col("stacks_block_height") / 1000L).cast("long"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("height_bucket")
      .parquet(s"$cacheDir/block_info")
    // the tip moved, so its timestamp did too — an incremental cycle must
    // keep chain_tip current or the dashboard would pair a new
    // block_height with an older tip's timestamp (self-review r4)
    Domain.chainTip(s, sfDir).write.mode("overwrite").parquet(s"$cacheDir/chain_tip")
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE: fold a delta of new commits into
    * a stored (miner → total_mined, miner_burned) leaderboard without
    * rescanning history — count and sum are self-mergeable partial
    * aggregates, so the stored table IS the aggregation state and a
    * refresh costs one small-side aggregation plus a keyed merge. This is
    * the aggregate-level counterpart of [[refreshBlockInfoIncremental]]
    * (which maintains row-grain buckets): at 100 TB the full a1 recompute
    * scans the corpus, while this scans only the delta. Works for any
    * algebraic aggregate; avg/stddev would carry (sum, count) /
    * (sum, sum², count) state the same way — max/min merge too, but
    * support deletion only by recompute. LeaderboardSpec proves
    * merge(agg(old), delta) == agg(old ∪ delta) exactly. */
  def mergeLeaderboard(stored: DataFrame, delta: DataFrame): DataFrame = {
    val dAgg = delta.groupBy(col("leader_key_address"))
      .agg(count(lit(1)).as("d_mined"), sum(col("burn_fee")).as("d_burned"))
    stored.join(dAgg, Seq("leader_key_address"), "full_outer")
      .select(col("leader_key_address"),
        (coalesce(col("total_mined"), lit(0L)) +
          coalesce(col("d_mined"), lit(0L))).as("total_mined"),
        (coalesce(col("miner_burned"), lit(0L)) +
          coalesce(col("d_burned"), lit(0L))).as("miner_burned"))
  }

  /** INCREMENTAL DISTINCT-GROWTH MAINTENANCE: fold a delta of events into
    * a stored (user_id → first_seen) debut table — min is self-mergeable
    * exactly like mergeLeaderboard's count/sum, so the store IS the
    * aggregation state behind every distinct-growth question (w14/w14b's
    * cumulative-distinct curve, a21's cohorts are all derivable from
    * debuts alone) and a refresh costs one delta-side aggregation plus a
    * keyed merge — history is never rescanned. least() ignores nulls, so
    * users appearing on only one side keep their one debut. */
  def mergeDebuts(stored: DataFrame, delta: DataFrame): DataFrame = {
    val dAgg = delta.groupBy(col("user_id"))
      .agg(min(col("ts_sec")).as("d_first"))
    stored.join(dAgg, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        least(col("first_seen"), col("d_first")).as("first_seen"))
  }

  /** INCREMENTAL QUANTILE-STATE MAINTENANCE — the third member of the
    * merge family (counts/sums: mergeLeaderboard; min/first-seen:
    * mergeDebuts; here: histogram vectors): fold a raw events delta into
    * a stored (day, bin, n) histogram by keyed addition. Histogram states
    * are COMMUTATIVE-mergeable, so stored + Δ equals the full recompute
    * EXACTLY (spec-proven), and a22's per-day/global quantiles are read
    * off the maintained state without ever rescanning history. State
    * size: ≤ 201 rows per day regardless of volume or skew. */
  def mergeQuantileHist(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(graft.operators.Aggregations.histState(delta))
      .groupBy(col("day"), col("bin"))
      .agg(sum(col("n")).as("n"))

  /** INCREMENTAL SECOND-MOMENT MAINTENANCE — the fourth member of the
    * merge family: fold a raw documents delta into a stored per-language
    * sufficient-statistics table (n, Σx, Σy, Σxy, Σx², Σy² — see
    * [[graft.operators.Profiling.suffStatsState]]) by keyed addition.
    * Power sums are commutative-mergeable, so stored + Δ equals the full
    * recompute EXACTLY, and pr6's covariance / regression slope are read
    * off the maintained state without rescanning history. State size:
    * one 7-column row per language, regardless of corpus volume. */
  def mergeSuffStats(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(graft.operators.Profiling.suffStatsState(delta))
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
        sum(col("sxy")).as("sxy"),
        sum(col("sx2")).as("sx2"), sum(col("sy2")).as("sy2"))

  /** INCREMENTAL DAILY-VOLUME MAINTENANCE — the fifth member of the merge
    * family: fold a raw events delta into a stored (day, n_events) table
    * by keyed addition. Counts are commutative-mergeable, so stored + Δ
    * equals the full recompute EXACTLY, and the monitoring battery —
    * pr5's z-test, pr8's EWMA control chart — is read off the maintained
    * state (calendar-bounded kilobytes) without ever rescanning event
    * history. An ingest day arriving in many batches folds correctly:
    * same-day counts add. */
  def mergeDailyCounts(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(
        delta.groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("n_events")))
      .groupBy(col("day")).agg(sum(col("n_events")).as("n_events"))

  /** INCREMENTAL DISTINCT-USER SKETCH MAINTENANCE — the sixth member of
    * the merge family, and the one that makes a19's "reaggregation
    * without rescan" INCREMENTAL too: fold a raw events delta into a
    * stored (day → HLL sketch binary) table. HLL register-max union is
    * commutative, associative, and idempotent-per-observation, so
    * stored ⊔ Δ equals the one-pass sketch REGISTER FOR REGISTER (same
    * estimate, exactly — spec-proven incl. a parquet round-trip of the
    * binary state), unlike mergeDebuts this never stores per-user rows:
    * state is one ~kB sketch per day regardless of user cardinality,
    * which is the 100 TB shape for "distinct users per day/week/all-time"
    * — any coarser rollup is an hll_union_agg over the maintained rows.
    * A day arriving in many batches folds correctly: same-day sketches
    * union. */
  def mergeUserSketches(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(
        delta.groupBy(col("ts").cast("date").as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk")))
      .groupBy(col("day")).agg(hll_union_agg(col("sk")).as("sk"))

  /** Small-files COMPACTION: rewrite a parquet directory into files of
    * roughly `targetBytes` each. Every incremental/streaming sink grows a
    * long tail of tiny files (each micro-refresh writes its own), and at
    * 100 TB the scan cost becomes dominated by file-open overhead and
    * tiny splits — periodic compaction is table maintenance, not an
    * optimization. The file count derives from the directory's ACTUAL
    * byte size (recursive, so partitioned layouts count too), never a
    * hard-coded parallelism; the rewrite uses coalesce — merging needs
    * no shuffle and preserves sort order within partitions. (coalesce
    * only merges: a target finer than the current layout leaves the
    * layout as-is rather than paying a shuffle to split files.)
    * Returns the target file count. */
  def compact(s: SparkSession, inDir: String, outDir: String,
              targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    // overwrite-while-reading the same (or a nested) path can destroy the
    // input; an in-place compaction must go through a temp dir + rename
    val inQ = fs.makeQualified(path).toString + "/"
    val outQ = fs.makeQualified(new org.apache.hadoop.fs.Path(outDir))
      .toString + "/"
    require(!inQ.startsWith(outQ) && !outQ.startsWith(inQ),
      s"compact input and output must not overlap: $inQ vs $outQ")
    val bytes = fs.getContentSummary(path).getLength
    val n = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong).toInt
    s.read.parquet(inDir).coalesce(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }

  /** CLUSTERED WRITE: range-partition on the key and sort within
    * partitions before writing, so each output file covers a DISJOINT key
    * range and rows inside a file are ordered. That is what makes parquet
    * min/max statistics effective: a point or range predicate on the key
    * prunes whole files/row-groups instead of scanning the corpus — the
    * 100 TB layout discipline of matching data placement to the dominant
    * predicate (the write-side counterpart of p1/p3's PushedFilters).
    * repartitionByRange samples the key to build balanced range bounds, so
    * skewed keys still give even file sizes. Returns the number of data
    * files actually written — fewer than `nFiles` when the key has too
    * few distinct values to fill every range (a caller sizing downstream
    * work must not trust the request over the outcome). */
  def writeClustered(df: DataFrame, key: String, nFiles: Int,
                     outDir: String): Int = {
    require(nFiles > 0, "nFiles must be positive")
    df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(outDir)
    dataFileCount(df.sparkSession, outDir)
  }

  /** Data-file count via the Hadoop FileSystem API, so the returned count
    * (which the docstrings tell callers to trust over the requested
    * nFiles) is right for ANY scheme — a java.io.File listing silently
    * returns 0 for hdfs:// or s3a:// outDirs (ADVICE r5). */
  private def dataFileCount(s: SparkSession, outDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(st => st.isFile &&
      st.getPath.getName.startsWith("part-") &&
      st.getPath.getName.endsWith(".parquet"))
  }

  /** Z-order geometry: bits kept per key after scaling. 16 bits = 65,536
    * range buckets per dimension (VERDICT r5 item 7 lifted this from 8),
    * so file-rectangle boundaries snap to 1/65,536 of each key's domain —
    * at any realistic nFiles the rectangle size is set by the file count,
    * never by quantization. */
  private[graft] val ZBits = 16

  /** Morton spread, stride 2: bit k of the low 16 bits of `x` moves to bit
    * 2k (plain shift/mask column arithmetic — stays in whole-stage
    * codegen). Classic parallel-prefix masks. */
  private[graft] def spread16(x: Column): Column = {
    val m0 = x.cast("long").bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton spread, stride 3: bit k of the low 16 bits of `x` moves to bit
    * 3k — the three-key interleave (48-bit curve, fits a long). Masks are
    * the standard 21-bit Morton3D constants, valid for any ≤21-bit input. */
  private[graft] def spread16x3(x: Column): Column = {
    val m0 = x.cast("long").bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 32)).bitwiseAND(lit(0x001F00000000FFFFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 16)).bitwiseAND(lit(0x001F0000FF0000FFL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 8)).bitwiseAND(lit(0x100F00F00F00F00FL))
    val m4 = m3.bitwiseOR(shiftleft(m3, 4)).bitwiseAND(lit(0x10C30C30C30C30C3L))
    m4.bitwiseOR(shiftleft(m4, 2)).bitwiseAND(lit(0x1249249249249249L))
  }

  /** Z-ORDER CLUSTERED WRITE over TWO keys — see [[writeZClusteredN]]. */
  def writeZClustered(df: DataFrame, keyA: String, keyB: String,
                      nFiles: Int, outDir: String): Int =
    writeZClusteredN(df, Seq(keyA, keyB), nFiles, outDir)

  /** Z-ORDER CLUSTERED WRITE: interleave 2 or 3 keys on a space-filling
    * curve and range-partition on the curve value, so every output file
    * covers a bounded RECTANGLE (or box) in key space — min/max pruning
    * then works for predicates on ANY of the keys, which single-key
    * clustering cannot give (its other dimensions span the full range in
    * every file). Each key is first scaled to [0, 2^16) against its
    * observed max (one driver agg — raw interleave of differently-scaled
    * keys degenerates to single-key ordering because one key owns all the
    * high bits), then Morton-interleaved with shift/mask column math.
    *
    * Keys must be non-negative, below 2^47 (the ×2^16 scaling must stay in
    * int64), and NON-NULL: a null key has no position on the curve — the
    * rows would collapse into one range partition and silently break the
    * bounded-rectangle property the guards exist to protect (ADVICE r5),
    * so null keys fail loudly here. Returns the number of data files
    * actually written. */
  def writeZClusteredN(df: DataFrame, keys: Seq[String], nFiles: Int,
                       outDir: String): Int = {
    require(nFiles > 0, "nFiles must be positive")
    require(keys.size == 2 || keys.size == 3,
      s"z-order interleave supports 2 or 3 keys, got ${keys.size}")
    val stats = df.agg(count(lit(1)).as("n"),
      keys.flatMap(k => Seq(
        max(col(k)).cast("long").as(s"max_$k"),
        min(col(k)).cast("long").as(s"min_$k"),
        count(when(col(k).isNull, 1)).as(s"nulls_$k"))): _*).head()
    if (stats.getLong(0) == 0L) { // empty input: write it, no curve
      df.write.mode("overwrite").parquet(outDir)
      return dataFileCount(df.sparkSession, outDir)
    }
    keys.zipWithIndex.foreach { case (k, i) =>
      require(stats.getLong(3 * i + 3) == 0L,
        s"$k has ${stats.getLong(3 * i + 3)} null rows — null keys have no curve position")
      require(stats.getLong(3 * i + 2) >= 0L,
        s"$k must be non-negative (got min ${stats.getLong(3 * i + 2)})")
      require(stats.getLong(3 * i + 1) < (1L << 47),
        s"$k must stay below 2^47 (got max ${stats.getLong(3 * i + 1)})")
    }
    val spread: Column => Column =
      if (keys.size == 2) spread16 else spread16x3
    def scaled(key: String, m: Long): Column =
      call_function("div", col(key).cast("long") * (1L << ZBits), lit(m + 1L))
    val z = keys.zipWithIndex.map { case (k, i) =>
      shiftleft(spread(scaled(k, stats.getLong(3 * i + 1))), i)
    }.reduce(_ bitwiseOR _)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
    dataFileCount(df.sparkSession, outDir)
  }

  /** ZONE MAP: one row per data file with the min/max of `key` — the
    * manifest a scan planner consults to open only files intersecting a
    * predicate range. Parquet footers already carry these stats, but at
    * 100 TB with millions of files the planner-side cost is LISTING and
    * opening every footer; a zone-map relation makes file pruning one
    * metadata-sized read (what table formats call manifest pruning).
    * Built in one scan, written under `_zonemap` (underscore-prefixed —
    * invisible to normal parquet discovery of the same dir). Most useful
    * over [[writeClustered]]/[[writeZClusteredN]] output, where per-file
    * ranges are disjoint and a range predicate touches few files. */
  def buildZoneMap(s: SparkSession, dir: String, key: String): Unit =
    s.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("min_key"), max(col(key)).as("max_key"))
      .write.mode("overwrite").parquet(s"$dir/_zonemap")

  /** Range read through the zone map: read exactly the files whose
    * [min, max] intersects [lo, hi], then apply the residual predicate.
    * The only driver-side materialization is the matching FILE LIST
    * (metadata-sized); non-matching files are never listed to the reader,
    * never opened. Result rows are identical to a full-scan filter —
    * IngestSpec proves equality and counts the files actually touched.
    * FLAT layouts only: reading a hive-partitioned dir by file list would
    * drop the partition columns — partitioned relations already have
    * PartitionFilters pruning and don't need this path. */
  def zoneMapRead(s: SparkSession, dir: String, key: String,
                  lo: Long, hi: Long): DataFrame = {
    val files = s.read.parquet(s"$dir/_zonemap")
      .filter(col("max_key") >= lo && col("min_key") <= hi)
      .select(col("file")).collect().map(_.getString(0))
    if (files.isEmpty)
      s.read.parquet(dir).filter(lit(false))
    else
      s.read.parquet(files.toIndexedSeq: _*)
        .filter(col(key).between(lo, hi))
  }

  /** Dynamic file pruning for a zone-mapped equi-join — Spark's dynamic
    * partition pruning re-created for flat clustered layouts: the dim
    * side's key RANGE (one tiny agg, a two-scalar collect) prunes fact
    * files through the zone map BEFORE the probe scan, then the join runs
    * over the surviving files only. Correct because pruning drops only
    * files whose whole [min,max] misses every dim key, and an equi-join
    * row needs an exact key match inside that range. At 100 TB this is
    * the scan win DPP gives partitioned tables: a dim touching 1% of a
    * clustered key domain opens ~1% of the fact files — without any hive
    * partitioning of the fact side. The dim is broadcast (callers use
    * this for selective dims; a dim too big to broadcast has a key range
    * too wide to prune anything). */
  def zoneMapJoin(s: SparkSession, factDir: String, key: String,
                  dim: DataFrame, dimKey: String): DataFrame = {
    val r = dim.agg(min(col(dimKey)).cast("long").as("lo"),
      max(col(dimKey)).cast("long").as("hi")).head()
    val fact =
      if (r.isNullAt(0)) s.read.parquet(factDir).filter(lit(false))
      else zoneMapRead(s, factDir, key, r.getLong(0), r.getLong(1))
    fact.join(broadcast(dim), fact(key) === dim(dimKey))
  }

  /** Full-series burnFeeArea page (VERDICT r5 item 5): the reference's
    * burnFeeArea emits EVERY miner's series (mining_monitor_rpc.js:46-113);
    * [[dashboard]] bounds its inline copy to the top-10 miners, correct at
    * scale but a strict subset of what the reference's consumers get. This
    * is the complete-set serving path: COMPOSITE-KEYSET pagination over
    * the cached area relation — strictly-after (address, height), ordered,
    * one page per call — w7k's keyset doctrine at row grain, so a page
    * fetch is O(page) work and a bounded collect no matter how many miners
    * exist or how deep the cursor sits. A page shorter than `pageSize`
    * means the walk is complete. */
  def burnFeeAreaPage(s: SparkSession, cacheDir: String,
                      after: Option[(Long, Long)], pageSize: Int): DataFrame = {
    require(pageSize > 0, "pageSize must be positive")
    val area = Tables.parquet(s, s"$cacheDir/burn_fee_area")
      .select(col("address"), col("height"), col("cum_filled"))
    val page = after match {
      case Some((a, h)) => area.filter(col("address") > a ||
        (col("address") === a && col("height") > h))
      case None => area
    }
    page.orderBy(col("address"), col("height")).limit(pageSize)
  }

  /** One serving-edge JSON page of the full area series: the reference's
    * point shape plus a `next` cursor (the page's last key, or null when
    * the walk is done). The only collect is the page itself.
    *
    * Rendered once per version of the burn_fee_area relation, like the
    * reference's Redis value that every REST read GETs (server.js:47-125):
    * the page is a [[Memo.value]] on that relation, tagged by cursor and
    * page size, so a read over unchanged bytes costs one listing of the
    * relation and no Spark job. The rewrite of a refresh makes the next
    * read render again, and retires the pages rendered from the old bytes. */
  def burnFeeAreaPageJson(s: SparkSession, cacheDir: String,
                          after: Option[(Long, Long)], pageSize: Int): String = {
    val cursor = after.fold("start") { case (a, h) => s"$a:$h" }
    Memo.value(s, cacheDir, s"area_page:$cursor:$pageSize", "burn_fee_area") {
      val rows = burnFeeAreaPage(s, cacheDir, after, pageSize)
        .collect()
      val pts = rows.map(r =>
        s"""{"height":${r.getLong(1)},"burn_fee":${r.getLong(2)},"address":${r.getLong(0)}}""")
      val next =
        if (rows.length < pageSize) "null"
        else s"""{"address":${rows.last.getLong(0)},"height":${rows.last.getLong(1)}}"""
      s"""{"data":[${pts.mkString(",")}],"next":$next}"""
    }
  }

  /** S18/S19 — the mining_status flag file (rpc.js:583-590; broken as
    * shipped — `fs` never imported — implemented as evidently intended):
    * a driver-side one-value state read/written around each refresh. */
  def writeStatus(path: String, mining: Boolean): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      if (mining) "true" else "false")

  def readStatus(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.exists(p) &&
      java.nio.file.Files.readString(p).trim == "true"
  }

  /** monitorIntegrate (§3.2): assemble the FULL dashboard document from the
    * cache, mirroring packMiningMonitorData (mining_monitor_rpc.js:151-161)
    * plus the server's price/btc_total/btc_hash_power fields
    * (server.js:268-275). Every read is cache-scale and every collect sits
    * behind an explicit limit (SURVEY §7.6) — the serving edge is bounded
    * no matter how big the fact tables are:
    *   - currentStatus/minersBurnFee20: tail-20 heights of block_info
    *   - minerTable: top-50 of mining_info
    *   - burnFeeArea: the w5 gap-filled series, top-10 miners × window
    *     (the reference emits ALL miners — unbounded at scale; documented
    *     serving bound. The complete set is served page-bounded by
    *     [[burnFeeAreaPage]]'s composite keyset walk.)
    *   - winnerPie/rateOfReturn: all/r1000/r100 rr leaderboards, top-10 /
    *     top-50 slices
    *   - rateOfReturn carries real values (the reference's packRR ships
    *     empty lists — superseded to intent, SURVEY §2.12 R4).
    *
    * Each section reads exactly one cache relation and is rendered once
    * per version of it: a [[Memo.value]] tagged `dashboard:<relation>`, so
    * a read over unchanged bytes costs one listing per relation, and a
    * refresh that rewrites a relation re-renders only its sections. The
    * relations are opened inside the sections, so a hit resolves nothing.
    * The price fields stay a live read on every call: the enrichment
    * fetcher rewrites them on its own clock, outside the cache dir. */
  def dashboard(s: SparkSession, cacheDir: String): String = {
    def section[T](relation: String)(render: DataFrame => T): T =
      Memo.value(s, cacheDir, s"dashboard:$relation", relation)(
        render(Tables.parquet(s, s"$cacheDir/$relation")))

    // the burnchain tip timestamp comes from the chain_tip cache relation,
    // not an inlined constant (ADVICE r3). Fail descriptively on cache
    // dirs written before this relation existed — checked before its
    // section, whose listing would throw a bare FileNotFoundException, and
    // through the Hadoop FileSystem so hdfs:// and s3a:// dirs pass
    val tipPath = new org.apache.hadoop.fs.Path(s"$cacheDir/chain_tip")
    require(tipPath.getFileSystem(s.sparkContext.hadoopConfiguration).exists(tipPath),
      s"dashboard: $cacheDir has no chain_tip relation — re-run refreshCache (cache layout predates the derived tip timestamp)")

    // Locale.ROOT: the f-interpolator uses the default locale, which would
    // emit comma decimals (invalid JSON) on comma-decimal JVMs
    def avg3(xs: Array[Long]): String =
      String.format(java.util.Locale.ROOT, "%.3f", xs.sum.toDouble / xs.length)

    // currentStatus (mining_monitor_rpc.js:1-21): tail-20 series + averages;
    // minerTable's per-commit fees of the same heights are parsed back out
    // of the nested rollup. Positional reads only ever follow an explicit
    // select-by-name, so upstream column reorder cannot silently misreport
    // a field.
    val (tipHeight, series20, minersBurnFee20) = section("block_info") { blocks =>
      val b20 = blocks
        .select(col("stacks_block_height"), col("sum_burn_fees"),
          col("sum_miner_amount"), col("commit_value_list"))
        .orderBy(col("stacks_block_height").desc).limit(20)
        .collect().sortBy(_.getLong(0))
      require(b20.nonEmpty,
        "dashboard: block_info cache is empty — refreshCache must run against a non-empty source first")
      val burn20 = b20.map(_.getLong(1))
      val miner20 = b20.map(_.getLong(2))
      val series =
        s""""current_burn_fee":{"data_20":[${burn20.mkString(",")}],"avg":${avg3(burn20)}},""" +
          s""""current_miner":{"data_20":[${miner20.mkString(",")}],"avg":${avg3(miner20)}}"""
      val fees = b20.flatMap { r =>
        r.getString(3).split(";").filter(_.nonEmpty).map { c =>
          c.split(":") match {
            case Array(_, fee, addr) =>
              s"""{"height":${r.getLong(0)},"address":$addr,"fee":$fee}"""
            case parts => sys.error(
              s"dashboard: malformed commit_value_list cell '$c' " +
                s"(${parts.length} fields, expected vtx:fee:miner) at height ${r.getLong(0)}")
          }
        }
      }
      (b20.last.getLong(0), series, fees.mkString(","))
    }
    val tipTs = section("chain_tip")(_.select(col("tip_ts")).head().getLong(0))
    val currentStatus =
      s"""{"current_block":{"stacks_block_height":$tipHeight,""" +
        s""""bitcoin_block":{"block_height":$tipHeight,"timestamp":$tipTs}},$series20}"""

    // minerTable (mining_monitor_rpc.js:23-44): winner table + the tail-20
    // per-commit fees above
    val table = section("mining_info") { chain =>
      chain
        .select(col("stacks_block_height"), col("leader_key_address"), col("burn_fee"))
        .orderBy(col("stacks_block_height").desc).limit(50)
        .collect().map(r =>
          s"""{"stacks_block_height":${r.getLong(0)},"leader_key_address":${r.getLong(1)},"burn_fee":${r.getLong(2)}}""")
        .mkString(",")
    }
    val minerTable = s"""{"table":[$table],"minersBurnFee20":[$minersBurnFee20]}"""

    // burnFeeArea (mining_monitor_rpc.js:46-113): gap-filled cumulative
    // burn series, bounded to the top-10 miners of the window
    val burnFeeArea = section("burn_fee_area") { area =>
      val topAddrs = area.groupBy(col("address"))
        .agg(max(col("cum_filled")).as("m"))
        .orderBy(col("m").desc, col("address")).limit(10)
        .select(col("address"))
      val areaPts = area.join(broadcast(topAddrs), Seq("address"))
        .select(col("address"), col("height"), col("cum_filled"))
        .orderBy(col("address"), col("height"))
        .collect().map(r =>
          s"""{"height":${r.getLong(1)},"burn_fee":${r.getLong(2)},"address":${r.getLong(0)}}""")
      s"""{"data":[${areaPts.mkString(",")}]}"""
    }

    // winnerPie + rateOfReturn (mining_monitor_rpc.js:115-148): the
    // all/r1000/r100 triple from the rr leaderboards, one section per
    // leaderboard holding its (pie, RR) lists. select-by-name before every
    // positional read (ADVICE r3: a column swap at same type in
    // rrMinerInfo would have silently misreported RR at the serving edge)
    val Seq(all, r1000, r100) =
      Seq("miner_info_rr", "miner_info_rr_1000", "miner_info_rr_100").map(name =>
        section(name) { rr =>
          val pie = rr.filter(col("total_win") > 0)
            .select(col("stx_address"), col("actual_win"), col("rr_milli"),
              col("total_win"))
            .orderBy(col("total_win").desc, col("stx_address")).limit(10)
            .collect().map(r =>
              s"""{"address":"${r.getString(0)}","number":${r.getLong(1)},"RR":${r.getLong(2)}}""")
            .mkString("[", ",", "]")
          val rrs = rr.select(col("stx_address"), col("rr_milli"))
            .orderBy(col("rr_milli").desc, col("stx_address")).limit(50)
            .collect().map(r =>
              s"""{"address":"${r.getString(0)}","RR":${r.getLong(1)}}""")
            .mkString("[", ",", "]")
          (pie, rrs)
        })
    val winnerPie = s"""{"all":${all._1},"r1000":${r1000._1},"r100":${r100._1}}"""
    val rateOfReturn = s"""{"all":${all._2},"r1000":${r1000._2},"r100":${r100._2}}"""

    // price / btc_total / btc_hash_power (server.js:268-275) via the
    // S13–S15 enrichment seam (live) + the cached a9 total
    val pr = sources.Enrichment.prices(s)
      .select(col("stx_price_milli"), col("btc_sat_scale"), col("hash_power"))
      .head()
    val stx = pr.getLong(0).toDouble / 1000.0
    val btc = pr.getLong(1) * 10000L
    val hashPower = pr.getString(2)
    val btcTotal = section("btc_total")(_.select(col("btc_total")).head().getDouble(0))

    s"""{"currentStatus":$currentStatus,""" +
      s""""minerTable":$minerTable,""" +
      s""""burnFeeArea":$burnFeeArea,""" +
      s""""winnerPie":$winnerPie,""" +
      s""""rateOfReturn":$rateOfReturn,""" +
      s""""price":{"btc":$btc,"stx":$stx},""" +
      s""""btc_total":$btcTotal,""" +
      s""""btc_hash_power":"$hashPower"}"""
  }
}
