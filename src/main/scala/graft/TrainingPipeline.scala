package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The END-TO-END TRAINING-DATA PIPELINE: the engine's stages composed the
  * way a real pretraining data build runs them — proving the pieces FIT,
  * not just exist. Stage by stage:
  *
  *   1. NEAR-DUP DEDUP — d6 cluster labels (MinHash-LSH candidates →
  *      connected components); only canonical survivors continue.
  *   2. QUALITY + LANGUAGE GATE — px5's prep: labeled English with
  *      quality ≥ 0.55, over the canonical survivors.
  *   3. LEAKAGE-SAFE SPLIT at CLUSTER grain — px10's groupSplit keyed by
  *      cluster_id, so even a near-dup PARAPHRASE of a train doc can
  *      never land in val/test.
  *   4. SEQUENCE PACKING of the train split — px11's per-source
  *      fixed-token-budget bins.
  *   5. SHARD WRITE — each split clustered by doc_id (disjoint per-file
  *      key ranges) plus a zone-map manifest for planner-side pruning.
  *
  * Every stage is the registered operator's own core (d6 / prep / split /
  * pack / clustered write) — this object only wires them, so the pipeline
  * can never drift from the gated definitions. Shuffle inventory of the
  * whole build: the d6 rounds (edge-grain), one quality-join, the pack
  * window (per-source), and the write's range partitioning — nothing
  * quadratic, nothing driver-bound; the run report carries per-stage
  * counts (aggregates, not collects of data rows). */
object TrainingPipeline {

  case class Report(nDocs: Long, nSurvivors: Long, nQuality: Long,
                    nTrain: Long, nVal: Long, nTest: Long,
                    nTrainBins: Long, trainShardFiles: Int)

  /** Kept docs (post dedup+quality) with their split assignment — the
    * relation stages 4–5 consume; exposed for the spec's stage checks. */
  def splitDocs(s: SparkSession, sfDir: String): DataFrame = {
    val clusters = operators.Dedup.queries("d6_neardup_clusters")(s, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    val kept = functions.TextQueries.queries("px5_canonical_prep")(s, sfDir)
    functions.TextQueries.groupSplit(
      kept.join(clusters, Seq("doc_id")), col("cluster_id"))
  }

  def run(s: SparkSession, sfDir: String, outDir: String): Report = {
    val docs = Tables.documents(s, sfDir)
    val splits = splitDocs(s, sfDir).localCheckpoint(true)
    // stage 4: pack ONLY the train split (val/test serve whole docs)
    val src = docs.select(col("doc_id"), col("source"))
    val packedTrain = functions.TextQueries.packed(
      splits.filter(col("split") === "train")
        .join(src, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens")))
    // stage 5: shard per split, doc_id-clustered, with a zone map
    val bySplit = splits.select(col("doc_id"), col("split")).join(src, Seq("doc_id"))
    var trainFiles = 0
    Seq("train", "val", "test").foreach { sp =>
      val part = bySplit.filter(col("split") === sp).drop("split")
      if (!part.isEmpty) {
        val n = writeClustered(part, "doc_id", 4, s"$outDir/$sp")
        buildZoneMap(s, s"$outDir/$sp", "doc_id")
        if (sp == "train") trainFiles = n
      }
    }
    def cnt(c: org.apache.spark.sql.Column): Long =
      splits.filter(c).count()
    Report(
      nDocs = docs.count(),
      nSurvivors = operators.Dedup.queries("d6_neardup_clusters")(s, sfDir)
        .filter(col("is_canonical")).count(),
      nQuality = splits.count(),
      nTrain = cnt(col("split") === "train"),
      nVal = cnt(col("split") === "val"),
      nTest = cnt(col("split") === "test"),
      nTrainBins = packedTrain.select(col("source"), col("bin_idx")).distinct().count(),
      trainShardFiles = trainFiles)
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

  /** ZONE MAP: one row per data file with the min/max of `key` — the
    * manifest a scan planner consults to open only files intersecting a
    * predicate range. Parquet footers already carry these stats, but at
    * 100 TB with millions of files the planner-side cost is LISTING and
    * opening every footer; a zone-map relation makes file pruning one
    * metadata-sized read (what table formats call manifest pruning).
    * Built in one scan, written under `_zonemap` (underscore-prefixed —
    * invisible to normal parquet discovery of the same dir). Most useful
    * over [[writeClustered]] output, where per-file ranges are disjoint
    * and a range predicate touches few files. */
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
    * This is the read contract of the `_zonemap` the shards of [[run]]
    * ship with. FLAT layouts only: reading a hive-partitioned dir by file
    * list would drop the partition columns — partitioned relations
    * already have PartitionFilters pruning and don't need this path. */
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

  /** DATASET CARD — the datasheet a curated corpus ships with, assembled
    * from the engine's own gated statistics: sizes, language/source
    * mixes, duplication rate, quality distribution. Every collect is
    * bounded by category cardinality (langs, sources), never rows; the
    * heavy numbers are single aggregates. The serving-edge JSON shape
    * follows [[Pipelines.dashboard]]'s conventions (Locale.ROOT,
    * select-by-name before positional reads). */
  def datasetCard(s: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(s, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(functions.TextOps.toks(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    val tot = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens")).head()
    val (nDocs, nTokens) = (tot.getLong(0), tot.getLong(1))
    def mix(key: String): String =
      docs.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col(key))
        .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
        .mkString("{", ",", "}")
    val survivors = operators.Dedup.queries("d1_exact_dedup")(s, sfDir).count()
    val nearSurvivors = operators.Dedup.queries("d6_neardup_clusters")(s, sfDir)
      .filter(col("is_canonical")).count()
    // exact half-up basis points, driver-side (two scalars)
    def rateBp(kept: Long): Long =
      java.math.BigDecimal.valueOf(nDocs - kept)
        .multiply(java.math.BigDecimal.valueOf(10000))
        .divide(java.math.BigDecimal.valueOf(nDocs), 0,
          java.math.RoundingMode.HALF_UP).longValueExact()
    val qualityBuckets = functions.TextQueries.queries("tx2_quality_score")(s, sfDir)
      .groupBy((col("quality_bp") / 2500L).cast("long").as("b"))
      .agg(count(lit(1)).as("n")).collect()
      .sortBy(_.getLong(0))
      .map(r => s""""q${r.getLong(0) * 25}_${r.getLong(0) * 25 + 25}":${r.getLong(1)}""")
      .mkString("{", ",", "}")
    s"""{"n_docs":$nDocs,"n_tokens":$nTokens,""" +
      s""""lang_mix":${mix("lang")},"source_mix":${mix("source")},""" +
      s""""exact_dup_bp":${rateBp(survivors)},""" +
      s""""near_dup_bp":${rateBp(nearSurvivors)},""" +
      s""""quality_quartiles":$qualityBuckets}"""
  }

  /** Dev driver: run the whole build against a testdata dir. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_train").toString)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      "graft-training-pipeline")
    println(run(spark, sfDir, outDir))
    spark.stop()
  }
}
