package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet table readers for the benchmark tables (TESTDATA.md), and the
  * one opener of every parquet relation the engine reads: a source table
  * ([[t]]) or a committed [[Versions]] version of a store ([[version]]).
  *
  * Schema is carried by Parquet itself (self-describing); Catalyst prunes
  * columns and pushes predicates into these scans, so every query should
  * start from one of these and stay declarative. At 100 TB the same readers
  * work unchanged — the scans split by file.
  *
  * RELATION RESOLVER ([[t]]). A bare `spark.read.parquet` re-lists the
  * path AND runs a one-task Spark job to infer the schema from the footers —
  * about 80 ms of fixed cost per call, paid by every reader call site on
  * every query, against a median query of well under a second. Even with
  * the schema given, `spark.read.schema(...).parquet` lists the path a
  * second time, builds a Hadoop `JobConf` and resolves the data source on
  * every call. The resolver builds a table's `BaseRelation` (its
  * `HadoopFsRelation`: schema plus file index) once per file fingerprint
  * ([[fingerprint]], the staleness rule [[Memo]] keys on) as the
  * [[Memo.valueAt]] entry `relation:<table>` of the data dir, and hands
  * every call a FRESH `baseRelationToDataFrame(relation)`: a new
  * `LogicalRelation` with new attribute ids, so two reads of one table
  * still self-join, and a read over an unchanged listing runs no job and
  * lists the path once. Only the resolved relation (plus the lazily read
  * footer stats of the scan fan-out below) is cached — never a
  * `DataFrame`. Its file index is the listing taken right after the
  * fingerprint's, so a file that changes between the two only makes the
  * next read resolve again.
  *
  * The relation depends on session confs fixed at build time
  * (`Sessions.engineConfs`); no reader mutates session state.
  */
object Tables {

  /** One resolved source table: the relation and — read only for fanned
    * readers — the parquet footer stats behind the scan fan-out decision.
    * Held at the fingerprint the relation was resolved at, so a rewritten
    * file gets a fresh partition count on its next read. */
  private final class Resolved(val relation: BaseRelation,
                               files: Seq[FileStatus],
                               hadoopConf: org.apache.hadoop.conf.Configuration) {
    /** Parquet data files of the relation. */
    val leaves: Seq[FileStatus] =
      files.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))

    /** (row groups, rows) summed over every leaf's footer. */
    lazy val footerStats: (Long, Long) = {
      var groups = 0L
      var rows = 0L
      leaves.foreach { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, hadoopConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks
          groups += blocks.size()
          blocks.forEach(b => rows += b.getRowCount)
        } finally r.close()
      }
      (groups, rows)
    }
  }

  /** Spark's hidden-path rule (InMemoryFileIndex): `.`-prefixed names and
    * `_`-prefixed names that are not partition directories. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** Every visible file and directory under `path` (or the file itself). */
  private def listing(s: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) st +: walk(st.getPath) else Seq(st))
    val root = fs.getFileStatus(p)
    if (root.isDirectory) walk(p) else Seq(root)
  }

  private def fingerprintOf(files: Seq[FileStatus]): Seq[(String, Long, Long)] =
    files.map(st =>
      (st.getPath.toString, st.getLen, st.getModificationTime)).sortBy(_._1)

  /** The staleness rule of the engine's one cache layer ([[Memo]]):
    * (path, length, mtime) of every visible entry under `path`, partition
    * subdirectories included, sorted. Hidden names are skipped exactly as
    * Spark's file index skips them, so `_SUCCESS`, `_zonemap` and `.crc`
    * files never cause churn. A missing path throws FileNotFoundException. */
  private[graft] def fingerprint(s: SparkSession, path: String): Seq[(String, Long, Long)] =
    fingerprintOf(listing(s, path))

  /** The parquet relation at `path` as `spark.read.parquet` resolves it:
    * one listing and one schema-inference job, or, with `schema` given,
    * the listing alone. Callers hold on to it and read it with
    * `baseRelationToDataFrame`, which neither lists nor infers. */
  private def relationOf(s: SparkSession, path: String,
                         schema: Option[StructType] = None): BaseRelation =
    schema.fold(s.read)(s.read.schema).parquet(path).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.getOrElse(throw new IllegalStateException(s"$path did not resolve to a file relation"))

  /** The row schema a Spark writer stored in the footer of one data file
    * of the directory `dir`, read on the driver: what inference would
    * return for a directory one Spark write produced, without its job. */
  private def writtenSchema(s: SparkSession, dir: String): StructType = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val part = root.getFileSystem(conf).listStatus(root)
      .find(st => !hidden(st.getPath.getName) && st.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"$dir holds no parquet data file"))
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(part, conf))
    val json = try r.getFooter.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY) finally r.close()
    require(json != null, s"${part.getPath} carries no Spark row schema")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Relation `name` of the committed [[Versions]] version `v` of the
    * store at `dir` (the dir its manifest names). A committed version never
    * changes, so its number is the fingerprint: the manifest is read and
    * the relation opened once per version, with the schema its writer
    * stored (no inference job), as the [[Memo.valueAt]] entry
    * `relation:<name>` of `dir`, which a newer version replaces. A hit
    * reads and lists nothing. */
  private[graft] def version(s: SparkSession, dir: String, name: String, v: Long): DataFrame =
    s.baseRelationToDataFrame(Memo.valueAt(s, dir, s"relation:$name", name, v) {
      val path = Versions.dir(s, dir, name, v)
      relationOf(s, path, Some(writtenSchema(s, path)))
    })

  /** The fewest rows a fanned-out scan task must receive ([[fanoutFor]]). */
  private val FanoutRowsPerTask = 512L

  /** Parquet's minimum split is one ROW GROUP, and the driver testdata ships
    * each table as a single file with a single row group — so every scan
    * stage (decode + all pre-exchange work: tokenize, JSON parse, partial
    * aggregation) runs on ONE core regardless of `local[N]` (measured: f7
    * at sf0.1 is ~3.4 s warm, of which ~3 s is the single-task scan stage).
    * The guide's remedy for an unsplittable input (§2.5) is to repartition
    * immediately after the read. This is SCALE-ADAPTIVE, not a local tune:
    * the fan-out engages only when the source has fewer row groups than the
    * session has cores AND enough rows to matter — at production layouts
    * (many files / ≥128 MB row groups) the condition is simply false and
    * the reader is unchanged. Filters and column pruning still push through
    * the round-robin exchange to the scan (PushedFilters/ReadSchema are
    * unaffected), so the exchange ships only surviving rows of needed
    * columns.
    *
    * SIZED BY THE DATA, not the session (r14 — VERDICT r13 item 2): r13
    * fanned straight to `defaultParallelism`, so a 5 000-row gate-scale
    * documents table became 32 partitions of ~150 rows, and the driver
    * measured the LIGHT consumers of those readers inverse-scaling at real
    * 32 cores (u3 4.9×, px4 6.8 s @32 vs 0.7 @8 — a user `repartition(n)`
    * also pins the count past AQE's coalescing). r14 fans to
    * ⌈rows / [[FanoutRowsPerTask]]⌉ capped at the core count: tiny inputs
    * stay at a few meaningful partitions, and any input past
    * cores·FanoutRowsPerTask (every rehearsal scale) still spreads over
    * the full session. */
  private def fanoutFor(s: SparkSession, e: Resolved): Option[Int] = {
    val cores = s.sparkContext.defaultParallelism
    // many files already split across cores — nothing to fix, and no
    // footer reads for wide production layouts
    if (e.leaves.size >= cores || e.leaves.isEmpty) None
    else {
      val (groups, rows) = e.footerStats
      val parts = math.min(cores.toLong, rows / FanoutRowsPerTask).toInt
      // the scan already splits `groups` ways; only fan when the target
      // is a real improvement over the native row-group parallelism
      if (parts <= 1 || groups >= parts) None else Some(parts)
    }
  }

  /** `fan = true` readers opt into the fan-out; the full-suite A/B (r13)
    * measured a BLANKET fan-out as a net loss: queries whose first
    * operation is a selective aggregation previously shuffled only their
    * map-side partials, and the round-robin exchange made them ship the
    * whole raw table (+0.5–1.3 s each across the lineitem/orders/events
    * families), while the heavy-per-row consumers (tokenize, JSON parse,
    * md5 chain derivation) gained 2–4×. So the fan-out is opt-in where the
    * per-row work before the first exchange dominates: the documents and
    * embeddings tables always (every consumer tokenizes / runs vector
    * math), and named lineitem/orders call sites (f7's JSON dispatch,
    * f12's per-row md5+csv, the linkTable md5 chain). */
  private def t(s: SparkSession, dir: String, name: String,
                fan: Boolean = false): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = listing(s, path)
    val e = Memo.valueAt(s, dir, s"relation:$name", s"$name.parquet", fingerprintOf(files))(
      new Resolved(relationOf(s, path), files, s.sparkContext.hadoopConfiguration))
    val df = s.baseRelationToDataFrame(e.relation)
    if (!fan) df
    else fanoutFor(s, e) match {
      case Some(n) => df.repartition(n)
      case None => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")

  /** Fanned variant for the named call sites whose per-row work before
    * the first exchange dominates (see [[t]]; currently f7's JSON
    * dispatch — f12/j9/linkTable were A/B'd and measured worse fanned). */
  def lineitemFanned(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem", fan = true)

  /** events.parquet stores ts as TIMESTAMP(NANOS). How that surfaces
    * depends on the Spark build: ≤4.0 rejects it unless
    * `spark.sql.legacy.parquet.nanosAsLong` maps it to a raw nanos Long;
    * 4.1.2 reads it natively as TIMESTAMP_NTZ (µs-truncated) and ignores
    * the legacy conf, which `Sessions.engineConfs` sets at session build —
    * never here: a reader must not mutate session state. Branch on the dtype the reader actually produced so
    * both paths yield the same µs-precision TIMESTAMP_NTZ wall-clock values
    * (the data is µs-exact; DuckDB reads the same file as TIMESTAMP_NS, so
    * oracle comparisons stay deterministic either way). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long read: convert nanos → µs NTZ
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampType => // defensive: align to NTZ (session TZ is UTC)
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
      case TimestampNTZType => raw // native NTZ read — already µs wall-clock
      case other => // fail AT THE TABLE in every entry point, not just in
        // TableSchemaSpec: a future reader change to an unhandled dtype
        // must name the source, not flow unconverted into Bench/Verify
        // (ADVICE r7)
        throw new IllegalStateException(
          s"events.ts read as unhandled dtype $other — update Tables.events")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents", fan = true)
  def embeddings(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings", fan = true)
}
