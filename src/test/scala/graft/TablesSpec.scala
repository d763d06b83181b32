package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, xxhash64}

/** Laws of the session-scoped relation resolver (`Tables.parquet`): a
  * resolved path launches no schema-inference job, every call is a fresh
  * relation, a rewritten or restamped source re-resolves in place — and
  * the session's generated-code cache holds a whole pass, so a warm pass
  * compiles nothing. */
class TablesSpec extends SparkSpec {

  /** Spark jobs `f` launches, counted under a job group of its own after
    * draining the listener bus. */
  private def jobsOf(f: => Unit): Int = {
    val group = s"tablesspec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "TablesSpec")
      try f finally sc.clearJobGroup()
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc, 10000L)
    } finally sc.removeSparkListener(l)
    jobs.get()
  }

  private def hash(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(df.apply): _*).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  private def tempPath(prefix: String): String =
    new java.io.File(java.nio.file.Files.createTempDirectory(prefix).toFile,
      "t.parquet").getPath

  test("a second Tables.orders launches no Spark job") {
    Tables.orders(spark, sf)
    assert(jobsOf(Tables.orders(spark, sf)) === 0,
      "a resolved table must not re-run schema inference")
    // control: the listener does see the inference job of an unresolved path
    val sp = spark
    import sp.implicits._
    val path = tempPath("tablesspec_jobs")
    Seq(1L, 2L).toDF("v").write.parquet(path)
    assert(jobsOf(Tables.parquet(spark, path)) >= 1)
    assert(jobsOf(Tables.parquet(spark, path)) === 0)
  }

  test("two reads of one table self-join: attribute ids are fresh per call") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    val n = a.count()
    assert(n > 0)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() === n)
  }

  test("a rewritten path with an extra column re-resolves into one entry") {
    val sp = spark
    import sp.implicits._
    val path = tempPath("tablesspec_rewrite")
    Seq(1L, 2L).toDF("a").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((3L, "x")))
    assert(Tables.resolvedEntries(path) === 1,
      "a new fingerprint must replace the entry, not add one")
  }

  test("restamping the same bytes re-resolves and keeps the hash") {
    val path = tempPath("tablesspec_restamp")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      java.nio.file.Paths.get(path))
    val before = hash(Tables.parquet(spark, path))
    val f = new java.io.File(path)
    assert(f.setLastModified(f.lastModified + 60000L))
    var df: DataFrame = null
    assert(jobsOf { df = Tables.parquet(spark, path) } >= 1,
      "the restamped path must re-run schema inference")
    assert(hash(df) === before)
    assert(Tables.resolvedEntries(path) === 1)
  }

  test("a second sweep of the benchmark's 14 queries compiles no generated code") {
    val names = Seq("j14_semi_join", "u2_scd2_build", "a2_canonical_wins",
      "a13_cumsum_by_miner", "t5_event_hourly", "f2_address_book",
      "pr3_rollup_profile", "p2_chain_filter", "g4_triangle_count",
      "tx13c_phrase_postings", "tx16_substring", "d3_simhash",
      "x7_int8_quant", "mm1_media_metadata")
    def sweep(): Unit = names.foreach(n => Bench.evaluate(q(n)))
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    sweep()
    val warm = compiles.getCount
    sweep()
    assert(compiles.getCount === warm,
      s"the second sweep recompiled ${compiles.getCount - warm} classes — " +
        "spark.sql.codegen.cache.maxEntries is below one pass")
  }
}
