package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{expr, xxhash64}
import org.apache.spark.sql.sources.BaseRelation

/** Laws of the relation resolver behind the table readers (the [[Memo]]
  * entry `relation:<table>` of the data dir):
  * a resolved table launches no schema-inference job, every call is a
  * fresh `LogicalRelation` over one shared relation, a rewritten or
  * restamped source re-resolves in place — and the session's
  * generated-code cache holds a whole pass, so a warm pass compiles
  * nothing. */
class TablesSpec extends SparkSpec {

  private def hash(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(df.apply): _*).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  /** A fresh data dir; its orders table lives at the returned path. */
  private def tempTable(prefix: String): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    (dir, s"$dir/orders.parquet")
  }

  test("a second Tables.orders launches no Spark job") {
    Tables.orders(spark, sf)
    assert(jobsOf(Tables.orders(spark, sf)) === 0,
      "a resolved table must not re-run schema inference")
    // control: the listener does see the inference job of an unresolved path
    val sp = spark
    import sp.implicits._
    val (dir, path) = tempTable("tablesspec_jobs")
    Seq(1L, 2L).toDF("v").write.parquet(path)
    assert(jobsOf(Tables.orders(spark, dir)) >= 1)
    assert(jobsOf(Tables.orders(spark, dir)) === 0)
  }

  test("two reads of one table self-join: attribute ids are fresh per call") {
    Tables.orders(spark, sf)
    var a: DataFrame = null
    var b: DataFrame = null
    assert(jobsOf { a = Tables.orders(spark, sf); b = Tables.orders(spark, sf) } === 0)
    assert(relation(a) eq relation(b), "one fingerprint must share one relation")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).nonEmpty && (ids(a) intersect ids(b)).isEmpty)
    val n = a.count()
    assert(n > 0)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() === n)
  }

  test("a rewritten path with an extra column re-resolves into one entry") {
    val sp = spark
    import sp.implicits._
    val (dir, path) = tempTable("tablesspec_rewrite")
    Seq(1L, 2L).toDF("a").write.parquet(path)
    assert(Tables.orders(spark, dir).columns.toSeq === Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(path)
    val df = Tables.orders(spark, dir)
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((3L, "x")))
    assert(Memo.entries(dir, "relation:orders") === 1,
      "a new fingerprint must replace the entry, not add one")
  }

  test("restamping the same bytes re-resolves and keeps the hash") {
    val (dir, path) = tempTable("tablesspec_restamp")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      java.nio.file.Paths.get(path))
    val first = Tables.orders(spark, dir)
    val before = hash(first)
    val f = new java.io.File(path)
    assert(f.setLastModified(f.lastModified + 60000L))
    var df: DataFrame = null
    assert(jobsOf { df = Tables.orders(spark, dir) } >= 1,
      "the restamped path must re-run schema inference")
    assert(hash(df) === before)
    assert(Memo.entries(dir, "relation:orders") === 1)
    // the new relation is a new listing: it carries the new stamp
    assert(relation(df) ne relation(first))
    val stamps = (r: BaseRelation) =>
      r.asInstanceOf[HadoopFsRelation].location
        .asInstanceOf[PartitioningAwareFileIndex].allFiles().map(_.getModificationTime)
    assert(stamps(relation(df)) === Seq(f.lastModified))
    assert(stamps(relation(first)) === Seq(f.lastModified - 60000L))
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
