package graft

/** Dev-only mini spark-sql shell: runs one SQL statement against a fully
  * configured session (testdata views + extensions) and prints the rows.
  * Usage: runMain graft.Sql <sfDir> <sql...>
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val sql = args.tail.mkString(" ")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "graft-sql")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.parquet(spark, s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    spark.sql(sql).show(100, truncate = false)
    spark.stop()
  }
}
