package graft

import org.apache.spark.sql.functions._

/** JSONL landing edge, schema evolution and the doc_id-clustered,
  * zone-mapped shard layout of [[TrainingPipeline]] — the ingest and
  * layout infrastructure around the query layers. */
class IngestSpec extends SparkSpec {

  private def tmpDir(tag: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    p.toFile.deleteOnExit()
    p
  }

  test("jsonl: pinned schema, corrupt lines quarantined not dropped") {
    val dir = tmpDir("jsonl")
    val f = dir.resolve("part0.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}
        |{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "extra": "ignored"}
        |this line is not json at all
        |{"doc_id": 3, "lang": "de", "source": "books"}
        |{"doc_id": 4, "text": "broken json
        |""".stripMargin)
    val out = sources.JsonlIngest.read(spark, f.toString).cache()
    // 5 input lines → 5 rows: nothing silently dropped
    assert(out.count() === 5)
    // exactly the two unparseable lines are corrupt
    assert(out.filter(col("corrupt")).count() === 2)
    // parseable rows carry their fields; extra JSON fields are ignored
    val r2 = out.filter(col("doc_id") === 2).head()
    assert(r2.getAs[String]("lang") === "fr" && r2.getAs[Long]("n_chars") === 7L)
    // parsed-but-textless is NOT corrupt (null text, downstream filters it)
    val r3 = out.filter(col("doc_id") === 3).head()
    assert(!r3.getAs[Boolean]("corrupt") && r3.isNullAt(r3.fieldIndex("text")))
    // clean split matches the documents schema exactly
    val clean = sources.JsonlIngest.clean(spark, f.toString)
    assert(clean.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(clean.count() === 3)
    // quarantine preserves the offending raw lines verbatim
    val bad = sources.JsonlIngest.quarantine(spark, f.toString)
      .collect().map(_.getString(0)).toSet
    assert(bad.exists(_.contains("not json at all")))
    assert(bad.exists(_.contains("broken json")))
    out.unpersist()
  }

  test("jsonl clean rows flow into the dedup layer unchanged") {
    val dir = tmpDir("jsonl2")
    val f = dir.resolve("docs.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 10, "text": "the same text here", "lang": "en", "source": "a"}
        |{"doc_id": 11, "text": "the same text here", "lang": "en", "source": "b"}
        |""".stripMargin)
    val clean = sources.JsonlIngest.clean(spark, f.toString)
    // exact-dedup shape over ingested rows: both rows share one content hash
    val groups = clean.groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
    assert(groups.count() === 1 && groups.head().getLong(1) === 2L)
  }

  test("writeClustered lays out disjoint, internally sorted key ranges") {
    val out = tmpDir("clus").resolve("t").toString
    val docs = Tables.documents(spark, sf)
    TrainingPipeline.writeClustered(docs, "doc_id", 4, out)
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files.length >= 2, "range partitioning should emit multiple files")
    // per-file key ranges must not overlap — that is the property parquet
    // min/max pruning needs — and rows within a file must be sorted
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.toString)
        .select("doc_id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted")
      (ids.min, ids.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, "file ranges overlap")
      case _ =>
    }
    // content survives
    assert(spark.read.parquet(out).count() === docs.count())
  }

  test("zone-map read equals the full-scan filter while touching fewer files") {
    val out = tmpDir("zonemap").resolve("t").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val nFiles = TrainingPipeline.writeClustered(docs, "doc_id", 8, out)
    assert(nFiles >= 4)
    TrainingPipeline.buildZoneMap(spark, out, "doc_id")
    // zone map is invisible to a normal read of the same dir
    assert(spark.read.parquet(out).count() === docs.count())
    val (lo, hi) = (10L, 40L)
    val pruned = TrainingPipeline.zoneMapRead(spark, out, "doc_id", lo, hi)
    val full = spark.read.parquet(out).filter(col("doc_id").between(lo, hi))
    assert(pruned.exceptAll(full).count() === 0L)
    assert(full.exceptAll(pruned).count() === 0L)
    // the clustered layout makes the range touch a strict subset of files
    val touched = spark.read.parquet(s"$out/_zonemap")
      .filter(col("max_key") >= lo && col("min_key") <= hi).count()
    assert(touched < nFiles, s"expected pruning, touched $touched of $nFiles")
    // an empty range reads zero files and zero rows, schema intact
    val none = TrainingPipeline.zoneMapRead(spark, out, "doc_id", -100L, -50L)
    assert(none.count() === 0L)
    assert(none.columns.toSet === Set("doc_id", "text"))
  }

  test("readEvolved surfaces columns added by later schema versions, nulls backfilled") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("evolve").resolve("t").toString
    // v1 files: (doc_id, text); v2 adds quality_bp
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    Seq((3L, "gamma", 9000L)).toDF("doc_id", "text", "quality_bp")
      .write.mode("append").parquet(dir)
    val evolved = sources.JsonlIngest.readEvolved(spark, dir)
    assert(evolved.columns.toSet === Set("doc_id", "text", "quality_bp"))
    assert(evolved.count() === 3L)
    // old rows surface the new column as null; new rows keep their value
    assert(evolved.filter(col("doc_id") < 3L && col("quality_bp").isNotNull).isEmpty)
    assert(evolved.filter(col("doc_id") === 3L).head().getAs[Long]("quality_bp") === 9000L)
    // a plain read of the same directory can silently LOSE the new column
    // (footer sampling) — the hazard readEvolved exists to remove; all we
    // can assert portably is that evolved never has fewer columns
    assert(spark.read.parquet(dir).columns.length <= evolved.columns.length)
    // retyping a column is a different table: the merged read fails loudly
    Seq((4L, 5L, 1L)).toDF("doc_id", "text", "quality_bp")
      .write.mode("append").parquet(dir)
    assertThrows[Exception] {
      sources.JsonlIngest.readEvolved(spark, dir).collect()
    }
  }

  test("schemaDiff reports added/removed/retyped columns, empty when identical") {
    val sp = spark
    import sp.implicits._
    val v1 = tmpDir("sd1").resolve("t").toString
    val v2 = tmpDir("sd2").resolve("t").toString
    Seq((1L, "a", 2.0)).toDF("id", "text", "score")
      .write.mode("overwrite").parquet(v1)
    Seq((1L, 5L, "en")).toDF("id", "score", "lang") // text removed, lang added, score retyped
      .write.mode("overwrite").parquet(v2)
    val diff = sources.JsonlIngest.schemaDiff(spark, v1, v2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(diff === Set(("lang", "added"), ("text", "removed"), ("score", "retyped")))
    assert(sources.JsonlIngest.schemaDiff(spark, v1, v1).count() === 0L)
  }
}
