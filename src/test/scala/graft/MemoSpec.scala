package graft

/** Laws of the one cache layer (VERDICT r7 item 1): the memo is what keeps
  * composed queries (px5/tx17/TrainingPipeline) from re-running the
  * d2/d6/tx9 cores and plan construction from re-running driver-side
  * counts and trainings, so its contract needs gates of its own —
  * build-once, fingerprint invalidation with one entry per tag, per-tag
  * isolation, loud failure on a missing source, and nested builds. */
class MemoSpec extends SparkSpec {
  test("cached builds once per (dir, tag, mtime) and serves the same frame") {
    var builds = 0
    def build = {
      builds += 1
      Tables.documents(spark, sf).select("doc_id")
    }
    val a = Memo.cached(spark, sf, "memospec_once", "documents.parquet")(build)
    val b = Memo.cached(spark, sf, "memospec_once", "documents.parquet")(build)
    assert(builds === 1, "second call must serve the memoized core")
    assert(a eq b, "both calls must return the SAME materialized frame")
  }

  test("distinct tags never collide") {
    var builds = 0
    def build = {
      builds += 1
      Tables.documents(spark, sf).select("doc_id")
    }
    Memo.cached(spark, sf, "memospec_tag_a", "documents.parquet")(build)
    Memo.cached(spark, sf, "memospec_tag_b", "documents.parquet")(build)
    assert(builds === 2)
  }

  test("a source mtime change invalidates the entry (stale cores never served)") {
    val dir = java.nio.file.Files.createTempDirectory("memospec").toFile
    val src = new java.io.File(dir, "documents.parquet")
    java.nio.file.Files.writeString(src.toPath, "v1")
    var builds = 0
    def build = {
      builds += 1
      Tables.documents(spark, sf).select("doc_id")
    }
    Memo.cached(spark, dir.getPath, "memospec_mtime", "documents.parquet")(build)
    Memo.cached(spark, dir.getPath, "memospec_mtime", "documents.parquet")(build)
    assert(builds === 1)
    // regenerate the source: same path, different mtime → entry invalid
    assert(src.setLastModified(src.lastModified + 60000L))
    Memo.cached(spark, dir.getPath, "memospec_mtime", "documents.parquet")(build)
    assert(builds === 2, "an mtime change must rebuild, never serve stale")
  }

  /** ADVICE r12 (medium): the parquet scratch path omitted the data DIR,
    * so two dirs sharing a tag and a source mtime (dirs generated or
    * copied together) wrote the SAME path — the second build overwrote the
    * parquet backing the first's still-cached lazy DataFrame. */
  test("cachedParquet: two data dirs, same tag, equal mtimes — each serves its own corpus") {
    val sp = spark
    import sp.implicits._
    val d1 = java.nio.file.Files.createTempDirectory("memopq1").toFile
    val d2 = java.nio.file.Files.createTempDirectory("memopq2").toFile
    Seq(1L).toDF("v").write.parquet(new java.io.File(d1, "documents.parquet").getPath)
    Seq(2L).toDF("v").write.parquet(new java.io.File(d2, "documents.parquet").getPath)
    val t = 1700000000000L
    assert(new java.io.File(d1, "documents.parquet").setLastModified(t))
    assert(new java.io.File(d2, "documents.parquet").setLastModified(t))
    val a = Memo.cachedParquet(spark, d1.getPath, "memospec_pq_dir", "documents.parquet")(
      spark.read.parquet(new java.io.File(d1, "documents.parquet").getPath))
    val b = Memo.cachedParquet(spark, d2.getPath, "memospec_pq_dir", "documents.parquet")(
      spark.read.parquet(new java.io.File(d2, "documents.parquet").getPath))
    assert(b.collect().map(_.getLong(0)).toSeq === Seq(2L))
    // the load-bearing assert: a's LAZY reads after b's build must still
    // see d1's corpus (pre-fix, b's overwrite re-pointed them at d2's)
    assert(a.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  /** Builds that can overlap in time — two threads racing one key, or
    * sibling sessions of one application, which share a scratch root —
    * must never write the same path, or one clobbers the files backing
    * the other's frame (ADVICE r12). */
  test("cachedParquet: every build writes its own scratch directory") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memopqown").toFile
    Seq(7L).toDF("v").write.parquet(new java.io.File(dir, "documents.parquet").getPath)
    val scratch = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-memo-${spark.sparkContext.applicationId}")
    def ownDirs = Option(scratch.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("memospec_pq_own_")).toSet
    val a = Memo.cachedParquet(spark, dir.getPath, "memospec_pq_own",
      "documents.parquet")(Seq(7L).toDF("v"))
    val b = Memo.cachedParquet(spark.newSession(), dir.getPath, "memospec_pq_own",
      "documents.parquet")(Seq(99L).toDF("v"))
    assert(a.collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(b.collect().map(_.getLong(0)).toSeq === Seq(99L))
    assert(ownDirs.size === 2, s"one directory per build: $ownDirs")
  }

  /** The build reads back with the schema it wrote: reopening it must not
    * cost a schema-inference job on top of the write. */
  test("cachedParquet: a build launches no more jobs than the plain write") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memopqjobs").toFile
    Seq(1L).toDF("v").write.parquet(new java.io.File(dir, "documents.parquet").getPath)
    def core = spark.range(100).select(($"id" % 7).as("k"), $"id".as("v"))
    val plain = jobsOf(core.write.parquet(new java.io.File(dir, "plain").getPath))
    var built: org.apache.spark.sql.DataFrame = null
    val buildJobs = jobsOf {
      built = Memo.cachedParquet(spark, dir.getPath, "memospec_pq_jobs",
        "documents.parquet")(core)
    }
    assert(buildJobs <= plain, s"build $buildJobs jobs, plain write $plain")
    assert(built.schema === spark.read.parquet(new java.io.File(dir, "plain").getPath).schema)
    assert(built.collect().toSet === core.collect().toSet)
  }

  /** Perfbench `queries` restamps documents before every pass and each
    * `serve` tick restamps lineitem: an entry per stamp would pin one more
    * checkpointed frame per pass for the life of the session. */
  test("a restamped source rebuilds and REPLACES its entry: one entry per tag") {
    val dir = java.nio.file.Files.createTempDirectory("memospec_restamp").toFile
    val src = new java.io.File(dir, "documents.parquet")
    java.nio.file.Files.writeString(src.toPath, "v1")
    var frames = 0
    var values = 0
    def touch(): Unit = {
      Memo.cached(spark, dir.getPath, "memospec_restamp_core", "documents.parquet") {
        frames += 1
        spark.range(1).toDF()
      }
      Memo.value(spark, dir.getPath, "memospec_restamp_value", "documents.parquet") {
        values += 1
        values
      }
      ()
    }
    touch()
    for (i <- 1 to 3) {
      assert(src.setLastModified(src.lastModified + 60000L * i))
      touch()
      touch()
    }
    assert(frames === 4 && values === 4, "each restamp rebuilds exactly once")
    assert(Memo.entries("memospec_restamp_core") === 1)
    assert(Memo.entries("memospec_restamp_value") === 1)
  }

  /** The serving edge keys one area page per cursor on one relation: a
    * rewrite must not leave the pages of the old bytes behind until each
    * cursor happens to be read again. */
  test("a build at a new fingerprint retires the source's entries under other tags") {
    val dir = java.nio.file.Files.createTempDirectory("memospec_retire").toFile
    val src = new java.io.File(dir, "documents.parquet")
    java.nio.file.Files.writeString(src.toPath, "v1")
    java.nio.file.Files.writeString(new java.io.File(dir, "embeddings.parquet").toPath, "v1")
    val tags = Seq("memospec_retire_a", "memospec_retire_b", "memospec_retire_c")
    tags.foreach(t => Memo.value(spark, dir.getPath, t, "documents.parquet")(t))
    Memo.value(spark, dir.getPath, "memospec_retire_other", "embeddings.parquet")(0)
    assert(tags.map(Memo.entries) === Seq(1, 1, 1))
    assert(src.setLastModified(src.lastModified + 60000L))
    Memo.value(spark, dir.getPath, tags.head, "documents.parquet")(tags.head)
    assert(tags.map(Memo.entries) === Seq(1, 0, 0),
      "entries of the superseded source must go when it rebuilds")
    assert(Memo.entries("memospec_retire_other") === 1, "another source keeps its entry")
  }

  test("a missing source fails loudly and leaves no entry") {
    val dir = java.nio.file.Files.createTempDirectory("memospec_missing").toFile
    var builds = 0
    intercept[java.io.FileNotFoundException] {
      Memo.value(spark, dir.getPath, "memospec_missing_value", "documents.parquet") {
        builds += 1
        1L
      }
    }
    intercept[java.io.FileNotFoundException] {
      Memo.cached(spark, dir.getPath, "memospec_missing_core", "documents.parquet") {
        builds += 1
        spark.range(1).toDF()
      }
    }
    assert(builds === 0, "nothing is built against a missing source")
    assert(Memo.entries("memospec_missing_value") === 0)
    assert(Memo.entries("memospec_missing_core") === 0)
  }

  /** A serving process that refreshes on a timer never drains the log. */
  test("an undrained build log keeps at most its cap, newest builds last") {
    val dir = java.nio.file.Files.createTempDirectory("memospec_log").toString
    Memo.drainBuilds()
    val n = 2 * Memo.BuildLogCap
    (1 to n).foreach(i =>
      Memo.valueAt(spark, dir, s"memospec_log_$i", "documents.parquet", i)(i))
    val logged = Memo.drainBuilds().map(_._1)
    assert(logged.size <= Memo.BuildLogCap, s"${logged.size} builds held")
    assert(logged.lastOption === Some(s"memospec_log_$n"), "the newest build is kept")
    assert(!logged.contains("memospec_log_1"), "the oldest build is dropped")
  }

  /** The cell_asg → k-means shape: a value build nested inside a core
    * build, both on the one map. */
  test("a value built inside a cached build nests; the parent logs exclusive time") {
    Memo.drainBuilds()
    val inner = Memo.cached(spark, sf, "memospec_nest_outer", "documents.parquet") {
      val n = Memo.value(spark, sf, "memospec_nest_inner", "embeddings.parquet") {
        Thread.sleep(1000)
        1L
      }
      spark.range(n).toDF()
    }
    assert(inner.count() === 1L)
    val logged = Memo.drainBuilds().toMap
    assert(logged.contains("memospec_nest_outer") && logged.contains("memospec_nest_inner"),
      s"both builds are logged: $logged")
    assert(logged("memospec_nest_inner") >= 1.0)
    assert(logged("memospec_nest_outer") < 1.0,
      s"the parent must not include the child's second: $logged")
  }
}
