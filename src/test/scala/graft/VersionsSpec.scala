package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, PathFilter, RawLocalFileSystem}

/** The local file system under the scheme `counting:`, counting the
  * metadata calls made through it. `exists` is a `getFileStatus`. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = CountingFileSystem.Uri
  override def getScheme: String = CountingFileSystem.Scheme
  override def getFileStatus(p: Path): FileStatus = {
    CountingFileSystem.statuses.incrementAndGet()
    super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFileSystem.listings.incrementAndGet()
    super.listStatus(p)
  }
  override def globStatus(p: Path): Array[FileStatus] = {
    CountingFileSystem.listings.incrementAndGet()
    super.globStatus(p)
  }
  override def globStatus(p: Path, f: PathFilter): Array[FileStatus] = {
    CountingFileSystem.listings.incrementAndGet()
    super.globStatus(p, f)
  }
}

object CountingFileSystem {
  val Scheme = "counting"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  /** `getFileStatus` calls, existence checks included. */
  val statuses = new AtomicInteger()
  /** `listStatus` and `globStatus` calls. */
  val listings = new AtomicInteger()
}

/** [[Versions.latest]] finds the newest committed version from the one a
  * session saw last: two existence checks over an unchanged store, a
  * forward walk over new commits, the listing when the hint is gone. */
class VersionsSpec extends SparkSpec {

  /** Commit version `v` of the store at `root` the way a writer does: its
    * files, then its `_SUCCESS`. */
  private def commit(root: String, v: Long): Unit = {
    val dir = java.nio.file.Paths.get(Versions.path(root, v))
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("part-00000.parquet"), "rows")
    java.nio.file.Files.createFile(dir.resolve("_SUCCESS")): Unit
  }

  private def store(prefix: String): String =
    s"${java.nio.file.Files.createTempDirectory(prefix)}/store"

  test("two serving reads over an unchanged cache list nothing and check two files each") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${CountingFileSystem.Scheme}.impl", classOf[CountingFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_versions_probe").toString
    Pipelines.refreshCache(spark, sf, local)
    val dir = s"${CountingFileSystem.Scheme}://$local"
    // the first reads open every relation through the counting file system
    val doc = Pipelines.dashboard(spark, dir)
    val page = Pipelines.burnFeeAreaPageJson(spark, dir, None, 50)
    assert(doc === Pipelines.dashboard(spark.newSession(), local))
    CountingFileSystem.statuses.set(0)
    CountingFileSystem.listings.set(0)
    assert(Pipelines.dashboard(spark, dir) === doc)
    assert(Pipelines.burnFeeAreaPageJson(spark, dir, None, 50) === page)
    assert(CountingFileSystem.listings.get === 0, "a version lookup over an unchanged cache lists nothing")
    assert(CountingFileSystem.statuses.get <= 4, "at most two existence checks per read")
  }

  test("a session that read version n sees n + 1 on its first read after another session commits it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versions_next").toString
    val root = s"$dir/chain_tip"
    val other = spark.newSession()
    def tick(): Unit = Pipelines.publish(other, dir, Seq("chain_tip" -> other.range(1).toDF("x")))
    tick()
    assert(Versions.latest(spark, root) === Some(1L))
    tick()
    assert(Versions.latest(spark, root) === Some(2L))
    // several commits since the last read: the walk goes forward to the newest
    tick(); tick()
    assert(Versions.latest(spark, root) === Some(4L))
    // an uncommitted next version is not the newest
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(Versions.path(root, 5L)))
    assert(Versions.latest(spark, root) === Some(4L))
  }

  test("a hint left behind by three commits and a prune falls back to the listing") {
    val root = store("graft_versions_stale")
    commit(root, 1L)
    assert(Versions.latest(spark, root) === Some(1L))
    (2L to 4L).foreach(commit(root, _))
    Versions.prune(spark, root, 3L)
    assert(!new java.io.File(Versions.path(root, 2L)).exists)
    assert(Versions.latest(spark, root) === Some(4L))
    // a store deleted and written again from its first version
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    assert(Versions.latest(spark, root) === None)
    commit(root, 1L)
    assert(Versions.latest(spark, root) === Some(1L))
  }

  test("a write that would leave a gap fails naming the store and both versions") {
    val root = store("graft_versions_gap")
    assert(Versions.pathFor(spark, root, 7L) === Versions.path(root, 7L), "any first version")
    commit(root, 7L)
    commit(root, 8L)
    assert(Versions.pathFor(spark, root, 9L) === Versions.path(root, 9L))
    assert(Versions.pathFor(spark, root, 8L) === Versions.path(root, 8L), "a committed version again")
    Seq(10L, 6L).foreach { v =>
      val e = intercept[IllegalStateException](Versions.pathFor(spark, root, v))
      assert(e.getMessage.contains(s"version $v of $root") &&
        e.getMessage.contains("newest committed version 8"), e.getMessage)
    }
  }
}
