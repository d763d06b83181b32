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
  * session saw last: two manifest existence checks over an unchanged
  * store, a forward walk over new commits, the listing when the hint is
  * gone. [[Versions.publish]] keeps the versions consecutive. */
class VersionsSpec extends SparkSpec {

  /** A writer of its own: its hint is not the reading session's. */
  private lazy val writer = spark.newSession()

  /** Commit version `v` of the store at `root` the way a writer does: its
    * relation `r`, then its manifest. */
  private def commit(root: String, v: Long): Unit =
    Versions.publish(writer, root, v, Seq("r" -> writer.range(1).toDF("x")))

  /** The names in dir `sub` of the store at `root`. */
  private def names(root: String, sub: String): Seq[String] =
    Option(new java.io.File(root, sub).list()).toSeq.flatten.sorted

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
    val other = spark.newSession()
    def tick(): Unit = Pipelines.publish(other, dir, Seq("chain_tip" -> other.range(1).toDF("x")))
    tick()
    assert(Versions.latest(spark, dir) === Some(1L))
    tick()
    assert(Versions.latest(spark, dir) === Some(2L))
    // several commits since the last read: the walk goes forward to the newest
    tick(); tick()
    assert(Versions.latest(spark, dir) === Some(4L))
    // an uncommitted next version (a writer's dir and temp manifest) is not the newest
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "chain_tip", "v=5-dead"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_versions", "5-dead"), "torn")
    assert(Versions.latest(spark, dir) === Some(4L))
  }

  test("a hint left behind by three commits and a prune falls back to the listing") {
    val root = store("graft_versions_stale")
    commit(root, 1L)
    assert(Versions.latest(spark, root) === Some(1L))
    // committing 4 prunes below 3, the hint's version among them
    (2L to 4L).foreach(commit(root, _))
    assert(names(root, "_versions") === Seq("3", "4"))
    assert(names(root, "r").map(_.takeWhile(_ != '-')) === Seq("v=3", "v=4"))
    assert(Versions.latest(spark, root) === Some(4L))
    // a store deleted and written again from its first version
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    assert(Versions.latest(spark, root) === None)
    commit(root, 1L)
    assert(Versions.latest(spark, root) === Some(1L))
  }

  test("a write that would leave a gap fails naming the store and both versions") {
    val root = store("graft_versions_gap")
    commit(root, 7L) // any first version
    commit(root, 8L)
    // a gap, a version below the first, a committed version again: each
    // fails at its commit and deletes what it wrote
    Seq(10L, 6L, 8L).foreach { v =>
      val e = intercept[IllegalStateException](commit(root, v))
      assert(e.getMessage.contains(s"version $v of $root") &&
        e.getMessage.contains("newest committed version 8"), e.getMessage)
    }
    assert(names(root, "_versions") === Seq("7", "8"))
    assert(names(root, "r").map(_.takeWhile(_ != '-')) === Seq("v=7", "v=8"))
    commit(root, 9L)
    assert(Versions.latest(spark, root) === Some(9L))
  }
}
