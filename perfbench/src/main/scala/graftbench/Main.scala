package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Benchmark entry point. `perfbench/run.py` builds this and launches it
  * once per run with a private work directory:
  *
  *   graftbench.Main --workload queries|serve --seed N --seconds S
  *     --trace 0|1 --data <sf0.01 dir> --work <dir> --expected <tsv> --report <json>
  *
  * The last stdout line is the result object. `--record <tsv>` instead runs
  * every registered query once over the copied inputs and writes the
  * expected-hash file. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val work = Paths.get(arg("work")).toAbsolutePath
    val cpus = arg("cpus")
    a.get("record") match {
      case Some(out) => record(Paths.get(arg("data")), work, cpus, Paths.get(out))
      case None =>
        val code = run(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
          arg("trace") == "1", Paths.get(arg("data")), work, cpus,
          Paths.get(arg("expected")), Paths.get(arg("report")))
        sys.exit(code)
    }
  }

  /** Copy the `*.parquet` sources into a fresh private directory. */
  private def copyInputs(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val files = Files.list(src).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
    require(files.nonEmpty, s"no parquet sources in $src")
    files.foreach(f => Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def record(data: Path, work: Path, cpus: String, out: Path): Unit = {
    val dataDir = work.resolve("data")
    copyInputs(data, dataDir)
    val spark = graft.Sessions.local(cpus, "graftbench-record")
    val names = Catalog.registry.flatMap(_._2.toSeq).sortBy(_._1)
    val lines = names.map { case (n, q) =>
      val h = Catalog.hashOf(q(spark, dataDir.toString))
      System.err.println(s"[perfbench] recorded $n $h")
      s"$n\t$h"
    }
    Files.writeString(out, lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  def loadExpected(p: Path): Map[String, String] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  private def run(workload: String, seed: Long, seconds: Int, traced: Boolean, data: Path,
                  work: Path, cpus: String, expectedFile: Path, report: Path): Int = {
    val t0 = System.nanoTime()
    val dataDir = work.resolve("data")
    val cacheDir = work.resolve("cache")
    copyInputs(data, dataDir)
    val copySec = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traced)
    val (spark, session) = tracer.child("Sessions.local")(graft.Sessions.local(cpus, s"graftbench-$workload"))
    tracer.attach(spark)
    val ctx = Ctx(spark, dataDir.toString, cacheDir.toString, tracer, seed, seconds,
      loadExpected(expectedFile))
    val metrics = new Metrics(ctx, session.sec)
    val body: () => Metrics.Outcome = workload match {
      case "queries" => () => metrics.queries(QueryWorkload.queries, t0)
      case "serve" => () => metrics.serve(t0)
      case other => sys.error(s"unknown workload '$other' (queries, serve)")
    }
    val out = body()
    // what the session holds on disk for its caches at the end: the Memo
    // parquet scratch directory. Spark block storage is left out: how much
    // of it is still held depends on when the ContextCleaner last ran.
    val memoDir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-memo-${spark.sparkContext.applicationId}")
    val storageMb = dirBytes(memoDir) / 1e6
    tracer.drain(spark)
    spark.stop()
    // measured before anything removes it: what the program leaves behind
    val leakMb = dirBytes(memoDir) / 1e6
    val perLayer = if (traced) metrics.perLayer(out, leakMb) else Map.empty[String, (Double, String)]
    val e2e = out.endToEnd ++ Map(
      "setup_s" -> (out.setupSec, "s"),
      "storage_mb" -> (storageMb, "MB"))
    val missing = (if (traced) Metrics.perLayerNames else Metrics.endToEndNames)
      .filterNot((if (traced) perLayer else e2e).contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] metrics not measurable in this run: ${missing.mkString(", ")}")
      return 3
    }
    val shown = if (traced) perLayer else e2e
    val result = Map(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> shown.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val rep = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> cpus, "copy_s" -> copySec, "scratch_leak_mb" -> leakMb, "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> out.detail, "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "self_time_s" -> (if (traced) metrics.selfTimes() else Map.empty),
      "result" -> result)
    Files.createDirectories(report.toAbsolutePath.getParent)
    Files.writeString(report, Json(rep) + "\n")
    if (traced) {
      val spanFile = Paths.get(report.toString.stripSuffix(".json") + ".spans.jsonl")
      Files.write(spanFile, tracer.allSpans.sortBy(_.startNs).map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }.asJava)
    }
    println(Json(result))
    0
  }
}
