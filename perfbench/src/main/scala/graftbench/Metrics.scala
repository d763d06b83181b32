package graftbench

import scala.jdk.CollectionConverters._

object Metrics {
  /** Everything a run measured: the end-to-end metrics (less the three
    * Main adds after the session stops), the correctness tally, and the
    * raw samples the per-layer metrics are cut from. */
  final case class Outcome(setupSec: Double, windowSec: Double,
                           endToEnd: Map[String, (Double, String)],
                           attempted: Int, failed: Int, detail: Map[String, Any],
                           queries: Seq[QueryRun] = Nil, reads: Seq[ReadRun] = Nil,
                           ticks: Seq[Tick] = Nil, memo: Seq[(String, Double)] = Nil,
                           filesWritten: Long = 0)

  /** Metrics an untraced run prints: the same set on every workload. */
  val endToEndNames: Seq[String] = Seq("setup_s", "op_cpu_ms.p50", "cycle_cpu_s", "storage_mb")

  val relations: Seq[String] = Serve.Relations

  /** Metrics a traced run prints; a layer a workload does not exercise
    * reads 0 there. */
  val perLayerNames: Seq[String] =
    Seq("Sessions.local_s") ++
      Catalog.modules.flatMap(m => Seq(s"$m.construct_s", s"$m.exec_s")) ++
      Seq("Memo.builds", "Memo.build_s",
        "catalyst.queries", "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_ratio", "exec.task_wait_ms",
        "exec.task_cpu_s",
        "exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
        "exec.spill_bytes", "exec.output_bytes") ++
      relations.map(r => s"refresh.${r}_s") ++
      Seq("refresh.files_written", "refresh.tick_late_s",
        "dashboard.queries", "dashboard.jobs", "dashboard.plan_ms", "dashboard.exec_ms",
        "area_page.jobs", "area_page.plan_ms", "serve.torn_reads", "Memo.scratch_leak_mb")

  /** Percentile as an Option-valued report entry with its sample count. */
  def pct(xs: Seq[Double], p: Double): Map[String, Any] =
    Map("value" -> Stats.percentile(xs, p), "n" -> xs.size)
}

final class Metrics(ctx: Ctx, sessionSec: Double) {
  import Metrics._
  private val tr = ctx.tracer
  private val cores = ctx.spark.sparkContext.defaultParallelism
  private var window: Outcome = _

  /** Query workloads: the warm-up passes, then the measured passes. */
  def queries(w: QueryWorkload, t0: Long): Outcome = {
    val warm = (0 until QueryWorkload.WarmPasses).flatMap(p => w.runPass(ctx, p, measured = false)._1)
    val setupSec = (System.nanoTime() - t0) / 1e9
    val n = w.passes(ctx.seconds)
    ctx.log(f"${w.name}: setup $setupSec%.2f s; ${w.queries.size} queries x $n passes")
    val passes = (0 until n).map(p => w.runPass(ctx, QueryWorkload.WarmPasses + p, measured = true))
    val runs = passes.flatMap(_._1)
    val windowSec = passes.map(_._2).sum
    val ok = runs.filter(_.ok).map(_.latencySec)
    val all = warm ++ runs
    val failed = all.count(!_.ok)
    val lat = runs.map(_.latencySec * 1000)
    tr.drain(ctx.spark)
    val cpuMs = runs.map(r => tr.cpuSec(r.ops) * 1000)
    val passCpu = passes.map(p => p._1.map(r => tr.cpuSec(r.ops)).sum)
    val perQueryCpu = runs.groupBy(_.name).map { case (k, rs) => k -> rs.map(r => tr.cpuSec(r.ops)) }
    window = Outcome(setupSec, windowSec,
      Map("op_cpu_ms.p50" -> (Stats.percentile(cpuMs, 0.5).getOrElse(Double.NaN), "ms"),
        "cycle_cpu_s" -> (Stats.median(passCpu), "s")).filterNot(_._2._1.isNaN),
      all.size, failed,
      Map("queries_per_pass" -> w.queries.size, "passes" -> n,
        "op_ms.p50" -> pct(lat, 0.5),
        "cycle_s" -> Map("value" -> Stats.median(passes.map(_._2)), "n" -> n),
        "pass_s" -> passes.map(_._2), "pass_cpu_s" -> passCpu,
        "query_cpu_s" -> perQueryCpu,
        "op_ms.mean" -> Map("value" -> Stats.mean(lat), "n" -> lat.size),
        "queries_per_s" -> Map("value" -> ok.size / windowSec, "n" -> ok.size),
        "query_s.p50" -> pct(runs.map(_.latencySec), 0.5),
        "query_s.p90" -> pct(runs.map(_.latencySec), 0.9),
        "failed_ratio" -> Map("value" -> failed.toDouble / all.size, "n" -> all.size),
        "query_s" -> runs.groupBy(_.name).map { case (k, rs) => k -> rs.map(_.latencySec) }),
      queries = runs)
    window
  }

  /** `serve`: the cold refresh and expected outputs, then writer and
    * readers side by side for the window. */
  def serve(t0: Long): Outcome = {
    val exp = Serve.setup(ctx)
    val setupSec = (System.nanoTime() - t0) / 1e9
    ctx.log(f"serve: setup $setupSec%.2f s")
    val o = Serve.measure(ctx, exp)
    val memo = graft.Memo.drainBuilds()
    val ok = o.reads.filter(_.ok)
    val dash = ok.filter(_.kind == "dashboard").map(_.latencySec * 1000)
    val page = ok.filter(_.kind == "area_page").map(_.latencySec * 1000)
    val lat = ok.map(_.latencySec * 1000)
    // the wall-clock medians in the report cover reads and cycles that
    // began while a refresh ran: how much of the window the refresh fills
    // varies with machine speed, and the quick reads between ticks would
    // otherwise move the medians with it
    val latBeside = ok.filter(_.duringRefresh).map(_.latencySec * 1000)
    val cycBeside = o.cycles.filter(_.duringRefresh).map(_.sec)
    val failed = o.reads.count(!_.ok) + o.tickErrors
    val attempted = o.reads.size + o.ticks.size
    val torn = o.reads.map(_.attempts).sum - ok.size
    tr.drain(ctx.spark)
    val readCpuMs = ok.map(r => tr.cpuSec(r.ops) * 1000)
    val tickCpu = o.tickOps.map(tr.cpuSec)
    window = Outcome(setupSec, o.windowSec,
      Map("op_cpu_ms.p50" -> (Stats.percentile(readCpuMs, 0.5).getOrElse(Double.NaN), "ms"),
        "cycle_cpu_s" -> (if (tickCpu.isEmpty) Double.NaN else Stats.median(tickCpu), "s"))
        .filterNot(_._2._1.isNaN),
      attempted, failed,
      Map("op_ms.p50" -> pct(latBeside, 0.5),
        "cycle_s" -> Map("value" -> (if (cycBeside.isEmpty) None else Some(Stats.median(cycBeside))),
          "n" -> cycBeside.size),
        "refresh_cpu_s" -> tickCpu,
        "reads" -> Map("fields" -> Seq("kind", "ms", "cpu_ms", "attempts", "during_refresh"),
          "value" -> o.reads.map(r => Seq(r.kind, r.latencySec * 1000, tr.cpuSec(r.ops) * 1000,
            r.attempts, r.duringRefresh))),
        "dashboard_cpu_ms.p50" -> pct(ok.filter(_.kind == "dashboard").map(r => tr.cpuSec(r.ops) * 1000), 0.5),
        "area_page_cpu_ms.p50" -> pct(ok.filter(_.kind == "area_page").map(r => tr.cpuSec(r.ops) * 1000), 0.5),
        "op_ms.mean" -> Map("value" -> Stats.mean(lat), "n" -> lat.size),
        "op_ms.p50_all_reads" -> pct(lat, 0.5),
        "cycles" -> Map("value" -> o.cycles.map(_.sec), "n" -> o.cycles.size,
          "during_refresh" -> cycBeside.size),
        "dashboard_ms.p50" -> pct(dash, 0.5), "dashboard_ms.p90" -> pct(dash, 0.9),
        "dashboard_ms.mean" -> Map("value" -> Stats.mean(dash), "n" -> dash.size),
        "area_page_ms.p50" -> pct(page, 0.5),
        "reads_per_s" -> Map("value" -> dash.size / o.windowSec, "n" -> dash.size),
        "refresh_s" -> o.ticks.map(_.fromDueSec),
        "refresh_s.p50" -> pct(o.ticks.map(_.fromDueSec), 0.5),
        "tick_late_s" -> o.ticks.map(_.lateSec),
        "torn_reads" -> Map("value" -> torn, "attempts" -> o.reads.map(_.attempts).sum),
        "failed_ratio" -> Map("value" -> failed.toDouble / attempted, "n" -> attempted)),
      reads = o.reads, ticks = o.ticks, memo = memo, filesWritten = o.filesWritten)
    window
  }

  private def measuredOps(layer: String => Boolean): Seq[Op] =
    tr.ops.values.asScala.filter(o => o.measured && layer(o.layer)).toSeq

  private def qesOf(ops: Seq[Op]): Seq[QeRecord] = {
    val ids = ops.map(_.id).toSet
    tr.allQes.filter(q => ids(q.op))
  }

  private def countersOf(ops: Seq[Op]): OpCounters = {
    val c = new OpCounters
    ops.flatMap(o => Option(tr.counters.get(o.id))).foreach { x =>
      c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks
      c.taskRunMs += x.taskRunMs; c.taskWaitMs += x.taskWaitMs; c.taskCpuNs += x.taskCpuNs
      c.inputBytes += x.inputBytes; c.shuffleReadBytes += x.shuffleReadBytes
      c.shuffleWriteBytes += x.shuffleWriteBytes; c.spillBytes += x.spillBytes
      c.outputBytes += x.outputBytes
    }
    c
  }

  private def planMs(q: QeRecord): Long =
    q.phaseMs("analysis") + q.phaseMs("optimization") + q.phaseMs("planning")

  /** Per-layer metrics over the measured window (traced runs). */
  def perLayer(o: Outcome, leakMb: Double): Map[String, (Double, String)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    m("Sessions.local_s") = (sessionSec, "s")
    Catalog.modules.foreach { mod =>
      val rs = o.queries.filter(_.module == mod)
      m(s"$mod.construct_s") = (rs.map(_.constructSec).sum, "s")
      m(s"$mod.exec_s") = (rs.map(_.execSec).sum, "s")
    }
    val memo = if (o.queries.nonEmpty) o.queries.map(r => (r.memoBuilds, r.memoSec))
               else o.memo.map(b => (1, b._2))
    m("Memo.builds") = (memo.map(_._1).sum.toDouble, "count")
    m("Memo.build_s") = (memo.map(_._2).sum, "s")
    val all = measuredOps(_ => true)
    val qes = qesOf(all)
    m("catalyst.queries") = (qes.size.toDouble, "count")
    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"catalyst.${p}_ms") = (qes.map(_.phaseMs(p)).sum.toDouble, "ms")
    }
    val c = countersOf(all)
    m("exec.jobs") = (c.jobs.toDouble, "count")
    m("exec.stages") = (c.stages.toDouble, "count")
    m("exec.tasks") = (c.tasks.toDouble, "count")
    m("exec.task_busy_ratio") = (c.taskRunMs / (o.windowSec * 1000 * cores), "ratio")
    m("exec.task_wait_ms") = (c.taskWaitMs.toDouble, "ms")
    m("exec.task_cpu_s") = (c.taskCpuNs / 1e9, "s")
    m("exec.input_bytes") = (c.inputBytes.toDouble, "B")
    m("exec.shuffle_read_bytes") = (c.shuffleReadBytes.toDouble, "B")
    m("exec.shuffle_write_bytes") = (c.shuffleWriteBytes.toDouble, "B")
    m("exec.spill_bytes") = (c.spillBytes.toDouble, "B")
    m("exec.output_bytes") = (c.outputBytes.toDouble, "B")
    // refresh: each relation owns the interval from the previous cache
    // write's end (or the tick's start) to the end of its own write, so
    // construction and Memo builds land on the relation that needed them
    val perRel = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ticks = measuredOps(_ == "Pipelines.refreshCache")
    ticks.foreach { t =>
      val span = tr.allSpans.find(s => s.id == t.id)
      val writes = qesOf(Seq(t)).flatMap(q => q.outputPath.map(p => (q, p)))
        .filter(_._2.contains(ctx.cacheDir))
        .flatMap { case (q, p) => tr.execEnd(q.execId).map(e => (e, p)) }.sortBy(_._1)
      var prev = span.map(_.startNs).getOrElse(0L)
      writes.foreach { case (end, p) =>
        val rel = p.split('/').last
        perRel(rel) += (end - prev) / 1e9
        prev = end
      }
    }
    relations.foreach(r => m(s"refresh.${r}_s") = (perRel(r), "s"))
    m("refresh.files_written") = (o.filesWritten.toDouble, "count")
    m("refresh.tick_late_s") = (if (o.ticks.isEmpty) 0.0 else o.ticks.map(_.lateSec).max, "s")
    def perOp(layer: String): (Double, Seq[QeRecord], OpCounters) = {
      val ops = measuredOps(_ == layer)
      (math.max(1, ops.size).toDouble, qesOf(ops), countersOf(ops))
    }
    val (nd, dq, dc) = perOp("Pipelines.dashboard")
    m("dashboard.queries") = (dq.size / nd, "count")
    m("dashboard.jobs") = (dc.jobs / nd, "count")
    m("dashboard.plan_ms") = (dq.map(planMs).sum / nd, "ms")
    m("dashboard.exec_ms") = (dq.map(_.durationNs).sum / 1e6 / nd, "ms")
    val (np, pq, pc) = perOp("Pipelines.burnFeeAreaPageJson")
    m("area_page.jobs") = (pc.jobs / np, "count")
    m("area_page.plan_ms") = (pq.map(planMs).sum / np, "ms")
    m("serve.torn_reads") = ((o.reads.map(_.attempts).sum - o.reads.count(_.ok)).toDouble, "count")
    m("Memo.scratch_leak_mb") = (leakMb, "MB")
    m.toMap
  }

  /** Self time per layer over the measured window, in seconds: a layer's
    * time less the parts its nested layers account for. */
  def selfTimes(): Map[String, Double] = {
    val o = window
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out("Sessions") = sessionSec
    def catalyst(ops: Seq[Op]): Double = qesOf(ops).map(planMs).sum / 1000.0
    o.queries.groupBy(_.module).toSeq.sortBy(_._1).foreach { case (mod, rs) =>
      val ops = measuredOps(_ == mod)
      out(s"construct:$mod") = rs.map(_.constructSec).sum
      out(s"exec:$mod") = math.max(0.0, rs.map(_.execSec).sum - catalyst(ops))
    }
    Seq("Pipelines.refreshCache", "Pipelines.dashboard", "Pipelines.burnFeeAreaPageJson")
      .foreach { layer =>
        val ops = measuredOps(_ == layer)
        if (ops.nonEmpty) {
          val ids = ops.map(_.id).toSet
          val busy = tr.allSpans.filter(s => s.parent == 0 && ids(s.id)).map(_.sec).sum
          val memo = if (layer == "Pipelines.refreshCache") o.memo.map(_._2).sum else 0.0
          out(layer) = math.max(0.0, busy - catalyst(ops) - memo)
        }
      }
    out("Memo") = if (o.queries.nonEmpty) o.queries.map(_.memoSec).sum else o.memo.map(_._2).sum
    out("catalyst") = catalyst(measuredOps(_ => true))
    out.toMap
  }
}
