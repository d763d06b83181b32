package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.SqlEnd
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `parent` is 0 for a root; `op` is the operation the
  * interval belongs to (0 outside any operation). Times are JVM nanos. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** One operation the harness issued: a query, a dashboard read, an area
  * page fetch or a refresh tick. `layer` names the module or pipeline
  * entry point it exercises. */
final case class Op(id: Long, layer: String, name: String, measured: Boolean)

/** Per-operation counters filled from Spark's listener events. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskWaitMs = 0L
  /** CPU of the operation's tasks (deserialization and run), nanos. */
  var taskCpuNs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
}

/** A query execution Catalyst finished, attributed to an operation. */
final case class QeRecord(execId: Long, op: Long, phasesMs: Map[String, (Long, Long)],
                          durationNs: Long, outputPath: Option[String]) {
  def phaseMs(p: String): Long = phasesMs.get(p).map { case (a, b) => b - a }.getOrElse(0L)
}

/** The harness's own instrumentation: operations and spans recorded from
  * outside the program, a SparkListener that attributes jobs, tasks and
  * their CPU to the operation that launched them, and (when `traced`) a
  * QueryExecutionListener for Catalyst phases plus job spans. Attribution
  * rides on the calling thread's job group (a SparkContext local
  * property), which Spark copies into every job and SQL execution that
  * thread starts.
  *
  * An operation's CPU is the calling thread's CPU while it ran plus the
  * CPU of every task it launched. Untraced runs need it for the
  * end-to-end metrics, so the SparkListener (which only adds to counters)
  * is attached in every run; spans of jobs and Catalyst phases are
  * recorded in traced runs only. */
final class Tracer(val traced: Boolean) {
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  /** Spark event times are wall-clock millis; map them onto JVM nanos. */
  def wallToNs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  val ops = new ConcurrentHashMap[Long, Op]()
  val spans = new ConcurrentLinkedQueue[Span]()
  val counters = new ConcurrentHashMap[Long, OpCounters]()
  val qes = new ConcurrentLinkedQueue[QeRecord]()
  private val execToOp = new ConcurrentHashMap[Long, Long]()
  private val execEndNs = new ConcurrentHashMap[Long, Long]()
  private val stageToOp = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val current = new ThreadLocal[java.lang.Long]
  private val callerCpuNs = new ConcurrentHashMap[Long, Long]()
  private val collecting = new ThreadLocal[scala.collection.mutable.ArrayBuffer[Long]]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** One side of a (QueryExecution -> execution id) pairing waiting for the
    * other: Left(execution id) from the end event, Right(record builder)
    * from the QueryExecutionListener. Both arrive on the listener bus. */
  private val pending = new java.util.IdentityHashMap[QueryExecution, Either[Long, Long => QeRecord]]()

  def nextId(): Long = ids.incrementAndGet()

  /** Run `f` as operation `op`, tagging the jobs it launches and recording
    * its span and the calling thread's CPU. */
  def op[T](sc: SparkContext, layer: String, name: String, measured: Boolean)(f: => T): T = {
    val o = Op(nextId(), layer, name, measured)
    ops.put(o.id, o)
    Option(collecting.get).foreach(_ += o.id)
    sc.setJobGroup(o.id.toString, s"$layer:$name", interruptOnCancel = false)
    current.set(o.id)
    val t0 = System.nanoTime()
    val c0 = threads.getCurrentThreadCpuTime
    try f finally {
      callerCpuNs.put(o.id, threads.getCurrentThreadCpuTime - c0)
      spans.add(Span(o.id, 0, o.id, s"$layer:$name", t0, System.nanoTime()))
      current.remove()
      sc.clearJobGroup()
    }
  }

  /** Run `f` and return the ids of the operations it started on this
    * thread, e.g. every attempt of a retried read. */
  def opsOf[T](f: => T): (T, Seq[Long]) = {
    val outer = collecting.get
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    collecting.set(buf)
    try {
      val r = f
      (r, buf.toSeq)
    } finally {
      collecting.set(outer)
      if (outer != null) outer ++= buf
    }
  }

  /** CPU seconds of operations: their calling threads' CPU plus their
    * tasks' CPU. Complete once [[drain]] has returned. */
  def cpuSec(ids: Seq[Long]): Double = ids.map { id =>
    callerCpuNs.getOrDefault(id, 0L) + Option(counters.get(id)).map(_.taskCpuNs).getOrElse(0L)
  }.sum / 1e9

  /** A child span of the current operation, e.g. construction or
    * execution of a query. Returns the value and the span. */
  def child[T](name: String)(f: => T): (T, Span) = {
    val op = Option(current.get).map(_.longValue).getOrElse(0L)
    val t0 = System.nanoTime()
    val r = f
    val s = Span(nextId(), op, op, name, t0, System.nanoTime())
    spans.add(s)
    (r, s)
  }

  def countersOf(op: Long): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)

  val sparkListener: SparkListener = new SparkListener {
    private val jobStartNs = new ConcurrentHashMap[Int, (Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      e.stageIds.foreach(s => stageToOp.put(s, op))
      if (traced) jobStartNs.put(e.jobId, (op, wallToNs(e.time)))
      countersOf(op).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartNs.remove(e.jobId)).foreach { case (op, t0) =>
        spans.add(Span(nextId(), op, op, s"job:${e.jobId}", t0, wallToNs(e.time)))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      countersOf(stageToOp.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageToOp.getOrDefault(e.stageId, 0L))
      c.tasks += 1
      val submitted = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execToOp.put(s.executionId, s.jobGroupId.flatMap(_.toLongOption).getOrElse(0L))
      case s: SparkListenerSQLExecutionEnd =>
        execEndNs.put(s.executionId, wallToNs(s.time))
        SqlEnd.qe(s).foreach(pair(_, Left(s.executionId)))
      case _ =>
    }
  }

  private def pair(qe: QueryExecution, side: Either[Long, Long => QeRecord]): Unit =
    pending.synchronized {
      (side, pending.remove(qe)) match {
        case (Left(id), Right(mk)) => record(mk(id))
        case (Right(mk), Left(id)) => record(mk(id))
        case _ => pending.put(qe, side)
      }
    }

  private def record(q: QeRecord): Unit = {
    qes.add(q)
    q.phasesMs.foreach { case (k, (a, b)) =>
      spans.add(Span(nextId(), q.op, q.op, s"catalyst:$k", wallToNs(a), wallToNs(b)))
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def seen(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      val out = scala.util.Try(Seq(qe.analyzed, qe.logical).flatMap(_.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }).headOption).toOption.flatten
      pair(qe, Right(id => QeRecord(id, execToOp.getOrDefault(id, 0L), phases, durationNs, out)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seen(qe, 0L)
  }

  /** Register the SparkListener, and in traced runs the
    * QueryExecutionListener. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    if (traced) spark.listenerManager.register(qeListener)
  }

  /** End time of a SQL execution, when the listener saw it end. */
  def execEnd(execId: Long): Option[Long] = Option(execEndNs.get(execId)).map(_.longValue)

  /** Wait until every event posted so far has reached the listeners. The
    * bus is asynchronous; a marker job's end event is a fence. */
  def drain(spark: SparkSession): Unit = {
    val marker = nextId()
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobOf.remove(e.jobId)) seen.countDown()
      private val jobOf = ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graftbench.fence") == marker.toString))
          jobOf.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty("graftbench.fence", marker.toString)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty("graftbench.fence", null)
    seen.await(30, java.util.concurrent.TimeUnit.SECONDS)
    // the QE listener runs on its own queue; give it a bounded grace period
    if (traced) Thread.sleep(500)
    spark.sparkContext.removeSparkListener(l)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allQes: Seq[QeRecord] = qes.asScala.toSeq
}
