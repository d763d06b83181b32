package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (sessions are expensive;
  * suites must not stop it). sf0.001 keeps every suite sub-second-ish. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4", "graft-test")
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Spark jobs `f` launches, counted under a job group of its own after
    * draining the listener bus. */
  def jobsOf(f: => Unit): Int = {
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, getClass.getSimpleName)
      try f finally sc.clearJobGroup()
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc, 10000L)
    } finally sc.removeSparkListener(l)
    jobs.get()
  }

  /** The relation a single-table read scans. */
  def relation(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.get

  /** Run a registered query by name. */
  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)
}
