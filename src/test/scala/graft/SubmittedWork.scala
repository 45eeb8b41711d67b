package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts what a block submits to Spark: jobs (AQE query stages included)
  * and root SQL executions (one per action, `localCheckpoint` included),
  * and the RDDs it leaves persistent. */
object SubmittedWork {

  final case class Counts(jobs: Int, executions: Int)

  def of(spark: SparkSession)(body: => Unit): Counts = {
    val jobs = new AtomicInteger
    val executions = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          executions.incrementAndGet(); ()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    Counts(jobs.get, executions.get)
  }

  /** How many RDDs `body` leaves persistent that were not before it. */
  def persistedBy(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    (sc.getPersistentRDDs.keySet -- before).size
  }
}
