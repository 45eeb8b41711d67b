package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{TestListenerBus, TestStorage}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts what a block submits to Spark: jobs (AQE query stages included)
  * and root SQL executions (one per action, `localCheckpoint` included),
  * and the RDDs it leaves persistent or stored. */
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

  /** How many RDDs `body` leaves with stored blocks that had none before.
    * Unlike [[persistedBy]] this sees an RDD nothing references any more:
    * `sc.getPersistentRDDs` is a weak-valued map, whose entry goes at the
    * next GC while the blocks stay until the ContextCleaner removes them
    * (`sc.getRDDStorageInfo` walks the same map), so this asks the block
    * manager instead. */
  def storedBy(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = TestStorage.rddsWithBlocks(sc)
    body
    (TestStorage.rddsWithBlocks(sc) -- before).size
  }
}
