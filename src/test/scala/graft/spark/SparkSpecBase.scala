package graft.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all Spark-layer specs (one JVM-wide
  * session keeps `sbt test` fast; tests must not stop() it).
  */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf001 = "/root/testdata/sf0.001"
}

/** Plan traversal that descends into adaptive query stages. */
object AqePlans extends AdaptiveSparkPlanHelper

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpecBase.spark
  def sf001: String = SparkSpecBase.Sf001

  /** Runs `body`; returns the SQL executions it ran, in completion order. */
  def executionsOf(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      TestListenerBus.drain(spark.sparkContext)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Root paths of every file scan in a physical plan, adaptive stages and
    * subqueries included.
    */
  def scannedPaths(plan: SparkPlan): Seq[String] =
    AqePlans.collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString)
    }.flatten
}
