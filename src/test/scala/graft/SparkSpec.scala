package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate -> one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // Pin the persisted-index bucket layout the suites were written
    // against (r17 made the default scale-adaptive — ops.Buckets).
    val s = LocalSession("4", "spark.graft.index.buckets" -> "8")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs. */
  protected def jobsDuring(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  /** The executed plan of every query `f` runs, eager actions included
    * (a checkpoint's materializing plan, a write, a final collect). */
  protected def plansDuring(f: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { f; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }
}
