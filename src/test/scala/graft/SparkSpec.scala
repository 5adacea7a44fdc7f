package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Spark jobs started while `body` runs; the listener bus is
    * drained before and after, so no other body's jobs are counted.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }
}
