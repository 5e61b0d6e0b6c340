package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — UTC, graft extensions installed,
  * small shuffle fan-out. One session per JVM (sbt forks one test JVM).
  */
object SparkSpec {
  lazy val session: SparkSession = Sessions.local("4")

  /** `body`'s value and the number of Spark jobs started while it ran. The
    * listener bus is drained on both sides, so jobs of earlier work are not
    * counted and every job `body` started is.
    */
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSparkInternals.flushListeners(sc, 10000)
    sc.addSparkListener(listener)
    try {
      val a = body
      GraftSparkInternals.flushListeners(sc, 10000)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"
}
