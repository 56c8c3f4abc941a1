package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge.drainListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM under sbt's forked test run). */
object SparkSpec {
  lazy val spark: SparkSession = Tables.localSession(cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it launched. Jobs are
    * counted by job group, so jobs of other threads do not count.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spark-spec-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted jobs", interruptOnCancel = false)
    try {
      val result = body
      drainListenerBus(sc)
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
