package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-Spark fixture for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Spark jobs `f` starts, counted by a listener. Only jobs of a job
    * group set for `f` count, so work elsewhere in the JVM does not.
    */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec-job-count-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spec job count")
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc, 10000L)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  lazy val sf0001: Tables = Tables(spark, "/root/testdata/sf0.001")
  lazy val sf001: Tables = Tables(spark, "/root/testdata/sf0.01")

  override def afterAll(): Unit = {
    // Session is shared across suites in one forked JVM — don't stop it.
    super.afterAll()
  }
}
