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

  /** Spark jobs `f` starts (`Probe.jobsOf`: only jobs of a job group set
    * for `f` count, so work elsewhere in the JVM does not).
    */
  def jobsOf(f: => Unit): Int = graft.tools.Probe.jobsOf(spark.sparkContext)(f)

  lazy val sf0001: Tables = Tables(spark, "/root/testdata/sf0.001")
  lazy val sf001: Tables = Tables(spark, "/root/testdata/sf0.01")

  override def afterAll(): Unit = {
    // Session is shared across suites in one forked JVM — don't stop it.
    super.afterAll()
  }
}
