package graft

import org.apache.spark.sql.SparkSession

/** Recommended session factory for the graft engine.
  *
  * Local mode mirrors the driver harness (local[32], 32 shuffle
  * partitions); on a real cluster callers set master/partitions to match
  * executor topology — everything else here is topology-independent:
  * AQE (runtime coalescing + skew-join splitting), UTC, nanos-parquet
  * tolerance, and the graft native function surface.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The session Bench, Verify and the dev tool run on: `local[cores]`
    * with one shuffle partition per core and the graft defaults.
    */
  def local(cores: Int = cpus): SparkSession = configure(
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)).getOrCreate()

  /** Apply graft defaults to any builder (cluster or local). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    .config("spark.ui.enabled", "false")
}
