package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The dev tool: time, plan or trace single registry queries and index
  * build steps on the session Bench and Verify run on
  * (`GraftSession.local`, so AQE and the graft extensions are on).
  *
  *   runMain graft.tools.Probe time     <sfDir> <name,…> [reps]
  *   runMain graft.tools.Probe plan     <sfDir> <name,…> [out]
  *   runMain graft.tools.Probe executed <sfDir> <name,…> [out]
  *   runMain graft.tools.Probe build    <sfDir> [step,…]
  *
  * - `time`: warm once, then the median of `reps` (default 3) noop-sink
  *   runs with the Bench methodology; one line per query with every run.
  * - `plan`: the formatted physical plan of the driver-surface DataFrame
  *   (`SparkEntry.queries`, root sort stripped). Anti-patterns show as
  *   node names: `CartesianProduct`, `BroadcastNestedLoopJoin`.
  * - `executed`: runs each name — a query through the noop sink, or a
  *   `_build_<step>` — and prints every plan it executed, numbered in
  *   action order with its wall time, builder-fired actions included.
  *   These are the AQE final plans (coalesced reads, runtime join
  *   rewrites, reused exchanges), which a static `plan` cannot show.
  * - `build`: time the named build steps (`SparkEntry.builds` names),
  *   or all of them in registry order, with the Spark jobs each started.
  *
  * `plan` and `executed` append to `out` instead of printing when given.
  */
object Probe {
  val usage = "usage: Probe time|plan|executed|build <sfDir> [name,…] [reps|out]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    try print(run(spark, args)) finally spark.stop()
  }

  /** Runs one mode and returns what it reports. */
  def run(spark: SparkSession, args: Array[String]): String = {
    require(args.length >= 2, usage)
    val (mode, sfDir) = (args(0), args(1))
    val names = args.lift(2).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val extra = args.lift(3)
    mode match {
      case "time" => time(spark, sfDir, names, extra.fold(3)(_.toInt))
      case "plan" => emit(plans(spark, sfDir, names), extra)
      case "executed" => emit(executed(spark, sfDir, names), extra)
      case "build" => builds(Tables(spark, sfDir), names)
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  private def query(spark: SparkSession, sfDir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown registry query '$name'"))(spark, sfDir)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
    reps: Int): String =
    names.map { name =>
      // warm once (scans, codegen, memoized index builds), then time
      noop(query(spark, sfDir, name))
      val runs = Seq.fill(reps.max(1))(seconds(noop(query(spark, sfDir, name))))
      f"$name: median ${graft.Bench.median(runs)}%.3f s " +
        s"(runs ${runs.map(r => f"$r%.3f").mkString(", ")})\n"
    }.mkString

  private def plans(spark: SparkSession, sfDir: String, names: Seq[String]): String =
    names.map { name =>
      s"======== $name ========\n" +
        query(spark, sfDir, name).queryExecution.explainString(FormattedMode) + "\n"
    }.mkString

  private def executed(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add((funcName, durationNs, qe.executedPlan.toString))
      override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try names.map { name =>
      captured.clear()
      if (name.startsWith("_build_"))
        SparkEntry.buildStep(Tables(spark, sfDir), name.stripPrefix("_build_"))()
      else noop(query(spark, sfDir, name))
      // listener events arrive on the bus asynchronously
      ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      val actions = captured.toArray(Array.empty[(String, Long, String)]).zipWithIndex.map {
        case ((func, ns, plan), i) =>
          f"-------- action ${i + 1} ($func, ${ns / 1e6}%.1f ms) --------\n$plan\n"
      }
      s"======== $name (executed) ========\n" +
        (if (actions.isEmpty) "(no plan captured)\n" else actions.mkString)
    }.mkString
    finally spark.listenerManager.unregister(listener)
  }

  private def builds(t: Tables, names: Seq[String]): String = {
    // resolve every name before running any, so a typo fails at once
    val steps =
      if (names.isEmpty) SparkEntry.builds(t)
      else names.map(n => n -> SparkEntry.buildStep(t, n))
    steps.map { case (name, run) =>
      var secs = 0.0
      val jobs = jobsOf(t.spark.sparkContext) { secs = seconds(run()) }
      f"$name%-12s $secs%8.2f s $jobs%4d jobs\n"
    }.mkString
  }

  /** Spark jobs `f` starts, counted by a listener. Only jobs of a job
    * group set for `f` on this thread count, so work elsewhere in the JVM
    * does not; the thread's own job group is cleared after.
    */
  def jobsOf(sc: SparkContext)(f: => Unit): Int = {
    val group = s"probe-job-count-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try f
    finally {
      sc.clearJobGroup()
      ListenerBusAccess.waitUntilEmpty(sc, 10000L)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def emit(text: String, out: Option[String]): String = out match {
    case None => text
    case Some(path) =>
      Files.write(Paths.get(path), text.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      s"[probe] appended to $path\n"
  }
}
