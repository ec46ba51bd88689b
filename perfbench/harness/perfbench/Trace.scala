package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark work counted by the benchmark's own listener. */
final class Counters extends SparkListener {
  private val c = new Array[Long](6)
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c(0) += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { c(1) += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c(2) += 1
    val m = e.taskMetrics
    if (m != null) {
      c(3) += m.executorCpuTime
      c(4) += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      c(5) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot: Array[Long] = synchronized(c.clone())
}

object Counters {
  val names = Seq("jobs", "stages", "tasks", "cpu_ns", "shuffle_bytes", "spill_bytes")
}

/** One timed call inside an operation: its wall time and, when tracing,
  * the Spark work it caused and the Catalyst phases of its query.
  */
final class Span(val layer: String, val startMs: Double, val ms: Double,
  val counts: Array[Long], val catalyst: Map[String, Double])

/** One operation of a workload. */
final class OpRec(val kind: String, val name: String, val round: Int) {
  var startMs = 0.0
  var wallMs = 0.0
  var gcMs = 0.0
  var cpuMs = 0.0
  var rddsLeft = 0
  var cacheMb = 0.0
  var error: String = null
  var harnessMs = 0.0
  val spans = mutable.ArrayBuffer.empty[Span]
  val extra = mutable.LinkedHashMap.empty[String, Double]

  def toJava: java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("kind", kind); m.put("name", name); m.put("round", round)
    m.put("start_ms", startMs); m.put("wall_ms", wallMs); m.put("gc_ms", gcMs); m.put("cpu_ms", cpuMs)
    m.put("rdds_left", rddsLeft); m.put("cache_mb", cacheMb)
    if (error != null) m.put("error", error)
    m.put("spans", spans.map { s =>
      val j = new java.util.LinkedHashMap[String, Any]()
      j.put("layer", s.layer); j.put("start_ms", s.startMs); j.put("ms", s.ms)
      Counters.names.zip(s.counts).foreach { case (k, v) => j.put(k, v) }
      s.catalyst.foreach { case (k, v) => j.put(k, v) }
      j
    }.asJava)
    extra.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

/** Times operations and their layers from outside the program's calls.
  * With tracing off only wall clocks are read. With tracing on, a listener
  * counts jobs, stages, tasks, task CPU, shuffle and spill per span; the
  * bus is drained at span edges so each span gets its own events; and the
  * cache left behind by each operation is measured before release.
  */
final class Tracer(spark: SparkSession, val on: Boolean, t0Nanos: Long) {
  private val sc = spark.sparkContext
  private val counters: Option[Counters] =
    if (on) { val c = new Counters; sc.addSparkListener(c); Some(c) } else None
  val ops = mutable.ArrayBuffer.empty[OpRec]

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6

  private def snap(): Array[Long] = counters match {
    case Some(c) => org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc, 10000L); c.snapshot
    case None => Array.emptyLongArray
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuMs: Double = os.getProcessCpuTime / 1e6

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Time one layer of `op`. `query` (if given) is the DataFrame whose
    * Catalyst phases the span reports, read after the call. The tracer's
    * own time around the call (bus drains, reading the tracker) goes to
    * the operation's harness time, so an operation's spans add up to its
    * wall time. */
  def span[A](op: OpRec, layer: String, query: Option[DataFrame] = None)(f: => A): A = {
    val h0 = nowMs
    val c0 = snap()
    val s = nowMs
    val r = f
    val e = nowMs
    val c1 = snap()
    val counts = if (on) c1.zip(c0).map { case (a, b) => a - b } else Array.emptyLongArray
    val catalyst: Map[String, Double] =
      if (!on) Map.empty
      else query.map { df =>
        df.queryExecution.tracker.phases.map { case (k, v) => s"catalyst_$k" -> v.durationMs.toDouble }
      }.getOrElse(Map.empty)
    op.spans += new Span(layer, s, e - s, counts, catalyst)
    op.harnessMs += (s - h0) + (nowMs - e)
    r
  }

  /** Run one operation; record its wall time, GC time, the error if it
    * failed and, when tracing, the cached RDDs it left behind. */
  def op(kind: String, name: String, round: Int)(body: OpRec => Unit): OpRec = {
    val rec = new OpRec(kind, name, round)
    val g0 = gcMs
    val p0 = cpuMs
    rec.startMs = nowMs
    try body(rec) catch {
      case NonFatal(e) =>
        rec.error = e.toString.take(500)
        System.err.println(s"[perfbench] $kind $name failed: ${rec.error}")
    }
    rec.wallMs = nowMs - rec.startMs
    if (on) rec.spans += new Span("harness", rec.startMs, rec.harnessMs, new Array[Long](Counters.names.size), Map.empty)
    rec.gcMs = gcMs - g0
    rec.cpuMs = cpuMs - p0
    if (on) {
      rec.rddsLeft = sc.getPersistentRDDs.size
      rec.cacheMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    }
    ops += rec
    rec
  }
}
