package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{PersistCache, SparkEntry, Tables}
import graft.functions.{ClickHouseDialect, ClickHouseSql}
import graft.sources.{Fetcher, SbomPipeline, SbomSources}

/** Benchmark harness: runs one workload in this JVM and writes what it
  * measured to `<work>/result.json`, plus the outputs the correctness
  * checks read, to `<work>/out`.
  *
  * Usage: Main <plan.json> — the plan (written by run.py from the seed)
  * names the workload, its inputs, the operation sequence, the measured
  * seconds and whether tracing is on.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new java.io.File(args(0)))
    val work = plan.get("work").asText
    val trace = plan.get("trace").asBoolean
    val seconds = plan.get("seconds").asDouble
    val cpus = plan.get("cpus").asInt
    // set-ups per run: the first counts from the start of this process;
    // the others stop the session and set up again in this JVM after the
    // measured rounds, each from a collected heap. setup_s is their median.
    val setUps = plan.get("setups").asInt
    // set-up counts from the start of this process
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0Nanos = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L

    def session(): SparkSession = {
      val s = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def workload(spark: SparkSession, tracer: Tracer): Workload = plan.get("workload").asText match {
      case "sbom_ingest" => new Ingest(spark, plan, tracer)
      case "corpus_curation" => new Curation(spark, plan, tracer)
    }
    /** One set-up from `startMs`: session, inputs registered, warm-up. */
    def setUp(startMs: Double, on: Boolean): (SparkSession, Tracer, Workload, java.util.Map[String, Any]) = {
      val spark = session()
      val tracer = new Tracer(spark, on, t0Nanos)
      val s1 = tracer.nowMs
      val w = workload(spark, tracer)
      w.registerInputs()
      val s2 = tracer.nowMs
      w.warmUp()
      val s3 = tracer.nowMs
      tracer.ops.clear()
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("session_ms", s1 - startMs); m.put("tables_ms", s2 - s1)
      m.put("warmup_ms", s3 - s2); m.put("setup_ms", s3 - startMs)
      (spark, tracer, w, m)
    }

    val setups = new java.util.ArrayList[Any]()
    val (spark, tracer, w, first) = setUp(0.0, trace)
    setups.add(first)

    // closed loop: whole rounds until the measured time is used up
    val start = tracer.nowMs
    var round = 0
    while (round == 0 || tracer.nowMs - start < seconds * 1000) {
      w.round(round)
      round += 1
    }
    val measuredMs = tracer.nowMs - start
    val extra = w.finish(s"$work/out")
    spark.stop()

    for (_ <- 1 until setUps) {
      System.gc()
      val (again, _, _, m) = setUp(tracer.nowMs, on = false)
      setups.add(m)
      again.stop()
    }

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("setups", setups)
    out.put("rounds", round)
    out.put("measured_ms", measuredMs)
    out.put("ops", tracer.ops.map(_.toJava).asJava)
    out.put("extra", extra)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(s"$work/result.json"), out)
  }

  /** Write collected rows as one parquet file for the checks. */
  def writeRows(spark: SparkSession, rows: Array[Row], schema: StructType,
    path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}

/** A workload: inputs, optional warm-up, one round of its fixed
  * operation sequence, and the untimed export of what the checks need. */
abstract class Workload(spark: SparkSession, plan: JsonNode, tracer: Tracer) {
  protected val sc = spark.sparkContext
  def registerInputs(): Unit
  def warmUp(): Unit = ()
  def round(r: Int): Unit
  def finish(outDir: String): java.util.Map[String, Any]

  /** Release everything an operation cached, so repetitions are
    * independent: the catalog cache, graft's PersistCache slot, and any
    * RDD still persisted. */
  protected def release(): Unit = {
    spark.catalog.clearCache()
    PersistCache.invalidate(spark)
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** A registry operator: builder, then the action that returns its rows. */
  protected def query(name: String, dir: String, r: Int): Option[(Array[Row], StructType)] = {
    var res: Option[(Array[Row], StructType)] = None
    val fn = SparkEntry.queries(name)
    tracer.op("query", name, r) { op =>
      val df = tracer.span(op, "builder")(fn(spark, dir))
      res = Some((tracer.span(op, "action", Some(df))(df.collect()), df.schema))
    }
    res
  }
}

/** sbom_ingest: each operation is one fetched SBOM through
  * SbomPipeline.run (in-memory transport) appended to its repository's
  * component table, followed by a ClickHouse-dialect read of that table;
  * each round ends with a merge-mode run over a fixed bucket and a
  * compaction of the repository tables. The checks see the last round's
  * tables. */
final class Ingest(spark: SparkSession, plan: JsonNode, tracer: Tracer)
    extends Workload(spark, plan, tracer) {
  private val work = plan.get("work").asText
  private val tableRoot = s"$work/tables"
  private val docs = plan.get("docs").elements().asScala.toSeq
  private val payloads = mutable.Map.empty[String, String]
  private val readSql = plan.get("read_sql").asText
  private val target = plan.get("compact_target_bytes").asLong
  private val mapping = plan.get("mapping").asText
  private val reads = new java.util.ArrayList[Any]()
  private val inserted = mutable.LinkedHashMap.empty[String, Int]
  private val compactions = new java.util.ArrayList[Any]()

  private final class Memory(doc: String) extends Fetcher.DirectTransport {
    def request(): Either[String, String] = Right("token")
    def download(token: String): Either[String, String] = Right(doc)
  }

  def registerInputs(): Unit = {
    ClickHouseDialect.register(spark)
    docs.foreach { d =>
      val f = d.get("file").asText
      payloads(f) = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
    }
  }

  private def config(d: JsonNode, root: String) = SbomPipeline.Config(
    repository = Some(d.get("repo").asText), s3Key = d.get("s3_key").asText,
    bucketDir = s"$work/bucket", tableRoot = Some(root), licenseMappings = Some(mapping))

  private def insert(d: JsonNode, root: String, r: Int): Unit = {
    tracer.op("insert", d.get("s3_key").asText, r) { op =>
      tracer.span(op, "ingest")(
        SbomPipeline.run(spark, config(d, root), Some(new Memory(payloads(d.get("file").asText)))))
    }
  }

  private def read(table: String, root: String, r: Int): Unit = {
    var rows: Array[Row] = null
    tracer.op("read", table, r) { op =>
      tracer.span(op, "register")(
        SbomSources.readComponentTable(spark, s"$root/$table").createOrReplaceTempView(table))
      val df = tracer.span(op, "dialect")(ClickHouseSql.sql(spark, readSql.replace("{table}", table)))
      rows = tracer.span(op, "action", Some(df))(df.collect())
    }
    if (r >= 0 && rows != null) {
      val j = new java.util.LinkedHashMap[String, Any]()
      j.put("table", table); j.put("inserts", inserted.getOrElse(table, 0))
      j.put("rows", rows.map(row => row.toSeq.map(v => if (v == null) null else v.toString).asJava).toSeq.asJava)
      reads.add(j)
    }
  }

  private def merge(root: String, r: Int): Unit =
    tracer.op("merge", "merge", r) { op =>
      tracer.span(op, "merge")(SbomPipeline.run(spark, SbomPipeline.Config(
        merge = true, s3Key = "merged.json", bucketDir = plan.get("merge_bucket").asText,
        tableRoot = Some(root), truncateTable = true, licenseMappings = Some(mapping),
        excludePatterns = Seq("merged*"), timestamp = Some("2025-01-01T00:00:00Z"),
        serialNumber = Some("urn:uuid:00000000-0000-0000-0000-000000000000"))))
    }

  private def tables: Seq[String] = Main.strings(plan.get("tables"))

  private def compact(root: String, r: Int): Unit =
    tracer.op("compact", "compact", r) { op =>
      val res = tracer.span(op, "compact")(
        tables.flatMap(t => SbomSources.compactComponentTable(spark, s"$root/$t", target)))
      op.extra("files_rewritten") = res.map(_._2).sum.toDouble
      if (r >= 0) {
        val j = new java.util.LinkedHashMap[String, Any]()
        j.put("round", r)
        j.put("partitions", res.map { case (p, before, after) => Seq[Any](p, before, after).asJava }.asJava)
        compactions.add(j)
      }
    }

  /** Warm-up: one CycloneDX and one SPDX document, each inserted and
    * read back, into a throw-away table root. */
  override def warmUp(): Unit = {
    val root = s"$work/warm_tables"
    Seq(docs.head, docs.find(_.get("kind").asText.startsWith("spdx")).get).foreach { d =>
      insert(d, root, -1)
      read(d.get("table").asText, root, -1)
    }
    release()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** Rounds are independent: each starts from an empty table root, so a
    * round does the same work however many came before it. */
  def round(r: Int): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tableRoot))
    inserted.clear()
    docs.foreach { d =>
      val table = d.get("table").asText
      insert(d, tableRoot, r)
      inserted(table) = inserted.getOrElse(table, 0) + 1
      read(table, tableRoot, r)
    }
    merge(tableRoot, r)
    read("merged_json", tableRoot, r)
    compact(tableRoot, r)
    release()
  }

  def finish(outDir: String): java.util.Map[String, Any] = {
    val fs = new java.io.File(tableRoot)
    var bytes = 0L
    var files = 0
    var rows = 0L
    val filesPerPartition = new java.util.ArrayList[Any]()
    (tables :+ "merged_json").foreach { t =>
      val stored = SbomSources.readComponentTable(spark, s"$tableRoot/$t").drop("inserted_at")
      stored.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t")
      rows += stored.count()
      new java.io.File(fs, t).listFiles().filter(_.getName.startsWith("source=")).foreach { p =>
        val fl = p.listFiles().filter(_.getName.endsWith(".parquet"))
        bytes += fl.map(_.length).sum
        files += fl.length
        filesPerPartition.add(Seq[Any](t, p.getName, fl.length, fl.map(_.length).sum).asJava)
      }
    }
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("reads", reads); m.put("inserted", inserted.asJava); m.put("compactions", compactions)
    m.put("table_bytes", bytes); m.put("table_files", files); m.put("table_rows", rows)
    m.put("files_per_partition", filesPerPartition)
    m
  }
}

/** corpus_curation: one cold pass — the 14 index build steps in
  * dependency order, then the curation operators that consume them. */
final class Curation(spark: SparkSession, plan: JsonNode, tracer: Tracer)
    extends Workload(spark, plan, tracer) {
  private val dir = plan.get("tables").asText
  private val consumers = Main.strings(plan.get("consumers"))
  private val last = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  private var t: Tables = _

  /** Table resolution: the two tables the pass reads, footers included. */
  def registerInputs(): Unit = {
    t = Tables(spark, dir)
    t.documents.schema
    t.embeddings.schema
  }

  def round(r: Int): Unit = {
    val steps = graft.dedup.Dedup.buildSteps(t) ++ graft.ann.Ann.buildSteps(t) ++
      graft.text.TextOps.buildSteps(t)
    steps.foreach { case (name, run) =>
      tracer.op("build", name, r) { op => tracer.span(op, "build")(run()) }
    }
    consumers.foreach(name => query(name, dir, r).foreach(last(name) = _))
    if (r == 0) {
      // untimed export of the memoised pair graph and its labels for the checks
      val pairs = graft.dedup.Dedup.simhashPairs(t).select("id1", "id2")
      last("sim_pairs") = (pairs.collect(), pairs.schema)
      val labels = graft.dedup.Dedup.simhashLabels(t)
      last("cc_labels") = (labels.collect(), labels.schema)
    }
    release()
  }

  def finish(outDir: String): java.util.Map[String, Any] = {
    last.foreach { case (name, (rows, schema)) => Main.writeRows(spark, rows, schema, s"$outDir/$name") }
    new java.util.HashMap[String, Any]()
  }
}
