package graft

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Typed accessors for the driver-generated test tables (TESTDATA.md).
  *
  * At 100 TB these are parquet scans with pushdown + pruning; nothing
  * here materializes or caches — each accessor returns a lazy plan and
  * fires no Spark job: [[Tables.open]] reads the table's schema from one
  * parquet footer on the driver instead of running `spark.read.parquet`'s
  * schema-inference job.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // every operator may reach the graft_* kernel functions; registration
  // is idempotent and cheap, and running it here means no Q builder can
  // forget it
  graft.functions.GraftFunctions.register(spark)

  private def t(name: String): DataFrame = Tables.open(spark, s"$dir/$name.parquet")

  /** events.ts has shipped as either TIMESTAMP(NANOS) parquet — which Spark
    * only reads as a nanos-epoch LONG (spark.sql.legacy.parquet.nanosAsLong)
    * — or plain TIMESTAMP(MICROS), which lands as TIMESTAMP_NTZ. Normalize
    * both to the session TimestampType (floor-truncated micros, matching
    * DuckDB's TIMESTAMP_NS→TIMESTAMP cast; the session is pinned UTC so the
    * NTZ→LTZ cast is numerically the identity).
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {

  /** `spark.read.parquet(path)` without its schema-inference job.
    *
    * Without `mergeSchema`, inference reads one footer: `_common_metadata`
    * if the listing holds one, else `_metadata`, else the first data file
    * in path order. This lists `path` the way Spark's file index does,
    * reads that same footer on the driver and converts it the way
    * inference does (`ParquetFileFormat.readSchemaFromFooter`): the stored
    * Spark schema if the footer has one, else the parquet schema under the
    * session's `nanosAsLong`, `binaryAsString`, int96 and NTZ settings, so
    * pyarrow-written files get what inference gives them. The reader then
    * takes that schema and still discovers partition columns from the
    * directory names.
    *
    * Falls back to inference when `spark.sql.parquet.mergeSchema` is on,
    * when the footer cannot be read or converted (a missing or empty path
    * included, so errors stay Spark's), and when a file column shares its
    * name with a partition directory (inference keeps such a column in its
    * file position; a given schema would move it to the end).
    */
  def open(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sql = spark.sessionState.conf
    if (sql.getConf(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)) None
    else Try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val summaries = Seq("_common_metadata", "_metadata")
      // the names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName)
      def hidden(n: String) = !summaries.exists(n.startsWith) &&
        ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
      def lower(n: String) = n.toLowerCase(java.util.Locale.ROOT)
      val partitionKeys = scala.collection.mutable.Set.empty[String]
      def leaves(s: FileStatus): Seq[FileStatus] =
        if (!s.isDirectory) Seq(s)
        else fs.listStatus(s.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap { c =>
          val n = c.getPath.getName
          if (c.isDirectory && n.contains("=")) partitionKeys += lower(n.takeWhile(_ != '='))
          leaves(c)
        }
      val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
      val footerFile = summaries.iterator.flatMap(n => files.find(_.getPath.getName == n))
        .nextOption().orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      footerFile.map { f =>
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        // the converter inference builds (ParquetFileFormat.mergeSchemasInParallel)
        ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sql.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
          nanosAsLong = sql.legacyParquetNanosAsLong))
      }.filterNot(_.fieldNames.exists(n => partitionKeys(lower(n))))
    }.toOption.flatten
  }
}

/** One registered operator: a DataFrame builder + optional DuckDB oracle SQL.
  * Column names/aliases MUST match between the two (driver hash-compares by
  * sorted column name).
  */
final case class Q(name: String, oracle: Option[String])(val build: Tables => DataFrame)
