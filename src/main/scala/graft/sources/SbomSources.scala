package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SBOM document sources + component-table sink: the reference pipeline
  * (download → detect → flatten → license-map → sorted analytics table,
  * entrypoint.sh) as Spark stages over JSON documents. [[SbomPipeline]]
  * parses the one document [[Fetcher]] downloaded in memory; the path
  * readers take documents on storage (merge mode's bucket, the stream);
  * both share the schemas, unwrap, converters and flattens. At 100 TB the
  * JSON scan is schema-projected (no full-document parse of unused
  * fields), every downstream step is a narrow map, and the license
  * mappings are one literal map.
  */
object SbomSources {

  private val licenseEntry = StructType(Seq(
    StructField("license", StructType(Seq(
      StructField("id", StringType), StructField("name", StringType)))),
    StructField("id", StringType), StructField("name", StringType),
    StructField("expression", StringType)))

  private val property = StructType(Seq(
    StructField("name", StringType), StructField("value", StringType)))

  /** CycloneDX subset schema (spec fields the reference touches; the
    * top-level `name` is non-spec but read for source-ref strategy 4 —
    * entrypoint.sh:75-82).
    */
  val cycloneDxSchema: StructType = StructType(Seq(
    StructField("bomFormat", StringType),
    StructField("specVersion", StringType),
    StructField("serialNumber", StringType),
    StructField("name", StringType),
    StructField("version", LongType),
    StructField("metadata", StructType(Seq(
      StructField("timestamp", StringType),
      StructField("component", StructType(Seq(
        StructField("type", StringType), StructField("name", StringType),
        StructField("version", StringType), StructField("bom-ref", StringType)))),
      StructField("properties", ArrayType(property)),
      StructField("tools", ArrayType(StructType(Seq(
        StructField("vendor", StringType), StructField("name", StringType),
        StructField("version", StringType)))))))),
    StructField("components", ArrayType(StructType(Seq(
      StructField("type", StringType), StructField("name", StringType),
      StructField("version", StringType), StructField("purl", StringType),
      StructField("bom-ref", StringType),
      StructField("licenses", ArrayType(licenseEntry)),
      StructField("properties", ArrayType(property)),
      StructField("source", StringType)))))))

  /** SPDX subset schema. */
  val spdxSchema: StructType = StructType(Seq(
    StructField("spdxVersion", StringType),
    StructField("SPDXID", StringType),
    StructField("name", StringType),
    StructField("packages", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("SPDXID", StringType),
      StructField("versionInfo", StringType),
      StructField("licenseConcluded", StringType),
      StructField("licenseDeclared", StringType),
      StructField("externalRefs", ArrayType(StructType(Seq(
        StructField("referenceCategory", StringType),
        StructField("referenceType", StringType),
        StructField("referenceLocator", StringType)))))))))))

  /** CycloneDX schema extended with the optional `.sbom` envelope (GitHub
    * dependency-graph API shape) so one read handles both layouts.
    */
  private val cycloneDxWithEnvelope: StructType =
    StructType(cycloneDxSchema.fields :+ StructField("sbom", cycloneDxSchema))

  /** Per-row envelope unwrap — sbom-processing.sh:38-55. */
  private def unwrapped(df: DataFrame): DataFrame =
    df.select(
      (cycloneDxSchema.fieldNames.map { f =>
        when(col("sbom").isNotNull, col(s"sbom.$f")).otherwise(col(f)).as(f)
      } :+ col("_file")): _*)

  /** Read CycloneDX JSON documents (one object per file, as the reference
    * stores them in S3) with the projected schema; `.sbom`-wrapped docs
    * unwrap transparently in the same single pass.
    */
  def readCycloneDx(spark: SparkSession, path: String): DataFrame =
    unwrapped(spark.read.schema(cycloneDxWithEnvelope)
      .option("multiLine", true).json(path)
      .withColumn("_file", input_file_name()))

  /** Streaming ingestion of the same documents: new JSON files landing in
    * `path` flow incrementally through the identical flatten pipeline —
    * the continuous version of the reference's batch action.
    */
  def streamCycloneDx(spark: SparkSession, path: String): DataFrame =
    unwrapped(spark.readStream.schema(cycloneDxWithEnvelope)
      .option("multiLine", true).option("maxFilesPerTrigger", 16).json(path)
      .withColumn("_file", input_file_name()))

  def readSpdx(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(spdxSchema).option("multiLine", true).json(path)
      .withColumn("_file", input_file_name())

  /** One JSON document held as a string, parsed with `schema`: a one-row
    * local relation holds it as a value (a `lit` would put the whole text
    * into every plan string) beside `file` as `_file`. `from_json` is the
    * JSON reader's parser with the same defaults, and the optimizer folds
    * the projection into the relation, so parsing runs no Spark job.
    */
  private def parsed(spark: SparkSession, doc: String, file: String,
    schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(doc, file)),
      StructType(Seq(StructField("value", StringType), StructField("_file", StringType))))
      .select(from_json(col("value"), schema).as("d"), col("_file"))
      .select(col("d.*"), col("_file"))

  /** [[readCycloneDx]] of one document held as a string, named `file`. */
  def cycloneDxOf(spark: SparkSession, doc: String, file: String): DataFrame =
    unwrapped(parsed(spark, doc, file, cycloneDxWithEnvelope))

  /** [[readSpdx]] of one document held as a string, named `file`. */
  def spdxOf(spark: SparkSession, doc: String, file: String): DataFrame =
    parsed(spark, doc, file, spdxSchema)

  /** Source-ref strategy 6: the document's file name without `.json`. */
  private def fileStem: Column = regexp_extract(col("_file"), "([^/]+)\\.json$", 1)

  /** Generator tools whose names are NOT source hints (entrypoint.sh:85 —
    * the `grep -v` denylist applied to metadata.tools[].name).
    */
  val toolNameDenylist = "GitHub.com-Dependency|protobom|CycloneDX|cyclonedx-merge"

  /** Source-reference extraction — the full 6-strategy coalesce chain of
    * entrypoint.sh:38-104 over real document metadata:
    * 1 properties[spdx:document:name] (GitHub) → 2 metadata.component.name
    * (Wiz/Mend) → 3 metadata.component.bom-ref (Mend) → 4 top-level .name
    * → 5 first metadata.tools[].name surviving the generator denylist →
    * 6 filename fallback.
    */
  private def sourceRef: org.apache.spark.sql.Column =
    coalesce(
      get(filter(col("metadata.properties"), p => p.getField("name") === "spdx:document:name"),
        lit(0)).getField("value"),
      col("metadata.component.name"),
      col("metadata.component.`bom-ref`"),
      col("name"),
      get(filter(col("metadata.tools"), tool =>
        tool.getField("name").isNotNull &&
          !tool.getField("name").rlike(toolNameDenylist)), lit(0)).getField("name"),
      fileStem)

  /** Flatten CycloneDX documents to the component table, reproducing the
    * license fallback chain of entrypoint.sh:328-367:
    * licenses[0].{license.id → license.name → id → name → expression} →
    * properties[spdx:license-concluded] → [spdx:license-declared] →
    * 'unknown'; component-level source wins over the document source.
    */
  def flattenCycloneDx(docs: DataFrame): DataFrame = {
    val c = col("component")
    val lic0 = get(c.getField("licenses"), lit(0))
    def prop(name: String) =
      get(filter(c.getField("properties"), p => p.getField("name") === name),
        lit(0)).getField("value")
    docs
      .select(sourceRef.as("doc_source"), explode(col("components")).as("component"))
      .select(
        coalesce(c.getField("name"), lit("unknown")).as("name"),
        coalesce(c.getField("version"), lit("unknown")).as("version"),
        coalesce(
          lic0.getField("license").getField("id"),
          lic0.getField("license").getField("name"),
          lic0.getField("id"),
          lic0.getField("name"),
          lic0.getField("expression"),
          prop("spdx:license-concluded"),
          prop("spdx:license-declared"),
          lit("unknown")).as("license"),
        coalesce(c.getField("source"), col("doc_source"), lit("unknown")).as("source"),
        c.getField("purl").as("purl"))
  }

  /** Flatten SPDX documents (entrypoint.sh:369-384): licenseConcluded →
    * licenseDeclared → 'unknown'; document-level source only.
    */
  def flattenSpdx(docs: DataFrame): DataFrame =
    docs
      .select(
        coalesce(col("name"), fileStem).as("doc_source"),
        explode(col("packages")).as("p"))
      .filter(col("p.name").isNotNull)
      .select(
        col("p.name").as("name"),
        coalesce(col("p.versionInfo"), lit("unknown")).as("version"),
        coalesce(col("p.licenseConcluded"), col("p.licenseDeclared"), lit("unknown")).as("license"),
        col("doc_source").as("source"),
        lit(null).cast(StringType).as("purl"))

  /** The fields the CycloneDX check reads: `bomFormat` and
    * `metadata.component`, typed as in [[cycloneDxSchema]].
    */
  private val cycloneDxProbe: StructType = StructType(Seq(
    cycloneDxSchema("bomFormat"),
    StructField("metadata", StructType(Seq(
      cycloneDxSchema("metadata").dataType.asInstanceOf[StructType]("component"))))))

  /** One probe schema for all three checks: the CycloneDX fields, also
    * under the `.sbom` envelope; SPDX's `spdxVersion`/`SPDXID`; and the
    * SoftwareIdentity object whose presence is the reference's SWID
    * "basic check" (sbom-processing.sh:83-87). A field whose JSON type
    * does not match reads as null without nulling its neighbours
    * (spark.sql.json.enablePartialResults, on by default), so each check
    * sees what its own parse would.
    */
  private val detectProbeSchema: StructType = StructType(cycloneDxProbe.fields ++ Seq(
    StructField("sbom", cycloneDxProbe),
    spdxSchema("spdxVersion"), spdxSchema("SPDXID"),
    StructField("SoftwareIdentity", StructType(Seq(
      StructField("name", StringType), StructField("tagId", StringType))))))

  /** Detect the format of one JSON document held as a string from real
    * field presence — sbom-processing.sh:58-91 priority order: cyclonedx
    * (read through the `.sbom` envelope, like [[readCycloneDx]]) →
    * spdxjson → swid → spdxjson default. Corrupt JSON parses as all-null
    * and takes the default.
    */
  def detectFormatOf(spark: SparkSession, doc: String): String = {
    def cdx(field: String): Column =
      when(col("sbom").isNotNull, col(s"sbom.$field")).otherwise(col(field))
    parsed(spark, doc, "", detectProbeSchema).select(
      when(cdx("bomFormat") === "CycloneDX" || cdx("metadata.component").isNotNull, "cyclonedx")
        .when(col("spdxVersion").isNotNull || col("SPDXID").isNotNull, "spdxjson")
        .when(col("SoftwareIdentity").isNotNull, "swid")
        .otherwise("spdxjson")).head().getString(0)
  }

  /** fix_spdx_compatibility (sbom-processing.sh:7-35) as a document walk:
    * every packages[].externalRefs[].referenceCategory is normalized to a
    * value CycloneDX conversion accepts — PACKAGE-MANAGER →
    * PACKAGE_MANAGER; SECURITY / PERSISTENT_ID / OTHER kept; anything
    * else → OTHER. Bug-compatible quirk: the jq if/elif chain does not
    * list the already-correct "PACKAGE_MANAGER" spelling, so the
    * reference rewrites it to OTHER — reproduced faithfully.
    */
  def fixSpdxCompatibility(docs: DataFrame): DataFrame =
    docs.withColumn("packages", transform(col("packages"), p =>
      struct(
        p.getField("name").as("name"),
        p.getField("SPDXID").as("SPDXID"),
        p.getField("versionInfo").as("versionInfo"),
        p.getField("licenseConcluded").as("licenseConcluded"),
        p.getField("licenseDeclared").as("licenseDeclared"),
        transform(p.getField("externalRefs"), r =>
          struct(
            when(r.getField("referenceCategory") === "PACKAGE-MANAGER", "PACKAGE_MANAGER")
              .when(r.getField("referenceCategory")
                .isin("SECURITY", "PERSISTENT_ID", "OTHER"), r.getField("referenceCategory"))
              .otherwise("OTHER").as("referenceCategory"),
            r.getField("referenceType").as("referenceType"),
            r.getField("referenceLocator").as("referenceLocator"))).as("externalRefs"))))

  /** convert_sbom, SPDX→CycloneDX direction (sbom-processing.sh:94-152):
    * emits a CycloneDX v1.6 document as JSON per SPDX document — the
    * cyclonedx-cli convert analog as one narrow projection. Package
    * licenses follow concluded → declared → NOASSERTION; the document
    * name becomes metadata.component.name. Run fixSpdxCompatibility
    * first, as the reference does before converting.
    */
  def convertSpdxToCycloneDx(docs: DataFrame): DataFrame =
    docs.select(
      col("_file"),
      to_json(struct(
        lit("CycloneDX").as("bomFormat"),
        lit("1.6").as("specVersion"),
        lit(1L).as("version"),
        struct(
          struct(lit("application").as("type"),
            coalesce(col("name"), fileStem).as("name")).as("component")).as("metadata"),
        transform(col("packages"), p => struct(
          lit("library").as("type"),
          p.getField("name").as("name"),
          coalesce(p.getField("versionInfo"), lit("unknown")).as("version"),
          array(struct(struct(
            coalesce(p.getField("licenseConcluded"), p.getField("licenseDeclared"),
              lit("NOASSERTION")).as("id")).as("license"))).as("licenses")))
          .as("components"))).as("cdx_json"))

  /** convert_sbom, CycloneDX→SPDX direction (sbom-processing.sh:138-145):
    * emits an SPDX 2.3 document as JSON per CycloneDX document. Package
    * licenses follow the component license chain (id → name →
    * expression) → NOASSERTION; SPDXIDs are sanitized component names.
    */
  def convertCycloneDxToSpdx(docs: DataFrame): DataFrame =
    docs.select(
      col("_file"),
      to_json(struct(
        lit("SPDX-2.3").as("spdxVersion"),
        lit("SPDXRef-DOCUMENT").as("SPDXID"),
        coalesce(col("metadata.component.name"), col("name"), fileStem).as("name"),
        transform(col("components"), c => {
          val lic0 = get(c.getField("licenses"), lit(0))
          struct(
            coalesce(c.getField("name"), lit("unknown")).as("name"),
            concat(lit("SPDXRef-"),
              regexp_replace(coalesce(c.getField("name"), lit("unknown")),
                "[^A-Za-z0-9.-]", "-")).as("SPDXID"),
            coalesce(c.getField("version"), lit("unknown")).as("versionInfo"),
            coalesce(
              lic0.getField("license").getField("id"),
              lic0.getField("license").getField("name"),
              lic0.getField("id"),
              lic0.getField("name"),
              lic0.getField("expression"),
              lit("NOASSERTION")).as("licenseConcluded"))
        }).as("packages"))).as("spdx_json"))

  /** Merge component sets from many documents with the reference's dedup
    * key name@version#purl^source (sbom-merging.sh:358).
    */
  def mergeComponents(flattened: DataFrame*): DataFrame = {
    // Deterministic survivor per dedup key (dropDuplicates keeps an
    // arbitrary run-dependent row under distributed execution; the
    // reference's jq unique_by is stable for a given input order): keep
    // the row with the lexicographically smallest remaining attributes.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name"), col("version"), col("purl"), col("source"))
      .orderBy(col("license").asc_nulls_first)
    flattened.reduce(_ unionAll _)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The reference's license-mappings.json — one JSON object mapping
    * package name → SPDX id (947 entries in the shipped file) — read on
    * the driver through the path's Hadoop FileSystem, the way the
    * pipeline writes its artifact. Anything but one object of string
    * values fails, naming the file.
    */
  def licenseMappings(spark: SparkSession, path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    def bad(why: String): Nothing =
      throw new IllegalArgumentException(s"license mappings $path: $why")
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      catch { case e: com.fasterxml.jackson.core.JacksonException => bad(e.getOriginalMessage) }
      finally in.close()
    if (root == null || !root.isObject) bad("not one JSON object")
    root.properties().asScala.map { e =>
      if (!e.getValue.isTextual) bad(s"the value of '${e.getKey}' is not a string")
      e.getKey -> e.getValue.asText
    }.toMap
  }

  /** Apply the unknown-license mapping (entrypoint.sh:245-269): an
    * unknown, empty, "null" or missing license takes the mapped id, else
    * stays 'unknown'. The mapping is one literal map, so the lookup needs
    * no join and no Spark job.
    */
  def mapUnknownLicenses(components: DataFrame, mapping: Map[String, String]): DataFrame =
    components.select(col("name"), col("version"),
      when(col("license").isin("unknown", "", "null") || col("license").isNull,
        coalesce(typedLit(mapping).apply(col("name")), lit("unknown")))
        .otherwise(col("license")).as("license"),
      col("source"), col("purl"))

  /** Sink: the ClickHouse MergeTree analog — parquet partitioned by the
    * low-cardinality source, sorted within partitions by the table's
    * ORDER BY (name, version, license) (entrypoint.sh:220-229), so scans
    * prune by source and range-skip on name. The sort leads with `source`
    * because the partitioned writer needs its rows grouped by it: a sort
    * without it gets a writer sort on `source` alone on top, and the
    * optimizer then drops the (name, version, license) sort beneath it.
    */
  def writeComponentTable(components: DataFrame, path: String,
    mode: String = "overwrite"): Unit =
    components
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("name"), col("version"), col("license"))
      .write.mode(mode)
      .partitionBy("source")
      .parquet(path)

  /** The `source=…` partition directories directly under a table root. */
  private def sourcePartitions(fs: org.apache.hadoop.fs.FileSystem,
    root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))

  /** Background-merge analog (ClickHouse merges small parts into larger
    * ones to keep read amplification flat; an append-heavy parquet sink
    * accumulates one small file per insert batch the same way). Per
    * source partition: if the file count exceeds what `targetBytes`-sized
    * files would need, rewrite JUST that partition — read, re-sort to the
    * table ORDER BY, bin-pack to ceil(bytes/target) files, atomic
    * directory swap (write `._compact_tmp`, retire, rename). Untouched
    * partitions are never rewritten, so at 100 TB the cost tracks churn,
    * not table size — the same contract as MergeTree background merges.
    * Returns (partition, filesBefore, filesAfter) for observability.
    */
  def compactComponentTable(spark: SparkSession, path: String,
    targetBytes: Long = 128L * 1024 * 1024): Seq[(String, Int, Int)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Seq.empty
    sourcePartitions(fs, root)
      .flatMap { part =>
        val dir = part.getPath
        val files = fs.listStatus(dir).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        if (files.length <= nOut) None
        else {
          val tmp = new org.apache.hadoop.fs.Path(dir.toString + "._compact_tmp")
          val old = new org.apache.hadoop.fs.Path(dir.toString + "._compact_old")
          graft.Tables.open(spark, dir.toString)
            .coalesce(nOut)
            .sortWithinPartitions(col("name"), col("version"), col("license"))
            .write.mode("overwrite").parquet(tmp.toString)
          fs.delete(old, true)
          if (!fs.rename(dir, old))
            throw new java.io.IOException(s"compact: retire $dir failed")
          if (!fs.rename(tmp, dir)) {
            // roll back: the un-compacted partition must come back
            fs.rename(old, dir)
            throw new java.io.IOException(s"compact: swap-in $dir failed")
          }
          fs.delete(old, true)
          Some((part.getPath.getName, files.length, nOut))
        }
      }
  }

  /** Stamp the insert-time audit column — the reference table's
    * `inserted_at DateTime DEFAULT now()` (entrypoint.sh:226): every
    * batch written through the sink carries when it landed, so appended
    * generations are distinguishable and replayable.
    */
  def withInsertedAt(components: DataFrame): DataFrame =
    components.withColumn("inserted_at", current_timestamp())

  /** Legacy-schema upgrade — check_and_migrate_table (entrypoint.sh:
    * 130-163): a component table written before source tracking lacks the
    * `source` column; the reference ALTERs it in with DEFAULT 'unknown'.
    * This is the read-side shim: both generations query identically
    * afterward, and at 100 TB it costs a projection, not a rewrite.
    */
  def upgradeLegacySchema(table: DataFrame): DataFrame =
    if (table.columns.contains("source")) table
    else table.withColumn("source", lit("unknown"))

  /** Read a component table of either generation (pre- or post-source). */
  def readComponentTable(spark: SparkSession, path: String): DataFrame =
    upgradeLegacySchema(graft.Tables.open(spark, path))

  /** Physical migration — the ALTER TABLE … ADD COLUMN analog: rewrite a
    * legacy table into the current partitioned/sorted layout so future
    * reads need no shim. Rewrites via a sibling temp dir + atomic rename
    * (parquet has no in-place ALTER). Returns true iff a migration ran.
    * A 100 TB deployment would prefer upgradeLegacySchema-on-read and
    * migrate partition-by-partition; the full rewrite is the small-table
    * path the reference takes (its ALTER rewrites nothing, but ClickHouse
    * materializes the default lazily — the observable semantics match).
    * A table with `source=…` partition directories has the column, which
    * one directory listing decides; only a table without them reads a
    * footer (on the driver, no Spark job) to find out.
    */
  def migrateComponentTable(spark: SparkSession, path: String): Boolean = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lazy val existing = graft.Tables.open(spark, path)
    if (sourcePartitions(fs, hadoopPath).nonEmpty || existing.columns.contains("source")) false
    else {
      val tmp = new org.apache.hadoop.fs.Path(path + "__migrating")
      val trash = new org.apache.hadoop.fs.Path(path + "__pre_migration")
      // leftovers from a crashed/concurrent run would make the renames
      // below misbehave (HDFS rename-into-existing-dir NESTS the source);
      // refuse loudly rather than corrupt the table
      if (fs.exists(tmp) || fs.exists(trash))
        throw new IllegalStateException(
          s"migration leftovers present ($tmp / $trash) — a previous migration " +
            "crashed mid-swap or another is in flight; resolve manually")
      writeComponentTable(upgradeLegacySchema(existing), tmp.toString)
      // FileSystem.rename reports failure by RETURNING FALSE, not
      // throwing — an unchecked failed first rename followed by the
      // second would nest the migrated copy inside the live table
      if (!fs.rename(hadoopPath, trash))
        throw new java.io.IOException(s"migration: rename $hadoopPath -> $trash failed")
      if (!fs.rename(tmp, hadoopPath)) {
        fs.rename(trash, hadoopPath) // best-effort rollback to the legacy table
        throw new java.io.IOException(s"migration: rename $tmp -> $hadoopPath failed")
      }
      fs.delete(trash, true)
      true
    }
  }

  /** Idempotent sink setup + insert — setup_clickhouse_table
    * (entrypoint.sh:164-243): table exists → migrate legacy schema, then
    * truncate (overwrite) or append per the TRUNCATE_TABLE flag; table
    * missing → create. Returns the decision taken, for observability
    * parity with the reference's log lines.
    */
  def setupAndInsert(spark: SparkSession, components: DataFrame, path: String,
    truncate: Boolean): String = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hadoopPath)) {
      writeComponentTable(components, path)
      "created"
    } else if (truncate) {
      // truncate discards the existing rows, so migrating them first
      // would be a full rewrite of data about to be deleted. Delete
      // explicitly rather than relying on overwrite: under
      // partitionOverwriteMode=dynamic an overwrite only replaces the
      // partitions it writes, so a legacy table's unpartitioned
      // root-level files would survive and read back mixed in.
      fs.delete(hadoopPath, true)
      writeComponentTable(components, path)
      "truncated"
    } else {
      val migrated = migrateComponentTable(spark, path)
      writeComponentTable(components, path, mode = "append")
      if (migrated) "migrated+appended" else "appended"
    }
  }

  /** jq @tsv escaping (insert_sbom_data, entrypoint.sh:334-417): the
    * reference serializes name/version/license/source as TSV for the
    * ClickHouse insert; embedded backslashes, tabs and newlines must
    * escape (backslash first) or they shift columns / split rows.
    * Literal string replace, not regex — stays in codegen.
    */
  def escapeTsv(c: Column): Column =
    replace(replace(replace(replace(c,
      lit("\\"), lit("\\\\")),
      lit("\t"), lit("\\t")),
      lit("\n"), lit("\\n")),
      lit("\r"), lit("\\r"))

  /** Serialize components to the reference's 4-column TSV insert lines. */
  def toTsvLines(components: DataFrame): DataFrame =
    components.select(concat_ws("\t",
      escapeTsv(col("name")), escapeTsv(col("version")),
      escapeTsv(col("license")), escapeTsv(col("source"))).as("tsv"))

  /** Local-merge mode — merge_local_cyclonedx_sboms (sbom-merging.sh:
    * 404-533): the local-files variant of merge. Same name@version#purl^
    * source dedup key as the S3 merge, but each file's source tag comes
    * from its own metadata with the filename as last resort (the readers'
    * strategy-6 fallback), and the output is a reassembled CycloneDX
    * envelope (ClickBOM cyclonedx-merge tool stamp, wiz-merged-sbom root
    * component) rather than a bare component list. The envelope is a
    * single document by definition, so the final assembly aggregates to
    * one row — bounded by the merged document size, not the corpus.
    */
  def mergeLocalCycloneDx(spark: SparkSession, path: String): DataFrame = {
    val comps = mergeComponents(flattenCycloneDx(readCycloneDx(spark, path)))
    comps
      .select(struct(col("name"), col("version"), col("purl"), col("source")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("components"))
      .select(to_json(struct(
        lit("CycloneDX").as("bomFormat"),
        lit("1.6").as("specVersion"),
        lit(1L).as("version"),
        struct(
          array(struct(
            lit("ClickBOM").as("vendor"),
            lit("cyclonedx-merge").as("name"),
            lit("1.0.10").as("version"))).as("tools"),
          struct(
            lit("application").as("type"),
            lit("wiz-merged-sbom").as("name"),
            lit("1.0.0").as("version")).as("component")).as("metadata"),
        col("components"))).as("merged_json"))
  }
}
