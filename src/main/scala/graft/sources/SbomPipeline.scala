package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sbom.{Sanitize, Sbom}

/** The reference's `main()` orchestrator (entrypoint.sh:421-578) as one
  * callable pipeline: sanitize inputs → validate env → {merge mode |
  * fetch from github/mend/wiz via a pluggable [[Fetcher.Transport]]} →
  * unwrap → detect → convert → write the processed/merged document back
  * to object storage as ONE artifact (upload_to_s3, entrypoint.sh:19-36)
  * → mode-conditional table naming (entrypoint.sh:469,545-560) → table
  * setup + component insert (SbomSources.setupAndInsert).
  *
  * Everything data-shaped runs through the existing Spark stages
  * (SbomSources); this object contributes only the mode dispatch, the
  * document-artifact write and the log surface (lib/common.sh).
  * Documents are artifacts, not datasets: a run holds one document as a
  * string, exactly like the reference's jq calls, and parses it once
  * per stage into a one-row local relation ([[SbomSources.detectFormatOf]],
  * [[SbomSources.cycloneDxOf]], [[SbomSources.spdxOf]]). Nothing lands in
  * a temp file and the artifact is never read back: the components are
  * flattened from the string the run wrote, collected once (the count
  * comes from that collect) and written from the local copy.
  */
object SbomPipeline {

  /** The reference's env contract, typed. `bucketDir` is the S3-bucket
    * analog (merge-mode input prefix AND artifact destination);
    * `tableRoot` is the CLICKHOUSE_URL analog — None skips table ops,
    * exactly like an unset CLICKHOUSE_URL (entrypoint.sh:466,540).
    */
  final case class Config(
    merge: Boolean = false,
    source: String = "github",
    repository: Option[String] = None,
    mendProjectUuid: Option[String] = None,
    mendProductUuid: Option[String] = None,
    mendOrgScopeUuid: Option[String] = None,
    wizReportId: Option[String] = None,
    s3Key: String = "sbom.json",
    desiredFormat: String = "cyclonedx",
    bucketDir: String,
    tableRoot: Option[String] = None,
    truncateTable: Boolean = false,
    licenseMappings: Option[String] = None,
    includePatterns: Seq[String] = Nil,
    excludePatterns: Seq[String] = Nil,
    /** Injectable metadata for the merged envelope (the reference stamps
      * wall-clock + uuidgen; specs pin both for byte-stable output). */
    timestamp: Option[String] = None,
    serialNumber: Option[String] = None)

  final case class Result(
    mode: String,
    artifactPath: String,
    detectedFormat: Option[String],
    tableName: Option[String],
    tableDecision: Option[String],
    componentCount: Long,
    log: Seq[String])

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** sanitize_inputs (lib/sanitize.sh via entrypoint.sh:426) — a
    * one-row local relation evaluates every Column-typed sanitizer over
    * the config strings; the optimizer folds the projection into the
    * relation, so no Spark job runs. Invalid values come back null and
    * fail validation loudly rather than flowing onward.
    */
  private def sanitized(spark: SparkSession, cfg: Config): Config = {
    def lit0(v: Option[String]): Column = lit(v.orNull).cast("string")
    val oneRow = spark.createDataFrame(java.util.List.of(Row.empty), StructType(Nil))
    val row = oneRow.select(
      Sanitize.sanitizeRepository(lit0(cfg.repository)).as("repository"),
      Sanitize.sanitizeS3Key(lit(cfg.s3Key)).as("s3_key"),
      Sanitize.sanitizeUuid(lit0(cfg.mendProjectUuid)).as("mend_project"),
      Sanitize.sanitizeUuid(lit0(cfg.mendProductUuid)).as("mend_product"),
      Sanitize.sanitizeUuid(lit0(cfg.mendOrgScopeUuid)).as("mend_org"),
      Sanitize.sanitizeString(lit0(cfg.wizReportId), 64).as("wiz_report"),
      Sanitize.sanitizePatterns(lit(cfg.includePatterns.mkString(","))).as("inc"),
      Sanitize.sanitizePatterns(lit(cfg.excludePatterns.mkString(","))).as("exc"))
      .head()
    def opt(i: Int): Option[String] = Option(row.getString(i)).filter(_.nonEmpty)
    def pats(i: Int): Seq[String] =
      opt(i).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    cfg.copy(
      repository = opt(0),
      s3Key = opt(1).getOrElse(fail(s"S3_KEY sanitized to empty: ${cfg.s3Key}")),
      mendProjectUuid = opt(2), mendProductUuid = opt(3), mendOrgScopeUuid = opt(4),
      wizReportId = opt(5),
      includePatterns = pats(6), excludePatterns = pats(7))
  }

  /** validate_env / validate_mend_env / validate_wiz_env
    * (lib/validation.sh) — required-field presence conditioned on mode.
    */
  private def validate(cfg: Config): Unit = {
    if (!Set("cyclonedx", "spdxjson").contains(cfg.desiredFormat))
      fail(s"Unsupported SBOM_FORMAT: ${cfg.desiredFormat}")
    if (!cfg.merge) cfg.source match {
      case "github" =>
        if (cfg.repository.isEmpty) fail("REPOSITORY is required for source=github")
      case "mend" =>
        if (cfg.mendProjectUuid.orElse(cfg.mendProductUuid)
          .orElse(cfg.mendOrgScopeUuid).isEmpty)
          fail("one of MEND_PROJECT_UUID/MEND_PRODUCT_UUID/MEND_ORG_SCOPE_UUID " +
            "is required for source=mend")
      case "wiz" =>
        if (cfg.wizReportId.isEmpty) fail("WIZ_REPORT_ID is required for source=wiz")
      case other => fail(s"Unsupported SBOM source: $other (github, mend, wiz)")
    }
  }

  /** Mode-conditional table naming (entrypoint.sh:469,545-560), same
    * semantics as the sbom_table_name operator — including the
    * bug-compatible merge quirk: the '.json'→'_merged' rewrite runs
    * AFTER non-alnum→'_' has eaten the dot, so merge keys end '_json'.
    */
  private[graft] def tableNameFor(cfg: Config): String = {
    def sanitize(s: String): String =
      s.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase(java.util.Locale.ROOT)
    if (cfg.merge) sanitize(cfg.s3Key).replaceAll("\\.json", "_merged")
    else cfg.source match {
      case "github" => sanitize(cfg.repository.get)
      case "mend" => "mend_" + sanitize(cfg.mendProjectUuid
        .orElse(cfg.mendProductUuid).orElse(cfg.mendOrgScopeUuid).get)
      case "wiz" => "wiz_" + sanitize(cfg.wizReportId.get)
    }
  }

  /** upload_to_s3 (entrypoint.sh:19-36): the processed/merged document
    * goes back to object storage as ONE artifact — through the Hadoop
    * FileSystem of the destination, so `bucketDir` may be any supported
    * scheme (s3a://, hdfs://, file:/…).
    */
  private def writeArtifact(spark: SparkSession, dir: String, key: String,
    content: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir, key)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(path, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    path.toString
  }

  /** extract_sbom_from_wrapper (sbom-processing.sh:38-55): jq
    * 'if has("sbom") then .sbom else .' on the one fetched document. jq's
    * `has` fails on anything but an object, and only an object is an SBOM
    * document, so a root or `.sbom` that is not one JSON object stops the
    * run before anything is written.
    */
  private def unwrap(doc: String): String = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc)
    val sbom = if (root.isObject && root.has("sbom")) root.get("sbom") else root
    if (!sbom.isObject)
      throw new IllegalStateException(s"SBOM is not one JSON object: ${sbom.getNodeType}")
    if (sbom eq root) doc else sbom.toString
  }

  /** Include/exclude filename-glob filtering, exclude wins
    * (sbom-merging.sh:32-77), as a Column predicate over `_file`.
    */
  private def patternFilter(cfg: Config): Column = {
    val fname = regexp_extract(col("_file"), "([^/]+)$", 1)
    def anyMatch(pats: Seq[String]): Column =
      pats.map(p => fname.like(Sbom.globToLike(p))).reduceOption(_ || _)
        .getOrElse(lit(false))
    val included =
      if (cfg.includePatterns.isEmpty) lit(true) else anyMatch(cfg.includePatterns)
    included && !anyMatch(cfg.excludePatterns)
  }

  /** Re-emit a (fixed) SPDX subset document as JSON — the convert_sbom
    * same-format copy path after fix_spdx_compatibility ran.
    */
  private def emitSpdx(docs: DataFrame): DataFrame =
    docs.select(col("_file"), to_json(struct(
      col("spdxVersion"), col("SPDXID"), col("name"), col("packages"))).as("doc"))

  /** Assemble the merged CycloneDX envelope (sbom-merging.sh:280-379):
    * ClickBOM cyclonedx-merge tool stamp, `merged-sbom` root component,
    * components sorted + carrying license/source so the artifact re-reads
    * through the same flatten the insert path uses.
    */
  private def mergedEnvelope(components: DataFrame, cfg: Config): DataFrame = {
    val serial = cfg.serialNumber.getOrElse(
      "urn:uuid:" + java.util.UUID.randomUUID().toString)
    val ts = cfg.timestamp.getOrElse(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now()))
    components
      .select(struct(col("name"), col("version"), col("purl"), col("source"),
        array(struct(struct(col("license").as("id")).as("license"))).as("licenses")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("components"))
      .select(to_json(struct(
        lit("CycloneDX").as("bomFormat"),
        lit("1.6").as("specVersion"),
        lit(serial).as("serialNumber"),
        lit(1L).as("version"),
        struct(
          lit(ts).as("timestamp"),
          array(struct(
            lit("ClickBOM").as("vendor"),
            lit("cyclonedx-merge").as("name"),
            lit("1.0.10").as("version"))).as("tools"),
          struct(
            lit("application").as("type"),
            lit("merged-sbom").as("name"),
            lit("1.0.0").as("version")).as("component")).as("metadata"),
        col("components"))).as("merged_json"))
  }

  /** Run the full reference contract. `transport` feeds normal mode
    * (github/mend/wiz download); merge mode reads `bucketDir` directly
    * and needs none. Throws IllegalArgumentException / IllegalStateException
    * where the reference log_error+exits. Nothing is landed on local disk,
    * so there is no temp dir to clean up (the reference's `trap cleanup
    * EXIT`, lib/common.sh:36).
    */
  def run(spark: SparkSession, config: Config,
    transport: Option[Fetcher.Transport] = None,
    fetchPolicy: Fetcher.Policy = Fetcher.Policy(),
    sleep: Long => Unit = Thread.sleep): Result = {
    val log = ListBuffer.empty[String]
    log += "Starting SBOM pipeline"
    val cfg = sanitized(spark, config)
    validate(cfg)
    if (cfg.merge) runMerge(spark, cfg, log)
    else runNormal(spark, cfg, transport, fetchPolicy, sleep, log)
  }

  private def runMerge(spark: SparkSession, cfg: Config,
    log: ListBuffer[String]): Result = {
    log += "Running in MERGE mode - merging all CycloneDX SBOMs from S3"
    // only CycloneDX documents merge (sbom-merging.sh:204-237: bomFormat
    // or metadata.component probe; corrupt JSON reads as all-null and
    // drops out the same way the reference skips it)
    val docs = SbomSources.readCycloneDx(spark, cfg.bucketDir)
      .filter(patternFilter(cfg))
      .filter(col("bomFormat") === "CycloneDX" || col("metadata.component").isNotNull)
    val merged = SbomSources.mergeComponents(SbomSources.flattenCycloneDx(docs))
    val envelope = mergedEnvelope(merged, cfg).head.getString(0)
    Fetcher.jsonProbe(envelope).left.foreach(e =>
      throw new IllegalStateException(s"Merged CycloneDX SBOM is not valid JSON: $e"))
    val artifact = writeArtifact(spark, cfg.bucketDir, cfg.s3Key, envelope)
    log += s"Merged SBOM available at: $artifact"
    val (tbl, decision, n) = tableOps(spark, cfg, envelope, artifact, "cyclonedx", log)
    Result("merge", artifact, None, tbl, decision, n, log.toList)
  }

  private def runNormal(spark: SparkSession, cfg: Config,
    transport: Option[Fetcher.Transport], fetchPolicy: Fetcher.Policy,
    sleep: Long => Unit, log: ListBuffer[String]): Result = {
    log += s"Running in NORMAL mode - processing SBOM from ${cfg.source}"
    val t = transport.getOrElse(fail(s"source=${cfg.source} requires a Transport"))
    val fetched = Fetcher.fetch(t, fetchPolicy, sleep,
      retryable = if (cfg.source == "github") Fetcher.githubRetryable else _ => true,
      validate = Fetcher.jsonProbe,
      rateLimited = if (cfg.source == "github") Fetcher.githubRateLimited
        else _ => None) match {
      case Fetcher.Fetched(doc, _, _, _) => doc
      case Fetcher.GaveUp(stage, detail) =>
        throw new IllegalStateException(s"Failed to download SBOM ($stage): $detail")
    }
    val doc = unwrap(fetched)
    // the reference's name for the unwrapped document, which conversion's
    // filename fallback reads
    val extracted = "extracted_sbom.json"
    val detected = SbomSources.detectFormatOf(spark, doc)
    log += s"Detected SBOM format: $detected"
    val processed = (detected, cfg.desiredFormat) match {
      case ("cyclonedx", "cyclonedx") => doc
      case ("cyclonedx", "spdxjson") =>
        SbomSources.convertCycloneDxToSpdx(
          SbomSources.cycloneDxOf(spark, doc, extracted)).head.getAs[String]("spdx_json")
      case ("spdxjson", desired) =>
        // fix_spdx_compatibility always precedes conversion (entrypoint.sh:528)
        val fixed = SbomSources.fixSpdxCompatibility(
          SbomSources.spdxOf(spark, doc, extracted))
        if (desired == "cyclonedx")
          SbomSources.convertSpdxToCycloneDx(fixed).head.getAs[String]("cdx_json")
        else emitSpdx(fixed).head.getAs[String]("doc")
      case (other, _) => fail(s"Unsupported SBOM format: $other")
    }
    Fetcher.jsonProbe(processed).left.foreach(e =>
      throw new IllegalStateException(s"Generated SBOM is not valid JSON: $e"))
    val artifact = writeArtifact(spark, cfg.bucketDir, cfg.s3Key, processed)
    log += s"SBOM available at: $artifact"
    val (tbl, decision, n) = tableOps(spark, cfg, processed, artifact, cfg.desiredFormat, log)
    Result("normal", artifact, Some(detected), tbl, decision, n, log.toList)
  }

  /** ClickHouse operations (entrypoint.sh:466-576): derive the table
    * name, set up / migrate / truncate, insert the flattened components.
    * Skipped entirely when `tableRoot` is unset, like CLICKHOUSE_URL.
    * `doc` is the document this run wrote to `artifact` (whose name the
    * filename fallback reads); its flattened, license-mapped rows
    * (insert_sbom_data, entrypoint.sh:328-417) are collected once: the
    * count is the collect's length and the insert writes those rows.
    */
  private def tableOps(spark: SparkSession, cfg: Config, doc: String, artifact: String,
    format: String, log: ListBuffer[String]): (Option[String], Option[String], Long) =
    cfg.tableRoot match {
      case None => (None, None, 0L)
      case Some(root) =>
        val name = tableNameFor(cfg)
        log += s"Starting ClickHouse operations for table: $name"
        val flat = format match {
          case "cyclonedx" =>
            SbomSources.flattenCycloneDx(SbomSources.cycloneDxOf(spark, doc, artifact))
          case "spdxjson" => SbomSources.flattenSpdx(SbomSources.spdxOf(spark, doc, artifact))
          case other => fail(s"Unsupported SBOM format for ClickHouse: $other")
        }
        val comps = cfg.licenseMappings.fold(flat)(m =>
          SbomSources.mapUnknownLicenses(flat, SbomSources.licenseMappings(spark, m)))
        val rows = comps.collect()
        val n = rows.length.toLong
        if (n == 0) {
          // "No component data found in SBOM" — the reference warns and
          // returns without touching the table (entrypoint.sh:394-397)
          log += "No component data found in SBOM"
          (Some(name), None, 0L)
        } else {
          val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), comps.schema)
          val decision = SbomSources.setupAndInsert(spark,
            SbomSources.withInsertedAt(local),
            new org.apache.hadoop.fs.Path(root, name).toString, cfg.truncateTable)
          log += s"Inserted $n components into table $name ($decision)"
          (Some(name), Some(decision), n)
        }
    }
}
