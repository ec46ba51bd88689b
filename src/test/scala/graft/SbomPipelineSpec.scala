package graft

import java.nio.file.{Files, Paths}

import graft.sources.{Fetcher, SbomPipeline, SbomSources}
import org.apache.spark.sql.functions._

/** End-to-end replay of the reference's main() contract
  * (entrypoint.sh:421-578) over stub transports + real JSON fixtures:
  * both modes, the document-artifact write, mode-conditional table
  * naming, and the failure exits the bats suite covers.
  */
class SbomPipelineSpec extends SparkSpec {

  private val cdxDoc =
    """{
      |  "bomFormat": "CycloneDX",
      |  "specVersion": "1.6",
      |  "version": 1,
      |  "metadata": {
      |    "component": {"type": "application", "name": "service-a", "version": "2.0"}
      |  },
      |  "components": [
      |    {"type": "library", "name": "libfoo", "version": "1.2.3",
      |     "purl": "pkg:generic/libfoo@1.2.3",
      |     "licenses": [{"license": {"id": "MIT"}}]},
      |    {"type": "library", "name": "mystery", "version": "0.0.1",
      |     "purl": "pkg:generic/mystery@0.0.1"}
      |  ]
      |}""".stripMargin

  private val cdxDoc2 =
    """{
      |  "bomFormat": "CycloneDX",
      |  "specVersion": "1.6",
      |  "version": 1,
      |  "metadata": {
      |    "component": {"type": "application", "name": "service-b", "version": "1.0"}
      |  },
      |  "components": [
      |    {"type": "library", "name": "libfoo", "version": "1.2.3",
      |     "purl": "pkg:generic/libfoo@1.2.3",
      |     "licenses": [{"license": {"id": "MIT"}}]},
      |    {"type": "library", "name": "libqux", "version": "7.7",
      |     "purl": "pkg:generic/libqux@7.7",
      |     "licenses": [{"license": {"id": "ISC"}}]}
      |  ]
      |}""".stripMargin

  private val spdxWrapped =
    """{"sbom": {
      |  "spdxVersion": "SPDX-2.3",
      |  "SPDXID": "SPDXRef-DOCUMENT",
      |  "name": "acme/widget",
      |  "packages": [
      |    {"name": "pkg-one", "SPDXID": "SPDXRef-1", "versionInfo": "4.5",
      |     "licenseConcluded": "GPL-3.0",
      |     "externalRefs": [{"referenceCategory": "PACKAGE-MANAGER",
      |       "referenceType": "purl", "referenceLocator": "pkg:generic/pkg-one@4.5"}]},
      |    {"name": "pkg-two", "SPDXID": "SPDXRef-2", "versionInfo": "1.1",
      |     "licenseDeclared": "ISC"},
      |    {"name": "mystery", "SPDXID": "SPDXRef-3", "versionInfo": "0.0.1"}
      |  ]
      |}}""".stripMargin

  private def stubGithub(doc: String): Fetcher.Transport =
    new Fetcher.DirectTransport {
      override def request(): Either[String, String] = Right("tok")
      override def download(token: String): Either[String, String] = Right(doc)
    }

  private def freshDirs(): (String, String) = {
    val bucket = Files.createTempDirectory("graft_pipe_bucket").toString
    val tables = Files.createTempDirectory("graft_pipe_tables").toString
    (bucket, tables)
  }

  private val mappings = {
    val d = Files.createTempDirectory("graft_pipe_map").toString
    Files.writeString(Paths.get(d, "license-mappings.json"),
      """{"mystery": "MIT-0"}""")
    s"$d/license-mappings.json"
  }

  test("job budget: sanitizing fires no job; one insert scans and writes once") {
    val (bucket, tables) = freshDirs()
    // the repository sanitizes to null and validation stops the run, so
    // only sanitizing ran
    assert(jobsOf(intercept[IllegalArgumentException] {
      SbomPipeline.run(spark, SbomPipeline.Config(source = "github",
        repository = Some("not a repo!"), bucketDir = bucket), None, sleep = _ => ())
    }) === 0)
    // detect and parse (none: the document is parsed from the string it
    // is held as), read the mapping file (none: a driver-side read),
    // collect the mapped components, write (shuffle + write)
    var res: SbomPipeline.Result = null
    val jobs = jobsOf {
      res = SbomPipeline.run(spark, SbomPipeline.Config(
        source = "github", repository = Some("acme/budget"), bucketDir = bucket,
        tableRoot = Some(tables), licenseMappings = Some(mappings)),
        Some(stubGithub(cdxDoc)), sleep = _ => ())
    }
    assert(res.detectedFormat === Some("cyclonedx"))
    assert(res.tableDecision === Some("created") && res.componentCount === 2)
    assert(jobs <= 4, s"$jobs Spark jobs for one insert")
  }

  test("job budget: an append into an existing table fires no schema-inference job") {
    val (bucket, tables) = freshDirs()
    val cfg = SbomPipeline.Config(
      source = "github", repository = Some("acme/budget"), bucketDir = bucket,
      tableRoot = Some(tables), licenseMappings = Some(mappings))
    assert(SbomPipeline.run(spark, cfg, Some(stubGithub(cdxDoc)), sleep = _ => ())
      .tableDecision === Some("created"))
    // the table's source= partitions show it needs no migration: the
    // components' collect and the write are all that is left
    var res: SbomPipeline.Result = null
    val jobs = jobsOf {
      res = SbomPipeline.run(spark, cfg, Some(stubGithub(cdxDoc2)), sleep = _ => ())
    }
    assert(res.tableDecision === Some("appended") && res.componentCount === 2)
    assert(jobs <= 3, s"$jobs Spark jobs for an append")
  }

  test("job budget: converting a wrapped SPDX document scans no file") {
    val (bucket, tables) = freshDirs()
    var res: SbomPipeline.Result = null
    val jobs = jobsOf {
      res = SbomPipeline.run(spark, SbomPipeline.Config(
        source = "github", repository = Some("acme/convert"), bucketDir = bucket,
        tableRoot = Some(tables), licenseMappings = Some(mappings)),
        Some(stubGithub(spdxWrapped)), sleep = _ => ())
    }
    assert(res.detectedFormat === Some("spdxjson"))
    assert(res.tableDecision === Some("created") && res.componentCount === 3)
    // the conversion folds into its one-row relation: the components'
    // collect and the write (shuffle + write) are all the jobs there are
    assert(jobs <= 3, s"$jobs Spark jobs for a converting insert")
  }

  test("a fetched document that is not one JSON object stops the run before any write") {
    val (bucket, tables) = freshDirs()
    Seq(s"[$cdxDoc]", s"""{"sbom": [$cdxDoc]}""").foreach { doc =>
      val e = intercept[IllegalStateException] {
        SbomPipeline.run(spark, SbomPipeline.Config(
          source = "github", repository = Some("acme/array"), bucketDir = bucket,
          tableRoot = Some(tables)), Some(stubGithub(doc)), sleep = _ => ())
      }
      assert(e.getMessage.contains("not one JSON object"), e.getMessage)
    }
    assert(new java.io.File(bucket).list().isEmpty, "no artifact")
    assert(new java.io.File(tables).list().isEmpty, "no table")
  }

  test("a license-mappings file that is not one JSON object of strings fails the run") {
    val (bucket, tables) = freshDirs()
    val d = Files.createTempDirectory("graft_pipe_badmap")
    Seq("""[{"mystery": "MIT"}]""", """{"mystery": 1}""", """{"mystery": null}""",
      """{"mystery": """).zipWithIndex.foreach { case (content, i) =>
      val file = d.resolve(s"mappings-$i.json")
      Files.writeString(file, content)
      val e = intercept[IllegalArgumentException] {
        SbomPipeline.run(spark, SbomPipeline.Config(
          source = "github", repository = Some("acme/badmap"), bucketDir = bucket,
          tableRoot = Some(tables), licenseMappings = Some(file.toString)),
          Some(stubGithub(cdxDoc)), sleep = _ => ())
      }
      assert(e.getMessage.contains(file.toString), e.getMessage)
    }
    assert(!Files.exists(Paths.get(tables, "acme_badmap")), "no table")
  }

  test("a rewritten license-mappings file is read again") {
    val (bucket, tables) = freshDirs()
    val file = Files.createTempDirectory("graft_pipe_remap").resolve("license-mappings.json")
    def mysteryLicense(mapping: String, repo: String): String = {
      Files.writeString(file, mapping)
      SbomPipeline.run(spark, SbomPipeline.Config(
        source = "github", repository = Some(repo), bucketDir = bucket,
        tableRoot = Some(tables), licenseMappings = Some(file.toString)),
        Some(stubGithub(cdxDoc)), sleep = _ => ())
      SbomSources.readComponentTable(spark, s"$tables/${repo.replace('/', '_')}")
        .filter(col("name") === "mystery").head().getAs[String]("license")
    }
    assert(mysteryLicense("""{"mystery": "MIT-0"}""", "acme/one") === "MIT-0")
    assert(mysteryLicense("""{"mystery": "Zlib", "other": "ISC"}""", "acme/two") === "Zlib")
  }

  test("normal mode github: wrapped SPDX → unwrap → detect → convert → artifact + table") {
    val (bucket, tables) = freshDirs()
    val res = SbomPipeline.run(spark, SbomPipeline.Config(
      source = "github", repository = Some("acme/widget"),
      s3Key = "widget-sbom.json", desiredFormat = "cyclonedx",
      bucketDir = bucket, tableRoot = Some(tables),
      licenseMappings = Some(mappings)),
      transport = Some(stubGithub(spdxWrapped)), sleep = _ => ())

    assert(res.mode === "normal")
    assert(res.detectedFormat === Some("spdxjson"))
    // table name = sanitized REPOSITORY (entrypoint.sh:547)
    assert(res.tableName === Some("acme_widget"))
    assert(res.tableDecision === Some("created"))
    assert(res.componentCount === 3)
    // the artifact is the CONVERTED document — it re-reads as CycloneDX
    val art = SbomSources.readCycloneDx(spark, res.artifactPath)
    assert(art.select(col("bomFormat")).head.getString(0) === "CycloneDX")
    assert(art.select(col("metadata.component.name")).head.getString(0) === "acme/widget")
    // component table: SPDX license chain applied, unknown mapped via
    // license-mappings.json, source = document name
    val tbl = SbomSources.readComponentTable(spark, s"$tables/acme_widget")
    val byName = tbl.select(col("name"), col("license"), col("source"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byName("pkg-one") === (("GPL-3.0", "acme/widget")))
    assert(byName("pkg-two") === (("ISC", "acme/widget")))
    // bug-compatible with the reference: conversion stamps NOASSERTION
    // for a license-less SPDX package, and map_unknown_licenses
    // (entrypoint.sh:261) only maps unknown/''/null — NOT NOASSERTION,
    // so the mapping never fires on a converted document
    assert(byName("mystery") === (("NOASSERTION", "acme/widget")))
  }

  test("normal mode cyclonedx passthrough + append/truncate decisions on re-run") {
    val (bucket, tables) = freshDirs()
    val cfg = SbomPipeline.Config(
      source = "github", repository = Some("acme/widget"),
      s3Key = "sbom.json", bucketDir = bucket, tableRoot = Some(tables))
    val t = Some(stubGithub(cdxDoc))
    val r1 = SbomPipeline.run(spark, cfg, t, sleep = _ => ())
    assert(r1.detectedFormat === Some("cyclonedx"))
    assert(r1.tableDecision === Some("created"))
    // passthrough: artifact is byte-identical to the fetched document
    assert(Files.readString(Paths.get(new java.net.URI(
      "file:" + r1.artifactPath.stripPrefix("file:")))) === cdxDoc)
    val r2 = SbomPipeline.run(spark, cfg, t, sleep = _ => ())
    assert(r2.tableDecision === Some("appended"))
    val r3 = SbomPipeline.run(spark, cfg.copy(truncateTable = true), t, sleep = _ => ())
    assert(r3.tableDecision === Some("truncated"))
    val tbl = SbomSources.readComponentTable(spark, s"$tables/acme_widget")
    assert(tbl.count() === 2) // truncated: one generation only
  }

  test("merge mode: dedup across docs, exclude wins, envelope artifact, _json table quirk") {
    val (bucket, tables) = freshDirs()
    Files.writeString(Paths.get(bucket, "service-a.json"), cdxDoc)
    Files.writeString(Paths.get(bucket, "service-b.json"), cdxDoc2)
    Files.writeString(Paths.get(bucket, "service-c.json"), cdxDoc2)
    Files.writeString(Paths.get(bucket, "notes.txt.json"), "{not json at all")
    val res = SbomPipeline.run(spark, SbomPipeline.Config(
      merge = true, s3Key = "sboms/merged.json", bucketDir = bucket,
      tableRoot = Some(tables), licenseMappings = Some(mappings),
      includePatterns = Seq("service-*.json"), excludePatterns = Seq("*-c.json"),
      timestamp = Some("2026-01-01T00:00:00Z"),
      serialNumber = Some("urn:uuid:0000")), sleep = _ => ())

    assert(res.mode === "merge")
    // bug-compatible merge naming: '.json'→'_merged' runs after the
    // non-alnum pass ate the dot, so the name ends '_json'
    assert(res.tableName === Some("sboms_merged_json"))
    // libfoo dedups across service-a/service-b on name@version#purl^source
    // (sources differ → both survive); libqux from b; mystery from a;
    // service-c excluded by pattern
    assert(res.componentCount === 4)
    val art = SbomSources.readCycloneDx(spark, res.artifactPath)
    assert(art.select(col("metadata.component.name")).head.getString(0) === "merged-sbom")
    val tools = art.select(col("metadata.tools")).head.getSeq[org.apache.spark.sql.Row](0)
    assert(tools.map(_.getAs[String]("name")) === Seq("cyclonedx-merge"))
    val sources = SbomSources.readComponentTable(spark, s"$tables/sboms_merged_json")
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(sources === Set("service-a", "service-b"))
    // unknown license mapped through license-mappings.json on insert
    val mysteryLic = SbomSources.readComponentTable(spark, s"$tables/sboms_merged_json")
      .filter(col("name") === "mystery").select(col("license")).head.getString(0)
    assert(mysteryLic === "MIT-0")
  }

  test("validation failures exit loudly: missing per-source ids, bad format, gave-up fetch") {
    val (bucket, _) = freshDirs()
    def cfg = SbomPipeline.Config(bucketDir = bucket)
    intercept[IllegalArgumentException] {
      SbomPipeline.run(spark, cfg.copy(source = "github"), None, sleep = _ => ())
    }
    intercept[IllegalArgumentException] {
      SbomPipeline.run(spark, cfg.copy(source = "wiz"), None, sleep = _ => ())
    }
    intercept[IllegalArgumentException] {
      SbomPipeline.run(spark, cfg.copy(source = "mend"), None, sleep = _ => ())
    }
    intercept[IllegalArgumentException] {
      SbomPipeline.run(spark,
        cfg.copy(source = "rogue", repository = Some("a/b")), None, sleep = _ => ())
    }
    intercept[IllegalArgumentException] {
      SbomPipeline.run(spark,
        cfg.copy(repository = Some("a/b"), desiredFormat = "swid"), None, sleep = _ => ())
    }
    // a transport that never produces a valid document → GaveUp → loud stop
    val broken = new Fetcher.DirectTransport {
      override def request(): Either[String, String] = Right("tok")
      override def download(token: String): Either[String, String] = Right("{not json")
    }
    intercept[IllegalStateException] {
      SbomPipeline.run(spark, cfg.copy(repository = Some("a/b")),
        Some(broken), sleep = _ => ())
    }
  }

  test("mend/wiz table naming uses the uuid/report-id scope (entrypoint.sh:550-556)") {
    assert(SbomPipeline.tableNameFor(SbomPipeline.Config(
      source = "mend", bucketDir = "/x",
      mendProductUuid = Some("AB12CD34-0000-1111-2222-333344445555")))
      === "mend_ab12cd34_0000_1111_2222_333344445555")
    assert(SbomPipeline.tableNameFor(SbomPipeline.Config(
      source = "wiz", bucketDir = "/x", wizReportId = Some("report-7.id")))
      === "wiz_report_7_id")
  }
}
