package graft

import java.nio.file.{Files, Paths}

import graft.sources.SbomSources
import org.apache.spark.sql.functions._

/** End-to-end reference-pipeline spec over REAL JSON documents: write
  * CycloneDX + SPDX files, detect, flatten (license fallback chain),
  * merge-dedup, map unknown licenses, write the sorted component table,
  * read it back.
  */
class SbomSourcesSpec extends SparkSpec {

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
      |    {"type": "library", "name": "libbar", "version": "0.9",
      |     "purl": "pkg:generic/libbar@0.9",
      |     "licenses": [{"expression": "Apache-2.0 OR MIT"}]},
      |    {"type": "library", "name": "libbaz", "version": "3.1",
      |     "purl": "pkg:generic/libbaz@3.1",
      |     "properties": [{"name": "spdx:license-concluded", "value": "BSD-3-Clause"}]},
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
      |     "licenses": [{"license": {"id": "MIT"}}]}
      |  ]
      |}""".stripMargin

  private val spdxDoc =
    """{
      |  "spdxVersion": "SPDX-2.3",
      |  "SPDXID": "SPDXRef-DOCUMENT",
      |  "name": "repo-sbom",
      |  "packages": [
      |    {"name": "pkg-one", "SPDXID": "SPDXRef-1", "versionInfo": "4.5",
      |     "licenseConcluded": "GPL-3.0"},
      |    {"name": "pkg-two", "SPDXID": "SPDXRef-2", "versionInfo": "1.1",
      |     "licenseDeclared": "ISC"}
      |  ]
      |}""".stripMargin

  // source-ref strategies 4, 5 and 6 (entrypoint.sh:75-104)
  private val topLevelNamed =
    """{"bomFormat": "CycloneDX", "name": "named-at-top",
      | "components": [{"type": "library", "name": "libx", "version": "1"}]}""".stripMargin
  private val toolsOnly =
    """{"bomFormat": "CycloneDX",
      | "metadata": {"tools": [
      |   {"vendor": "gh", "name": "GitHub.com-Dependency-Graph"},
      |   {"vendor": "cdx", "name": "CycloneDX-cli"},
      |   {"vendor": "wiz", "name": "wiz-scanner"}]},
      | "components": [{"type": "library", "name": "liby", "version": "2"}]}""".stripMargin
  private val bareFile =
    """{"bomFormat": "CycloneDX",
      | "metadata": {"tools": [{"vendor": "cdx", "name": "cyclonedx-merge"}]},
      | "components": [{"type": "library", "name": "libz", "version": "3"}]}""".stripMargin

  private val spdxRefs =
    """{
      |  "spdxVersion": "SPDX-2.3",
      |  "SPDXID": "SPDXRef-DOCUMENT",
      |  "name": "repo-sbom",
      |  "packages": [
      |    {"name": "pkg-one", "SPDXID": "SPDXRef-1", "versionInfo": "4.5",
      |     "licenseConcluded": "GPL-3.0",
      |     "externalRefs": [
      |       {"referenceCategory": "PACKAGE-MANAGER", "referenceType": "purl",
      |        "referenceLocator": "pkg:generic/pkg-one@4.5"},
      |       {"referenceCategory": "wat", "referenceType": "cpe", "referenceLocator": "x"}]},
      |    {"name": "pkg-two", "SPDXID": "SPDXRef-2", "licenseDeclared": "ISC"}
      |  ]
      |}""".stripMargin

  // type-mismatched fields and an envelope, each named after its format
  private val mismatched = Seq(
    "swid-1.json" -> """{"SoftwareIdentity": {"name": "a", "tagId": "t"}, "metadata": 5}""",
    "spdxjson-2.json" ->
      """{"spdxVersion": "SPDX-2.3", "metadata": {"component": "str"}, "bomFormat": ["x"]}""",
    "cyclonedx-3.json" ->
      """{"bomFormat": "CycloneDX", "spdxVersion": {"a": 1}, "SoftwareIdentity": "nope"}""",
    "spdxjson-4.json" -> """{"SoftwareIdentity": {"name": "a"}, "spdxVersion": {"x": [1]}}""",
    "cyclonedx-5.json" -> s"""{"sbom": $cdxDoc2}""")

  /** Each JSON file of `d` by name, with the format detected from its text. */
  private def formatsIn(d: String): Map[String, String] =
    new java.io.File(d).listFiles().filter(_.getName.endsWith(".json"))
      .map(f => f.getName -> SbomSources.detectFormatOf(spark, Files.readString(f.toPath))).toMap

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_sbom").toString
    Files.writeString(Paths.get(d, "service-a.json"), cdxDoc)
    Files.writeString(Paths.get(d, "service-b.json"), cdxDoc2)
    Files.writeString(Paths.get(d, "repo.json"), spdxDoc)
    d
  }

  test("wrapped SBOM (.sbom envelope) is unwrapped transparently") {
    val d = Files.createTempDirectory("graft_wrap").toString
    Files.writeString(Paths.get(d, "wrapped.json"), s"""{"sbom": $cdxDoc}""")
    Files.writeString(Paths.get(d, "plain.json"), cdxDoc2)
    val docs = SbomSources.readCycloneDx(spark, d)
    assert(docs.count() === 2)
    val flat = SbomSources.flattenCycloneDx(docs)
    assert(flat.count() === 5)
    assert(flat.filter(col("source") === "service-a").count() === 4)
    assert(flat.filter(col("source") === "service-b").count() === 1)
  }

  test("corrupt JSON files are skipped, not fatal (reference: 'Skipping - not valid JSON')") {
    val d = Files.createTempDirectory("graft_corrupt").toString
    Files.writeString(Paths.get(d, "good.json"), cdxDoc)
    Files.writeString(Paths.get(d, "corrupt.json"), "{not json at all!!")
    val flat = SbomSources.flattenCycloneDx(SbomSources.readCycloneDx(spark, d))
    // only the valid document's components flow through
    assert(flat.count() === 4)
    val fmts = formatsIn(d)
    assert(fmts("good.json") === "cyclonedx")
    assert(fmts("corrupt.json") === "spdxjson") // the reference's default fallback
  }

  test("streaming ingestion: new SBOM files flow through the flatten pipeline incrementally") {
    import org.apache.spark.sql.streaming.OutputMode
    val in = Files.createTempDirectory("graft_stream_in").toString
    Files.writeString(Paths.get(in, "service-a.json"), cdxDoc)
    val q = SbomSources.flattenCycloneDx(SbomSources.streamCycloneDx(spark, in))
      .writeStream.format("memory").queryName("sbom_stream")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("sbom_stream").count() === 4)
      Files.writeString(Paths.get(in, "service-b.json"), cdxDoc2)
      q.processAllAvailable()
      val rows = spark.table("sbom_stream").collect()
      assert(rows.length === 5)
      assert(rows.map(_.getAs[String]("source")).toSet === Set("service-a", "service-b"))
    } finally q.stop()
  }

  test("format detection over real JSON files") {
    val formats = formatsIn(dir)
    assert(formats("service-a.json") === "cyclonedx")
    assert(formats("service-b.json") === "cyclonedx")
    assert(formats("repo.json") === "spdxjson")
  }

  test("SWID documents (SoftwareIdentity) are detected as swid") {
    val d = Files.createTempDirectory("graft_swid").toString
    Files.writeString(Paths.get(d, "tag.json"),
      """{"SoftwareIdentity": {"name": "acme-app", "tagId": "abc-123"}}""")
    Files.writeString(Paths.get(d, "repo.json"), spdxDoc)
    val formats = formatsIn(d)
    assert(formats("tag.json") === "swid")
    assert(formats("repo.json") === "spdxjson")
  }

  test("one-scan detection: a type-mismatched field nulls only itself") {
    val d = Files.createTempDirectory("graft_detect_mismatch").toString
    val docs = mismatched
    docs.foreach { case (f, json) => Files.writeString(Paths.get(d, f), json) }
    val formats = formatsIn(d)
    assert(formats.keySet === docs.map(_._1).toSet)
    formats.foreach { case (f, fmt) => assert(fmt === f.takeWhile(_ != '-'), f) }
    // every fixture is decided without a job
    docs.foreach { case (f, json) =>
      var fmt: String = null
      assert(jobsOf { fmt = SbomSources.detectFormatOf(spark, json) } === 0, f)
      assert(fmt === f.takeWhile(_ != '-'), f)
    }
    assert(SbomSources.detectFormatOf(spark, cdxDoc) === "cyclonedx")
    assert(SbomSources.detectFormatOf(spark, spdxDoc) === "spdxjson")
    assert(SbomSources.detectFormatOf(spark, "{not json at all!!") === "spdxjson")
  }

  test("source-ref strategies 4 and 5: top-level name, then tools-name hint with denylist") {
    val d = Files.createTempDirectory("graft_srcref").toString
    // strategy 4: no metadata names at all, but a top-level .name
    Files.writeString(Paths.get(d, "toplevel.json"), topLevelNamed)
    // strategy 5: only tools names, the first two denylisted generators
    Files.writeString(Paths.get(d, "toolsonly.json"), toolsOnly)
    // strategy 6: nothing usable → filename fallback
    Files.writeString(Paths.get(d, "barefile.json"), bareFile)
    val flat = SbomSources.flattenCycloneDx(SbomSources.readCycloneDx(spark, d))
      .collect().map(r => r.getAs[String]("name") -> r.getAs[String]("source")).toMap
    assert(flat("libx") === "named-at-top")
    assert(flat("liby") === "wiz-scanner")
    assert(flat("libz") === "barefile")
  }

  test("cyclonedx flatten applies the license fallback chain") {
    val flat = SbomSources.flattenCycloneDx(
      SbomSources.readCycloneDx(spark, s"$dir/service-a.json"))
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[String]("license"), r.getAs[String]("source"))).toMap
    assert(flat("libfoo") === (("MIT", "service-a")))
    assert(flat("libbar") === (("Apache-2.0 OR MIT", "service-a")))
    assert(flat("libbaz") === (("BSD-3-Clause", "service-a")))
    assert(flat("mystery") === (("unknown", "service-a")))
  }

  test("spdx flatten uses concluded then declared") {
    val flat = SbomSources.flattenSpdx(SbomSources.readSpdx(spark, s"$dir/repo.json"))
      .collect().map(r => r.getAs[String]("name") -> r.getAs[String]("license")).toMap
    assert(flat === Map("pkg-one" -> "GPL-3.0", "pkg-two" -> "ISC"))
  }

  test("SPDX→CycloneDX conversion: compatibility walk + emitted doc re-reads as CycloneDX") {
    val d = Files.createTempDirectory("graft_convert").toString
    Files.writeString(Paths.get(d, "repo.json"), spdxRefs)
    val fixed = SbomSources.fixSpdxCompatibility(SbomSources.readSpdx(spark, d))
    val cats = fixed.select(explode(col("packages")).as("p"))
      .select(explode(col("p.externalRefs")).as("r"))
      .select(col("r.referenceCategory")).collect().map(_.getString(0)).toSeq.sorted
    assert(cats === Seq("OTHER", "PACKAGE_MANAGER"))

    // convert and re-read the emitted JSON through the CycloneDX reader path
    val converted = SbomSources.convertSpdxToCycloneDx(fixed)
    val outDir = Files.createTempDirectory("graft_converted").toString
    converted.collect().zipWithIndex.foreach { case (r, i) =>
      Files.writeString(Paths.get(outDir, s"conv$i.json"), r.getAs[String]("cdx_json"))
    }
    val flat = SbomSources.flattenCycloneDx(SbomSources.readCycloneDx(spark, outDir))
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[String]("version"), r.getAs[String]("license"), r.getAs[String]("source"))).toMap
    assert(flat("pkg-one") === (("4.5", "GPL-3.0", "repo-sbom")))
    assert(flat("pkg-two") === (("unknown", "ISC", "repo-sbom")))
  }

  test("CycloneDX→SPDX conversion round-trips through the SPDX reader") {
    val converted = SbomSources.convertCycloneDxToSpdx(
      SbomSources.readCycloneDx(spark, s"$dir/service-a.json"))
    val outDir = Files.createTempDirectory("graft_cdx2spdx").toString
    converted.collect().zipWithIndex.foreach { case (r, i) =>
      Files.writeString(Paths.get(outDir, s"conv$i.json"), r.getAs[String]("spdx_json"))
    }
    val flat = SbomSources.flattenSpdx(SbomSources.readSpdx(spark, outDir))
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[String]("license"), r.getAs[String]("source"))).toMap
    assert(flat("libfoo") === (("MIT", "service-a")))
    assert(flat("libbar") === (("Apache-2.0 OR MIT", "service-a")))
    assert(flat("mystery") === (("NOASSERTION", "service-a")))
  }

  test("the string parsers give the path readers' rows on every fixture") {
    val d = Files.createTempDirectory("graft_string_parse").toString
    val fixtures = Seq(
      "service-a.json" -> cdxDoc, "service-b.json" -> cdxDoc2, "repo.json" -> spdxDoc,
      "wrapped.json" -> s"""{"sbom": $cdxDoc}""", "toplevel.json" -> topLevelNamed,
      "toolsonly.json" -> toolsOnly, "barefile.json" -> bareFile, "refs.json" -> spdxRefs,
      "tag.json" -> """{"SoftwareIdentity": {"name": "acme-app", "tagId": "abc-123"}}""",
      "corrupt.json" -> "{not json at all!!") ++ mismatched
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    fixtures.foreach { case (f, json) =>
      val path = Paths.get(d, f)
      Files.writeString(path, json)
      val file = path.toUri.toString
      val (cdxFile, cdxString) =
        (SbomSources.readCycloneDx(spark, path.toString), SbomSources.cycloneDxOf(spark, json, file))
      val (spdxFile, spdxString) =
        (SbomSources.readSpdx(spark, path.toString), SbomSources.spdxOf(spark, json, file))
      assert(rows(SbomSources.flattenCycloneDx(cdxString)) ===
        rows(SbomSources.flattenCycloneDx(cdxFile)), f)
      assert(rows(SbomSources.flattenSpdx(spdxString)) ===
        rows(SbomSources.flattenSpdx(spdxFile)), f)
      assert(rows(SbomSources.convertCycloneDxToSpdx(cdxString).select("spdx_json")) ===
        rows(SbomSources.convertCycloneDxToSpdx(cdxFile).select("spdx_json")), f)
      def toCdx(docs: org.apache.spark.sql.DataFrame) = SbomSources.convertSpdxToCycloneDx(
        SbomSources.fixSpdxCompatibility(docs)).select("cdx_json")
      assert(rows(toCdx(spdxString)) === rows(toCdx(spdxFile)), f)
    }
    // strategy 6 names the document after `_file`
    assert(SbomSources.flattenCycloneDx(SbomSources.cycloneDxOf(spark, bareFile, "s3://b/k/art.json"))
      .head().getAs[String]("source") === "art")
  }

  test("merge dedups by name@version#purl^source; mapping fills unknown; sink round-trips sorted") {
    val a = SbomSources.flattenCycloneDx(SbomSources.readCycloneDx(spark, s"$dir/service-a.json"))
    val b = SbomSources.flattenCycloneDx(SbomSources.readCycloneDx(spark, s"$dir/service-b.json"))
    val merged = SbomSources.mergeComponents(a, b)
    // libfoo appears in both docs with different sources → both kept
    assert(merged.filter(col("name") === "libfoo").count() === 2)
    assert(merged.count() === 5)
    // double merge of the same doc dedups to the same count
    assert(SbomSources.mergeComponents(a, a).count() === 4)

    val mapped = SbomSources.mapUnknownLicenses(merged, Map("mystery" -> "MIT"))
    assert(mapped.filter(col("name") === "mystery").head().getAs[String]("license") === "MIT")
    assert(mapped.filter(col("name") === "libbaz").head().getAs[String]("license") === "BSD-3-Clause")
    // every row with a known license passes through unchanged
    assert(mapped.filter(col("name") =!= "mystery").collect().toSet ===
      merged.filter(col("name") =!= "mystery").collect().toSet)

    val out = Files.createTempDirectory("graft_comp_table").toString
    SbomSources.writeComponentTable(mapped, out)
    val back = spark.read.parquet(out)
    assert(back.count() === 5)
    assert(back.columns.toSet === Set("name", "version", "license", "purl", "source"))
    assert(back.filter(col("source") === "service-b").count() === 1)
  }

  test("real license-mappings.json loads and applies through the unknown-license map") {
    import spark.implicits._
    val mappingsFile = "/root/reference/license-mappings.json"
    assume(Files.exists(Paths.get(mappingsFile)), "reference mappings file not present")
    val rows = SbomSources.licenseMappings(spark, mappingsFile)
    // the shipped file is a flat name → SPDX-id object with ~950 entries
    assert(rows.size > 900)
    assert(rows.values.forall(_.nonEmpty))
    // spot-check entries of each license family present in the file
    assert(rows.get("astro").contains("MIT"))
    assert(rows.get("boto3").contains("Apache-2.0"))
    assert(rows.get("certifi").contains("MPL-2.0"))

    val comps = Seq(
      ("astro", "4.0", "unknown", "repo-a", null: String),
      ("boto3", "1.34", null: String, "repo-a", null: String),
      ("certifi", "2024.2", "", "repo-a", null: String),
      ("astro", "4.0", "GPL-3.0", "repo-b", null: String), // known license untouched
      ("never-mapped", "0.1", "unknown", "repo-a", null: String))
      .toDF("name", "version", "license", "source", "purl")
    val mapped = SbomSources.mapUnknownLicenses(comps, rows)
      .collect().map(r => (r.getAs[String]("name"), r.getAs[String]("source")) ->
        r.getAs[String]("license")).toMap
    assert(mapped(("astro", "repo-a")) === "MIT")
    assert(mapped(("boto3", "repo-a")) === "Apache-2.0")
    assert(mapped(("certifi", "repo-a")) === "MPL-2.0")
    assert(mapped(("astro", "repo-b")) === "GPL-3.0")
    assert(mapped(("never-mapped", "repo-a")) === "unknown")
  }

  test("legacy table without source migrates with default 'unknown'; both generations query identically") {
    import spark.implicits._
    // a table written before source tracking existed (entrypoint.sh:130-163)
    val legacyDir = Files.createTempDirectory("graft_legacy").toString + "/components"
    Seq(("libfoo", "1.2.3", "MIT"), ("libbar", "0.9", "Apache-2.0"))
      .toDF("name", "version", "license")
      .write.parquet(legacyDir)

    // read-side shim: legacy generation gains source='unknown' on read
    val shimmed = SbomSources.readComponentTable(spark, legacyDir)
    assert(shimmed.columns.contains("source"))
    assert(shimmed.select("source").distinct().collect().map(_.getString(0)).toSeq === Seq("unknown"))
    // materialize before the migration rewrites the files underneath
    val shimmedRows = shimmed.orderBy("name").select("name", "version", "license").collect().toSeq

    // physical migration rewrites once, is a no-op after
    assert(SbomSources.migrateComponentTable(spark, legacyDir) === true)
    assert(SbomSources.migrateComponentTable(spark, legacyDir) === false)
    val migrated = spark.read.parquet(legacyDir)
    assert(migrated.columns.toSet === Set("name", "version", "license", "source"))

    // both generations produce identical query results
    val bySource = migrated.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource === Map("unknown" -> 2L))
    assert(migrated.orderBy("name").select("name", "version", "license").collect().toSeq ===
      shimmedRows)
  }

  test("setupAndInsert: create → append → truncate → migrate+append decision tree (entrypoint.sh:164-243)") {
    import spark.implicits._
    def comps(src: String, names: String*) =
      names.map(n => (n, "1.0", "MIT", src, null: String))
        .toDF("name", "version", "license", "source", "purl")
    val path = Files.createTempDirectory("graft_setup").toString + "/table"

    assert(SbomSources.setupAndInsert(spark, comps("a", "one", "two"), path, truncate = false) === "created")
    assert(spark.read.parquet(path).count() === 2)

    assert(SbomSources.setupAndInsert(spark, comps("b", "three"), path, truncate = false) === "appended")
    assert(spark.read.parquet(path).count() === 3)

    assert(SbomSources.setupAndInsert(spark, comps("c", "four"), path, truncate = true) === "truncated")
    val afterTruncate = spark.read.parquet(path)
    assert(afterTruncate.count() === 1)
    assert(afterTruncate.select("source").head().getString(0) === "c")

    // legacy table in the way → migrated, then appended
    val legacy = Files.createTempDirectory("graft_setup_legacy").toString + "/table"
    Seq(("old", "0.1", "ISC")).toDF("name", "version", "license").write.parquet(legacy)
    assert(SbomSources.setupAndInsert(spark, comps("d", "five"), legacy, truncate = false) === "migrated+appended")
    val both = spark.read.parquet(legacy)
    assert(both.count() === 2)
    assert(both.select("source").distinct().collect().map(_.getString(0)).toSet === Set("unknown", "d"))
  }

  test("component table files keep the table ORDER BY within each source partition") {
    import spark.implicits._
    val rows = for (src <- Seq("a", "b", "c"); n <- Seq("zeta", "alpha", "mu", "beta");
      v <- Seq("2.0", "1.0")) yield (n, v, if (n == "mu") null else "MIT", src, null: String)
    val path = Files.createTempDirectory("graft_sorted").toString + "/table"
    SbomSources.writeComponentTable(
      scala.util.Random.shuffle(rows).toDF("name", "version", "license", "source", "purl"), path)
    val files = Files.walk(Paths.get(path)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("/."))
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f).collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("version"),
          Option(r.getAs[String]("license")).getOrElse("")))
        .toSeq
      assert(keys === keys.sorted, f)
    }
  }

  test("readComponentTable: the inferred schema from one footer, without a Spark job") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_footer").toString + "/table"
    SbomSources.writeComponentTable(SbomSources.withInsertedAt(
      Seq(("one", "1.0", "MIT", "a", null: String), ("two", "2.0", "ISC", "b", "pkg:x"))
        .toDF("name", "version", "license", "source", "purl")), path)
    var read: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { read = SbomSources.readComponentTable(spark, path) } === 0)
    assert(read.schema === spark.read.parquet(path).schema)
    assert(read.collect().toSet === spark.read.parquet(path).collect().toSet)
    // a legacy table (no partitions) reads the same way
    val legacy = Files.createTempDirectory("graft_footer_legacy").toString + "/table"
    Seq(("old", "0.1", "ISC")).toDF("name", "version", "license").write.parquet(legacy)
    assert(SbomSources.readComponentTable(spark, legacy).schema ===
      SbomSources.upgradeLegacySchema(spark.read.parquet(legacy)).schema)
  }

  test("inserted_at audit column stamps each appended batch (DDL DEFAULT now() analog)") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_ins_at").toString + "/table"
    val batch1 = SbomSources.withInsertedAt(
      Seq(("one", "1.0", "MIT", "a", null: String))
        .toDF("name", "version", "license", "source", "purl"))
    SbomSources.writeComponentTable(batch1, path)
    Thread.sleep(5)
    val batch2 = SbomSources.withInsertedAt(
      Seq(("two", "2.0", "ISC", "b", null: String))
        .toDF("name", "version", "license", "source", "purl"))
    SbomSources.writeComponentTable(batch2, path, mode = "append")
    val back = spark.read.parquet(path)
    assert(back.columns.contains("inserted_at"))
    assert(back.count() === 2)
    assert(back.select("inserted_at").na.drop().count() === 2)
  }

  test("TSV escaping round-trips arbitrary dirty strings (property)") {
    import spark.implicits._
    // adversarial inputs: pre-escaped-looking sequences, runs of
    // backslashes, mixed control characters — escape-order bugs
    // (backslash not first) corrupt exactly these
    val nasties = Seq(
      "\\t", "\\\\t", "\\", "\\\\", "a\\\tb", "\t\t", "\r\n\r\n",
      "\\n\n", "end\\", "\\r\r", "a\tb\\nc\nd\\", "")
    val df = nasties.zipWithIndex
      .map { case (s, i) => (s"n$i$s", s"v$s", s"l$s", s"s$i", null: String) }
      .toDF("name", "version", "license", "source", "purl")
    val lines = SbomSources.toTsvLines(df).collect().map(_.getString(0))
    assert(lines.forall(_.split("\t", -1).length === 4))
    assert(lines.forall(l => !l.contains("\n") && !l.contains("\r")))
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case 't' => sb += '\t'; case 'n' => sb += '\n'
            case 'r' => sb += '\r'; case '\\' => sb += '\\'
            case other => sb += '\\' += other
          }
          i += 2
        } else { sb += s(i); i += 1 }
      }
      sb.toString
    }
    val decoded = lines.map(_.split("\t", -1).take(3).map(unescape).toSeq).toSet
    val expected = df.collect().map(r => Seq(r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(decoded === expected)
  }

  test("TSV insert lines escape backslash/tab/newline and stay 4-field parseable") {
    import spark.implicits._
    val comps = Seq(
      ("lib\twith\ttabs", "1.0", "MIT", "src-a", null: String),
      ("multi\nline", "2.0\r\n", "Apa\\che", "src-b", null: String),
      ("plain", "3.0", "BSD-3-Clause", "src-c", null: String))
      .toDF("name", "version", "license", "source", "purl")
    val lines = SbomSources.toTsvLines(comps).collect().map(_.getString(0))
    // every line still splits into exactly the 4 insert columns
    assert(lines.forall(_.split("\t", -1).length === 4))
    // no raw newlines survive inside a line (they would split rows)
    assert(lines.forall(l => !l.contains("\n") && !l.contains("\r")))
    // unescape (reverse order: sentinel-free because escape did backslash first)
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case 't' => sb += '\t'; case 'n' => sb += '\n'
            case 'r' => sb += '\r'; case '\\' => sb += '\\'
            case other => sb += '\\' += other
          }
          i += 2
        } else { sb += s(i); i += 1 }
      }
      sb.toString
    }
    val decoded = lines.map(_.split("\t", -1).map(unescape))
    val expected = comps.collect().map(r => Array(r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(decoded.map(_.toSeq).toSet === expected.map(_.toSeq).toSet)
  }

  test("gzip-compressed SBOM documents ingest transparently (wiz.sh gzip handling)") {
    val d = Files.createTempDirectory("graft_gz").toString
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(Paths.get(d, "service-a.json.gz")))
    gz.write(cdxDoc.getBytes("UTF-8")); gz.close()
    Files.writeString(Paths.get(d, "service-b.json"), cdxDoc2) // mixed plain + gz
    val flat = SbomSources.flattenCycloneDx(SbomSources.readCycloneDx(spark, d))
    assert(flat.count() === 5)
    val bySource = flat.collect().groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(bySource === Map("service-a" -> 4, "service-b" -> 1))
  }

  test("local merge assembles a deduped CycloneDX envelope with the ClickBOM tool stamp") {
    val merged = SbomSources.mergeLocalCycloneDx(spark, dir).head().getAs[String]("merged_json")
    val parsed = spark.read.json(spark.createDataset(Seq(merged))(org.apache.spark.sql.Encoders.STRING))
    val row = parsed.select(
      col("bomFormat"), col("specVersion"),
      col("metadata.tools").getItem(0).getField("vendor"),
      col("metadata.tools").getItem(0).getField("name"),
      col("metadata.component.name"),
      size(col("components"))).head()
    assert(row.getString(0) === "CycloneDX")
    assert(row.getString(1) === "1.6")
    assert(row.getString(2) === "ClickBOM")
    assert(row.getString(3) === "cyclonedx-merge")
    assert(row.getString(4) === "wiz-merged-sbom")
    // service-a(4) + service-b(1, libfoo dup under a different source kept — unique_by
    // includes source, sbom-merging.sh:491) = 5 unique components
    assert(row.getInt(5) === 5)
  }

  test("compaction bin-packs small partition files without changing content") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/table"
    def batch(tag: String) = Seq(
      (s"lib-$tag-b", "1.0", "MIT", "gh"),
      (s"lib-$tag-a", "2.0", "Apache-2.0", "gh"),
      (s"lib-$tag-c", "1.1", "MIT", "wiz"))
      .toDF("name", "version", "license", "source")
    // three appended insert batches → several small files per partition
    SbomSources.writeComponentTable(batch("x"), dir)
    SbomSources.writeComponentTable(batch("y"), dir, mode = "append")
    SbomSources.writeComponentTable(batch("z"), dir, mode = "append")
    def partFiles(src: String): Int =
      new java.io.File(s"$dir/source=$src").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = spark.read.parquet(dir).collect().map(_.toSeq.toList).toSet
    val filesBefore = partFiles("gh")
    assert(filesBefore >= 3, "appends must have accumulated small files")
    val report = SbomSources.compactComponentTable(spark, dir)
    assert(report.nonEmpty)
    report.foreach { case (_, nb, na) => assert(na < nb) }
    assert(partFiles("gh") === 1, "small batches pack into one target-size file")
    // content identical after the swap
    val after = spark.read.parquet(dir).collect().map(_.toSeq.toList).toSet
    assert(after === before)
    // idempotent: a second pass finds nothing to merge
    assert(SbomSources.compactComponentTable(spark, dir).isEmpty)
  }

  test("sbom_diff: statuses partition the scan union; version changes only in the bump cohort") {
    val rows = graft.sbom.Sbom.diff.build(sf0001).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_components")).toMap
    val total = sf0001.part.count()
    val removed10 = sf0001.part.filter(col("p_partkey") % 10 === 3).count() // dropped from new
    val added10 = sf0001.part.filter(col("p_partkey") % 10 === 7).count()   // absent from old
    assert(rows.getOrElse("removed", 0L) === removed10 -
      sf0001.part.filter(col("p_partkey") % 10 === 3 && col("p_partkey") % 10 === 7).count())
    assert(rows.getOrElse("added", 0L) === added10)
    assert(rows.values.sum === total) // every component classified exactly once
  }

  test("sbom_fuzzy_match: every component reconciles; exact class = unmodified names") {
    val rows = graft.sbom.Sbom.fuzzyMatch.build(sf0001).collect()
      .map(r => r.getAs[String]("match_class") -> r.getAs[Long]("n_components")).toMap
    val total = sf0001.part.count()
    assert(rows.values.sum === total, "normalization must reconcile every variant")
    // comp_id % 3 == 2 keeps the raw name — but a spaceless name is also
    // unchanged by the variant rules, so 'exact' is at least that floor
    assert(rows.getOrElse("exact", 0L) >=
      sf0001.part.filter(col("p_partkey") % 3 === 2).count())
  }
}
