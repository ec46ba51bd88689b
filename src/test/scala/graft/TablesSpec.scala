package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.types.StructType

/** [[Tables.open]] gives the schema `spark.read.parquet` infers, read from
  * one footer on the driver, and fires no Spark job doing it; where only
  * inference can tell (merged schemas, a file column named like a
  * partition directory) it takes the inference path.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withTempDir[A](f: Path => A): A = {
    val dir = Files.createTempDirectory("tables-open")
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** The opened schema equals inference's, and opening fires no job. */
  private def assertOpensLikeInference(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    var opened: StructType = null
    assert(jobsOf { opened = Tables.open(spark, path).schema } === 0, path)
    assert(opened === inferred, path)
  }

  test("every sf0.001 table opens to inference's schema without a Spark job") {
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      names.foreach(n => assertOpensLikeInference(s"$sf/$n.parquet"))
    }
  }

  test("the Tables accessors fire no Spark job") {
    val t = Tables(spark, sf)
    val accessors = Seq[(String, () => Any)](
      "region" -> (() => t.region), "nation" -> (() => t.nation),
      "customer" -> (() => t.customer), "supplier" -> (() => t.supplier),
      "part" -> (() => t.part), "orders" -> (() => t.orders),
      "lineitem" -> (() => t.lineitem), "documents" -> (() => t.documents),
      "embeddings" -> (() => t.embeddings), "events" -> (() => t.events))
    accessors.foreach { case (n, read) => assert(jobsOf { read(); () } === 0, n) }
    // the normalized events.ts is the session timestamp either way
    assert(t.events.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
  }

  test("Spark-written copies, multi-file and partitioned, open to inference's schema") {
    withTempDir { dir =>
      names.foreach { n =>
        val out = dir.resolve(n).toString
        spark.read.parquet(s"$sf/$n.parquet").repartition(3).write.parquet(out)
        assertOpensLikeInference(out)
      }
      val parted = dir.resolve("orders_by_status").toString
      spark.read.parquet(s"$sf/orders.parquet").write.partitionBy("o_orderstatus").parquet(parted)
      assertOpensLikeInference(parted)
      assert(Tables.open(spark, parted).columns.last === "o_orderstatus")
    }
  }

  test("a summary file decides the schema: _common_metadata, else _metadata") {
    import spark.implicits._
    withTempDir { dir =>
      def firstFile(df: org.apache.spark.sql.DataFrame, name: String): Path = {
        val out = dir.resolve(name)
        df.coalesce(1).write.parquet(out.toString)
        Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      }
      val table = dir.resolve("table")
      Files.createDirectories(table)
      Files.copy(firstFile(Seq((1L, "a")).toDF("a", "b"), "data"), table.resolve("part-0.parquet"))
      // each summary holds a wider schema than the data file, so reading
      // the wrong footer shows
      Files.copy(firstFile(Seq((1L, "a", 2.0)).toDF("a", "b", "d"), "meta"),
        table.resolve("_metadata"))
      assertOpensLikeInference(table.toString)
      assert(Tables.open(spark, table.toString).columns.toSeq === Seq("a", "b", "d"))
      Files.copy(firstFile(Seq((1L, "a", 3)).toDF("a", "b", "c"), "common"),
        table.resolve("_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
      assertOpensLikeInference(table.toString)
      assert(Tables.open(spark, table.toString).columns.toSeq === Seq("a", "b", "c"))
    }
  }

  test("footers without a Spark schema convert under the session's settings") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    withTempDir { dir =>
      val schema = MessageTypeParser.parseMessageType(
        """message m {
          |  required int64 ts (TIMESTAMP(NANOS,false));
          |  optional binary raw;
          |  optional binary name (STRING);
          |  optional int96 legacy;
          |}""".stripMargin)
      val file = dir.resolve("t").resolve("part-0.parquet")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("ts", 1700000000123456789L)
        .append("raw", Binary.fromString("x"))
        .append("name", Binary.fromString("y"))
        .append("legacy", Binary.fromConstantByteArray(new Array[Byte](12))))
      finally w.close()
      val path = file.getParent.toString
      for (bin <- Seq("true", "false"); ntz <- Seq("true", "false"))
        withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true",
          "spark.sql.parquet.binaryAsString" -> bin,
          "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
          assertOpensLikeInference(path)
        }
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
        assert(Tables.open(spark, path).schema("ts").dataType ===
          org.apache.spark.sql.types.LongType)
      }
      // nanos without nanosAsLong, or int96 not read as a timestamp: the
      // footer does not convert, and the error is inference's own
      for (conf <- Seq("spark.sql.legacy.parquet.nanosAsLong" -> "false",
        "spark.sql.parquet.int96AsTimestamp" -> "false"))
        withConf(("spark.sql.legacy.parquet.nanosAsLong" -> "true") +: Seq(conf): _*) {
          val inferred = intercept[Exception](spark.read.parquet(path))
          val opened = intercept[Exception](Tables.open(spark, path))
          assert(opened.getClass === inferred.getClass, conf)
          assert(opened.getMessage === inferred.getMessage, conf)
        }
    }
  }

  test("mergeSchema takes the inference path and gives inference's schema") {
    import spark.implicits._
    withTempDir { dir =>
      val out = dir.resolve("merged").toString
      Seq((1L, "a")).toDF("a", "b").write.parquet(out)
      Seq((2L, 3)).toDF("a", "c").write.mode("append").parquet(out)
      withConf("spark.sql.parquet.mergeSchema" -> "true") {
        val inferred = spark.read.parquet(out).schema
        assert(inferred.fieldNames.toSeq.sorted === Seq("a", "b", "c"))
        var opened: StructType = null
        assert(jobsOf { opened = Tables.open(spark, out).schema } > 0)
        assert(opened === inferred)
      }
      assertOpensLikeInference(out)
    }
  }

  test("a file column named like its partition directory keeps inference's order") {
    import spark.implicits._
    withTempDir { dir =>
      Seq((1, "x")).toDF("k", "v").write.parquet(dir.resolve("t").resolve("k=1").toString)
      val path = dir.resolve("t").toString
      assert(Tables.open(spark, path).schema === spark.read.parquet(path).schema)
      assert(Tables.open(spark, path).columns.toSeq === Seq("k", "v"))
    }
  }

  test("a missing path fails the way inference does") {
    val path = Paths.get(sf, "no_such_table.parquet").toString
    val inferred = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(path))
    val opened = intercept[org.apache.spark.sql.AnalysisException](Tables.open(spark, path))
    assert(opened.getCondition === inferred.getCondition)
  }
}
