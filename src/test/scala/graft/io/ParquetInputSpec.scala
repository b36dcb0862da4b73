package graft.io

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkTestBase}

/** [[ParquetInput]]: the kept schema is Spark's own inferred schema, a
  * changed file or a changed parquet setting re-infers it, and a repeated
  * build of a registered query starts no schema-inference job. */
class ParquetInputSpec extends SparkTestBase {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withTempDir[T](body: String => T): T = {
    val d = Files.createTempDirectory("graft_parquet_input_")
    try body(d.toString)
    finally {
      import scala.jdk.CollectionConverters._
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
  }

  /** The one part file of a single-partition parquet write. */
  private def partFile(dir: String): String = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 1, s"expected one part file in $dir")
    parts.head.getPath
  }

  /** A one-row parquet file written without Spark's schema in its footer,
    * so Spark derives the type from the parquet type and its settings. */
  private def writeRaw(path: String, message: String)(
      row: org.apache.parquet.example.data.Group => Unit): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      row(g)
      w.write(g)
    } finally w.close()
  }

  test("the schema is Spark's inferred schema for a file and a flat directory, " +
      "nanosAsLong on and off") {
    withTempDir { tmp =>
      val dir = s"$tmp/flat"
      spark.range(20).select(col("id"), col("id").cast("string").alias("s"),
        (col("id") * 1.5).alias("d"), array(col("id").cast("float")).alias("a"),
        struct(col("id").alias("x")).alias("st"),
        expr("timestamp_ntz'2024-01-01 00:00:00'").alias("ntz"),
        expr("timestamp'2024-01-01 00:00:00'").alias("tz"))
        .coalesce(1).write.parquet(dir)
      for (nanos <- Seq("true", "false"); path <- Seq(dir, partFile(dir)))
        withConf(NanosAsLong -> nanos) {
          val want = spark.read.parquet(path)
          assert(ParquetInput.schema(spark, path) == want.schema, s"$path, nanosAsLong=$nanos")
          assert(ParquetInput.schema(spark, path) == want.schema, s"$path kept, nanosAsLong=$nanos")
          assert(ParquetInput.read(spark, path).collect().toSeq == want.collect().toSeq)
        }
    }
  }

  test("an overwrite with another schema and a toggled parquet setting are " +
      "seen on the next read") {
    withTempDir { tmp =>
      val dir = s"$tmp/flat"
      spark.range(3).select(col("id")).write.parquet(dir)
      assert(ParquetInput.schema(spark, dir).fieldNames.toSeq == Seq("id"))
      spark.range(3).select(col("id").cast("int").alias("x"), lit("a").alias("y"))
        .write.mode("overwrite").parquet(dir)
      assert(ParquetInput.schema(spark, dir) == spark.read.parquet(dir).schema)
      assert(ParquetInput.schema(spark, dir).fieldNames.toSeq == Seq("x", "y"))

      // one file path overwritten in place
      spark.range(3).select(col("id")).coalesce(1).write.parquet(s"$tmp/a")
      spark.range(3).select(col("id").cast("string").alias("z"))
        .coalesce(1).write.parquet(s"$tmp/b")
      val file = s"$tmp/one.parquet"
      Files.copy(JPath.of(partFile(s"$tmp/a")), JPath.of(file))
      assert(ParquetInput.schema(spark, file).fieldNames.toSeq == Seq("id"))
      Files.copy(JPath.of(partFile(s"$tmp/b")), JPath.of(file),
        StandardCopyOption.REPLACE_EXISTING)
      assert(ParquetInput.schema(spark, file).fieldNames.toSeq == Seq("z"))

      // an unannotated BINARY column reads as a string under binaryAsString
      val bin = s"$tmp/bin.parquet"
      writeRaw(bin, "message m { required binary b; }")(_.append("b", "x"))
      def bType = ParquetInput.schema(spark, bin)("b").dataType
      assert(bType == BinaryType)
      withConf("spark.sql.parquet.binaryAsString" -> "true") {
        assert(bType == StringType)
      }
      assert(bType == BinaryType)

      val nanos = s"$tmp/nanos.parquet"
      writeRaw(nanos, "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")(
        _.append("ts", 1700000000123456789L))
      withConf(NanosAsLong -> "true") {
        assert(ParquetInput.schema(spark, nanos)("ts").dataType == LongType)
      }
      withConf(NanosAsLong -> "false") {
        val want = Try(spark.read.parquet(nanos).schema)
        val got = Try(ParquetInput.schema(spark, nanos))
        assert(got.map(_("ts").dataType) != scala.util.Success(LongType))
        assert(got.isSuccess == want.isSuccess && got.toOption == want.toOption)
      }
    }
  }

  test("a partitioned directory is refused") {
    withTempDir { tmp =>
      spark.range(4).select(col("id"), (col("id") % 2).alias("p"))
        .write.partitionBy("p").parquet(s"$tmp/parted")
      val e = intercept[IllegalArgumentException](
        ParquetInput.schema(spark, s"$tmp/parted"))
      assert(e.getMessage.contains("partitioned"))
    }
  }

  test("a second build of q_asof, q_holt_exact and q_repetition starts no Spark job") {
    import spark.implicits._
    withTempDir { dir =>
      (0 until 200).map { i =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 60 % 24}%02d:${i % 60}%02d:00"),
          (i % 5).toLong, if (i % 3 == 0) "purchase" else "click", i * 1.25, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      (0 until 8).map { i =>
        (i.toLong, s"the cat sat on the mat $i\nthe cat sat on the mat\nline ${i % 3}",
          "en", "web", 40L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      // `events` turns nanosAsLong on for the session; put it back afterwards
      withConf(NanosAsLong -> "true") {
        for (q <- Seq("q_asof", "q_holt_exact", "q_repetition")) {
          val first = SparkEntry.queries(q)(spark, dir)
          val (second, jobs) = jobsDuring(SparkEntry.queries(q)(spark, dir))
          assert(jobs == 0, s"the second build of $q started $jobs Spark job(s)")
          assert(second.collect().toSet == first.collect().toSet, q)
        }
      }
    }
  }
}
