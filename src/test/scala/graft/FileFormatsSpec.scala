package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileSources

/** Schema-first JSONL/CSV readers: malformed lines quarantine into the
  * corrupt-record column (never fatal, never silently dropped), and
  * text with embedded newlines / quotes survives the formats that can
  * carry it.
  */
class FileFormatsSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  test("jsonl: malformed lines land in _corrupt_record, good lines parse") {
    val f = java.nio.file.Paths.get(tmp("graft-jsonl"), "mixed.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "good line"}
        |this is not json at all
        |{"doc_id": 2, "text": "another good line"}
        |{"doc_id": 3, "text": "unterminated
        |""".stripMargin)

    val back = FileSources.readJsonLines(spark, f.toString, docSchema)
      .persist() // corrupt-column-only projections need the full parse
    val corrupt = back.filter(col(FileSources.CorruptCol).isNotNull)
    assert(corrupt.count() == 2)
    assert(corrupt.select(FileSources.CorruptCol).collect()
      .map(_.getString(0)).contains("this is not json at all"))
    val good = back.filter(col(FileSources.CorruptCol).isNull)
    assert(good.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    back.unpersist()
  }

  test("csv: wrong-arity lines quarantine, good lines parse") {
    val f = java.nio.file.Paths.get(tmp("graft-csv"), "mixed.csv")
    java.nio.file.Files.writeString(f,
      """doc_id,text
        |1,alpha
        |not_a_long,beta
        |2,gamma
        |""".stripMargin)
    val back = FileSources.readCsv(spark, f.toString, docSchema).persist()
    assert(back.filter(col(FileSources.CorruptCol).isNotNull).count() == 1)
    assert(back.filter(col(FileSources.CorruptCol).isNull)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    back.unpersist()
  }

  test("jsonl round-trips text with newlines, quotes, and control chars") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "line one\nline two"),
      (2L, "says \"hi\" , and, commas"),
      (3L, "tab\there nul>\u0000< bell>\u0007<"),
      (4L, ""))
    val df = nasty.toDF("doc_id", "text")
    val out = tmp("graft-jsonl-rt") + "/docs"
    FileSources.writeJsonLines(df, out)
    val got = FileSources.readJsonLines(spark, out, df.schema)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == nasty)
  }

  test("avro round-trips scalars, nulls, binary, and nasty text across partitions") {
    import graft.sources.AvroIO
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = false),
      StructField("blob", BinaryType, nullable = true)))
    val rows = Seq(
      Row(1L, "plain", 1.5, true, Array[Byte](1, 2, 3)),
      Row(2L, null, null, false, null),
      Row(3L, "new\nline \"quote\" é中\u0000", -0.0, true, Array[Byte]()),
      Row(4L, "", Double.MaxValue, false, Array.tabulate[Byte](64)(_.toByte)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val out = tmp("graft-avro-rt") + "/mixed"
    AvroIO.writeAvro(df, out)
    // one container file per NON-EMPTY partition (3 rows may hash to
    // fewer than 3 partitions; at least one file exists)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty && files.length <= 3)
    val got = AvroIO.readAvro(spark, out, schema).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3),
        Option(r.getAs[Array[Byte]](4)).map(_.toSeq)))
      .sortBy(_._1).toSeq
    val want = rows.map(r => (r.getLong(0), Option(r.getString(1)),
      Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3),
      Option(r.getAs[Array[Byte]](4)).map(_.toSeq)))
    assert(got == want)
    // unsupported column types fail fast at schema mapping, not mid-write
    intercept[IllegalArgumentException] {
      AvroIO.avroSchemaJson(StructType(Seq(
        StructField("ts", TimestampType, nullable = true))))
    }
    // commit protocol: every task renamed its attempt temp into place —
    // nothing hidden survives a successful job
    val leftovers = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith(".") || f.getName.endsWith(".tmp"))
      .filterNot(_.getName.endsWith(".crc")) // hadoop local-fs checksums
    assert(leftovers.isEmpty, leftovers.map(_.getName).mkString(", "))
    // and a crashed attempt's leftover temp is INVISIBLE to readers
    // (dot-prefix → FileInputFormat's hidden-file filter): plant one
    // and re-read — same rows
    val junk = new java.io.File(out, ".part-99999.avro.attempt-7.tmp")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    val got2 = AvroIO.readAvro(spark, out, schema).count()
    assert(got2 == rows.length)
    junk.delete()
  }

  test("csv multiLine=true round-trips embedded newlines (non-splittable path)") {
    import spark.implicits._
    val rows = Seq((1L, "first\nsecond"), (2L, "with \"quotes\""))
    val df = rows.toDF("doc_id", "text")
    val out = tmp("graft-csv-ml") + "/docs"
    FileSources.writeCsv(df, out)
    val got = FileSources.readCsv(spark, out, df.schema, multiLine = true)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == rows)
  }

  test("round-trip scratch paths live under this JVM's own temp root") {
    import graft.queries.FileFormats.{scratch, scratchRoot}
    val root = scratchRoot
    assert(java.nio.file.Files.isDirectory(root))
    assert(root.getParent == java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    for (d <- Seq(TestSpark.sf0001, "/some/other/sf"))
      assert(java.nio.file.Paths.get(scratch(d, "docs_csv")).startsWith(root))
    assert(scratch(TestSpark.sf0001, "a") != scratch("/some/other/sf", "a"))
  }
}
