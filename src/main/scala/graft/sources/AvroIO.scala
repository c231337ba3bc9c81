package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file interchange — the remaining row-oriented format a
  * data-engineering estate hands off (Kafka archives, Hive row tables,
  * schema-registry pipelines).
  *
  * The `spark-avro` datasource module is not resolvable in this
  * zero-egress build (only the core `avro` + `avro-mapred` jars ship
  * with Spark), so this is a direct implementation over the public
  * Avro generic API — and it keeps the properties that matter at
  * 100 TB:
  *
  *  - WRITE: one container file per task, streamed through the Hadoop
  *    FileSystem API with the DRIVER'S configuration serialized to
  *    tasks (works on HDFS/object stores, not just local), records
  *    appended through `DataFileWriter` with the schema mapped once
  *    from the DataFrame's StructType. No driver involvement, no
  *    collect. Tasks write attempt-unique hidden temp files and
  *    rename-commit on success, so retries, speculative twins, and
  *    zombie attempts can never interleave one stream, and failed
  *    jobs leave nothing a reader can see.
  *  - READ: `AvroKeyInputFormat` (avro-mapred) via
  *    `newAPIHadoopFile` — container files are BLOCK-SPLITTABLE at
  *    their sync markers, so read parallelism follows bytes, not file
  *    count, exactly like the parquet scan path. Records are converted
  *    to Rows immediately inside the map (the record reader reuses its
  *    datum object; nothing escapes unconverted).
  *
  * Schema subset: the scalar interchange types (long, int, double,
  * float, boolean, string, binary), nullable as union(null, T).
  * Nested/temporal columns should go through parquet/ORC/JSONL — this
  * is the row-interchange path, not the lake format.
  */
object AvroIO {

  /** Java-serializable carrier for the session Hadoop configuration
    * (the standard writeObject/readFields pattern): tasks must resolve
    * the output FileSystem with the SAME conf the driver used —
    * a fresh `new Configuration()` on executors drops programmatic
    * settings (fs.defaultFS, object-store credentials), so on
    * HDFS/object-store deployments tasks could write to a different or
    * unauthenticated filesystem than the driver prepared (ADVICE r11).
    */
  private class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Map a flat StructType to the Avro record schema JSON. */
  def avroSchemaJson(schema: StructType): String = {
    def prim(dt: DataType): String = dt match {
      case LongType => "\"long\""
      case IntegerType => "\"int\""
      case DoubleType => "\"double\""
      case FloatType => "\"float\""
      case BooleanType => "\"boolean\""
      case StringType => "\"string\""
      case BinaryType => "\"bytes\""
      case other => throw new IllegalArgumentException(
        s"AvroIO supports flat scalar columns only, got $other " +
          "(route nested/temporal columns through parquet/ORC/JSONL)")
    }
    val fields = schema.fields.map { f =>
      require(f.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"avro field name must be an identifier, got '${f.name}'")
      val t = if (f.nullable) s"""["null", ${prim(f.dataType)}]""" else prim(f.dataType)
      s"""{"name": "${f.name}", "type": $t}"""
    }
    s"""{"type": "record", "name": "graft_record",
       |"fields": [${fields.mkString(", ")}]}""".stripMargin
  }

  /** Write `df` as one Avro container file per partition under `path`
    * (cleared first — overwrite semantics, like the other sinks here).
    */
  def writeAvro(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val schemaJson = avroSchemaJson(df.schema)
    val width = df.schema.length
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    fs.mkdirs(root)
    // the driver's conf rides to tasks — executors must hit the SAME
    // filesystem/credentials the delete/mkdirs above ran against
    val serConf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    df.rdd.foreachPartition { it =>
      if (it.hasNext) {
        val schema = new Schema.Parser().parse(schemaJson)
        val tc = TaskContext.get()
        val part = TaskContext.getPartitionId()
        val finalFile = new Path(s"$path/part-${"%05d".format(part)}.avro")
        // Commit protocol (ADVICE r11): stream into an ATTEMPT-UNIQUE
        // dot-file, rename into place only on success. Two live
        // attempts of one partition (speculation, zombies) then never
        // interleave bytes in one stream; rename is first-wins (both
        // attempts carry the same records — only the random Avro sync
        // marker differs — so either winner is a complete, correct
        // part file and the loser deletes its temp). Failed jobs leave
        // only dot-prefixed temps, which FileInputFormat's hidden-file
        // filter already excludes from every read path.
        val tmpFile = new Path(
          s"$path/.part-${"%05d".format(part)}.avro.attempt-${tc.taskAttemptId()}.tmp")
        val tfs = finalFile.getFileSystem(serConf.value)
        val out = tfs.create(tmpFile, true)
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        var committed = false
        // inside the try from the first write on: a failure while
        // emitting the container HEADER must also close the stream
        // and delete the attempt temp, not just failures mid-append
        try {
          w.create(schema, out) // w.close() closes the stream too
          it.foreach { row =>
            val rec = new GenericData.Record(schema)
            var i = 0
            while (i < width) {
              rec.put(i, row.get(i) match {
                case null => null
                case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
                case v => v
              })
              i += 1
            }
            w.append(rec)
          }
          w.close()
          committed = tfs.rename(tmpFile, finalFile)
          if (!committed) {
            if (tfs.exists(finalFile)) tfs.delete(tmpFile, false) // sibling attempt won
            else throw new java.io.IOException(
              s"avro commit failed: cannot rename $tmpFile to $finalFile")
          }
        } finally {
          if (!committed) {
            try w.close() catch { case _: Throwable => () }
            // w.close() is not guaranteed to reach the stream if
            // w.create itself failed — close the raw handle too
            try out.close() catch { case _: Throwable => () }
            try { tfs.delete(tmpFile, false); () } catch { case _: Throwable => () }
          }
        }
      }
    }
  }

  /** Read Avro container files under `path` back into a DataFrame with
    * the given (writer-compatible) schema — splittable, schema-first
    * (no inference pass, same rule as [[FileSources]]).
    */
  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job, new Schema.Parser().parse(avroSchemaJson(schema)))
    val rdd = spark.sparkContext.newAPIHadoopFile(
      path,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]],
      classOf[NullWritable],
      job.getConfiguration)
    val n = schema.length
    val conv: Array[Any => Any] = schema.fields.map { f =>
      f.dataType match {
        case StringType => (v: Any) => if (v == null) null else v.toString
        case BinaryType => (v: Any) => v match {
          case null => null
          case bb: java.nio.ByteBuffer =>
            val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
          case a: Array[Byte] => a
          case other => throw new IllegalStateException(s"bad bytes value $other")
        }
        case _ => (v: Any) => v
      }
    }
    val rows = rdd.map { case (k, _) =>
      // convert NOW: the record reader reuses the datum across records
      val rec = k.datum()
      val vals = new Array[Any](n)
      var i = 0
      while (i < n) { vals(i) = conv(i)(rec.get(i)); i += 1 }
      Row.fromSeq(vals.toIndexedSeq)
    }
    spark.createDataFrame(rows, schema)
  }
}
