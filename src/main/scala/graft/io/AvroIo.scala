package graft.io

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro Object Container File source/sink built directly on avro-core
  * (which Spark's classpath ships even though the `spark-avro`
  * DataSource module is absent offline) — closing the one source-format
  * gap that was packaging-blocked rather than architecture-blocked.
  * North-star extension: the reference reads CSV only.
  *
  * Write: one container file per partition (`part-NNNNN.avro`), encoded
  * executor-side — the schema travels as its canonical JSON string, so
  * the task closure carries no Avro objects. Read: one Spark partition
  * per container file, decoded through `DataFileReader`/`FsInput`
  * (splittable readers would key on Avro sync markers; per-file tasks
  * are the right granularity for the ≤ a-few-hundred-MB files the q137
  * packing planner emits).
  *
  * Type surface (covers every fixture table): long/int/double/float/
  * boolean/string/binary, timestamp-micros (logicalType, so other Avro
  * readers interpret the longs correctly), and arrays of any of those.
  * Nullable fields map to `[null, T]` unions, Avro's convention.
  *
  * Scale shape: both directions are embarrassingly parallel over
  * partitions/files; nothing ever collects to the driver except the
  * 1-file schema probe on read. RDD usage here is deliberate and
  * justified: a source connector IS per-partition imperative logic
  * (the same boundary Spark's own connectors live behind).
  */
object AvroIo {

  // ---- schema mapping ------------------------------------------------------

  private def avroType(dt: DataType): Schema = dt match {
    case LongType    => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case StringType  => Schema.create(Schema.Type.STRING)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      val s = Schema.create(Schema.Type.LONG)
      org.apache.avro.LogicalTypes.timestampMicros().addToSchema(s)
    case TimestampNTZType =>
      val s = Schema.create(Schema.Type.LONG)
      org.apache.avro.LogicalTypes.localTimestampMicros().addToSchema(s)
    case ArrayType(et, containsNull) =>
      // element nullability needs its own [null, T] union — without it
      // a Seq(1L, null) row dies in GenericDatumWriter ("null of long
      // in array"); the read side's unwrap() already expects this form
      val base = avroType(et)
      Schema.createArray(
        if (containsNull)
          Schema.createUnion(java.util.List.of(
            Schema.create(Schema.Type.NULL), base))
        else base)
    case other => throw new IllegalArgumentException(
      s"AvroIo: unsupported Spark type $other")
  }

  /** Spark struct → Avro record schema; nullable fields become
    * `[null, T]` unions. */
  private[graft] def toAvroSchema(st: StructType,
      name: String = "graft_row"): Schema = {
    val fields = st.fields.map { f =>
      val base = avroType(f.dataType)
      val t = if (f.nullable)
        Schema.createUnion(java.util.List.of(
          Schema.create(Schema.Type.NULL), base))
      else base
      new Schema.Field(f.name, t, null, null)
    }
    Schema.createRecord(name, null, "graft", false, fields.toList.asJava)
  }

  /** Avro record schema → Spark struct (the read-side inverse). */
  private[graft] def toSparkSchema(s: Schema): StructType = {
    def unwrap(t: Schema): (Schema, Boolean) =
      if (t.getType == Schema.Type.UNION) {
        val nonNull = t.getTypes.asScala
          .filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1, s"AvroIo: unsupported union $t")
        (nonNull.head, true)
      } else (t, false)
    def sparkType(t: Schema): DataType = t.getType match {
      case Schema.Type.LONG =>
        if (t.getLogicalType == null) LongType
        else t.getLogicalType.getName match {
          case "timestamp-micros"       => TimestampType
          case "local-timestamp-micros" => TimestampNTZType
          case _                        => LongType
        }
      case Schema.Type.INT     => IntegerType
      case Schema.Type.DOUBLE  => DoubleType
      case Schema.Type.FLOAT   => FloatType
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.STRING  => StringType
      case Schema.Type.BYTES   => BinaryType
      case Schema.Type.ARRAY =>
        val (et, _) = unwrap(t.getElementType)
        ArrayType(sparkType(et))
      case other => throw new IllegalArgumentException(
        s"AvroIo: unsupported Avro type $other")
    }
    StructType(s.getFields.asScala.map { f =>
      val (t, nullable) = unwrap(f.schema())
      StructField(f.name(), sparkType(t), nullable)
    }.toArray)
  }

  // ---- value mapping -------------------------------------------------------

  private def toAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (ts: java.sql.Timestamp, TimestampType) =>
      ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
    case (ldt: java.time.LocalDateTime, TimestampNTZType) =>
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000
    case (b: Array[Byte], BinaryType) => java.nio.ByteBuffer.wrap(b)
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      seq.map(toAvroValue(_, et)).asJava
    case (x, _) => x
  }

  private def toSparkValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: java.lang.Long, TimestampType) =>
      // floor semantics so pre-1970 micros work: truncating division
      // would pair a rounded-toward-zero milli with a NEGATIVE nanos
      // remainder, and Timestamp.setNanos throws on negatives (the NTZ
      // branch below always had the floorDiv/floorMod form)
      val ts = new java.sql.Timestamp(Math.floorDiv(l, 1000L))
      ts.setNanos((Math.floorMod(l, 1000000L) * 1000L).toInt)
      ts
    case (l: java.lang.Long, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l, 1000000L),
        (Math.floorMod(l, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (s: CharSequence, StringType) => s.toString // Utf8 → String
    case (bb: java.nio.ByteBuffer, BinaryType) =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    case (list: java.util.Collection[_], ArrayType(et, _)) =>
      list.asScala.map(toSparkValue(_, et)).toSeq
    case (x, _) => x
  }

  // ---- sink ----------------------------------------------------------------

  /** The job-completion marker: written by the driver only after every
    * partition task has committed its file, so a killed job can never
    * masquerade as a complete dataset. */
  private[graft] val SuccessMarker = "_SUCCESS"

  /** Serialize the driver's effective Hadoop configuration so executor
    * tasks resolve paths the same way (s3a credentials, nameservices,
    * fs.*.impl — `new Configuration()` on an executor would silently
    * drop every `spark.hadoop.*` setting). `iterator` yields the merged
    * effective entries, so rebuilding from (k, v) pairs over an empty
    * conf reproduces them. */
  private def hadoopConfKv(spark: SparkSession): Array[(String, String)] =
    spark.sparkContext.hadoopConfiguration.asScala
      .map(e => (e.getKey, e.getValue)).toArray
  private def rebuildConf(kv: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    kv.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Write `df` as a directory of Avro container files, one per
    * partition. Deflate-compressed: the container format's own codec,
    * readable by any Avro tool.
    *
    * Commit protocol (write-temp → rename → driver marker): each task
    * attempt writes `part-NNNNN.avro.inprogress-<attempt>` — attempt-
    * unique, so speculative twins never interleave bytes into one
    * stream — then renames to the final name; the loser of a rename
    * race deletes its temp (both attempts carry identical rows). The
    * driver writes [[SuccessMarker]] only after every task committed,
    * and [[read]] refuses a directory without it — a job that died
    * halfway can never be silently read as a complete (smaller)
    * dataset. */
  def write(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val schemaJson = toAvroSchema(sparkSchema).toString
    val dir = new Path(path)
    val driverFs = dir.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (driverFs.exists(dir)) driverFs.delete(dir, true)
    driverFs.mkdirs(dir)
    val confKv = df.sparkSession.sparkContext.broadcast(
      hadoopConfKv(df.sparkSession))
    df.foreachPartition { (rows: Iterator[Row]) =>
      val tc = TaskContext.get()
      val pid = tc.partitionId()
      val schema = new Schema.Parser().parse(schemaJson)
      val finalFile = new Path(path, f"part-$pid%05d.avro")
      val tmpFile = new Path(path,
        f"part-$pid%05d.avro.inprogress-${tc.taskAttemptId()}")
      val pfs = finalFile.getFileSystem(rebuildConf(confKv.value))
      val out = pfs.create(tmpFile, true)
      val writer = new DataFileWriter(
        new GenericDatumWriter[GenericRecord](schema))
      writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      writer.create(schema, out)
      try rows.foreach { r =>
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < sparkSchema.length) {
          rec.put(i, toAvroValue(r.get(i), sparkSchema(i).dataType))
          i += 1
        }
        writer.append(rec)
      } finally writer.close() // closes the stream too
      if (!pfs.rename(tmpFile, finalFile)) {
        // rename refuses when the destination exists: a speculative twin
        // already committed identical content — drop our copy
        if (pfs.exists(finalFile)) pfs.delete(tmpFile, false)
        else throw new java.io.IOException(
          s"AvroIo: could not commit $tmpFile -> $finalFile")
      }
      ()
    }
    // a 0-PARTITION input (AQE can coalesce an empty result to zero
    // partitions) runs zero tasks and writes zero part files — the
    // marker would then bless a dataset read() can never serve (its
    // schema probe needs a file). The driver writes one empty
    // schema-bearing container so every committed dataset round-trips.
    if (!driverFs.listStatus(dir).exists(_.getPath.getName.endsWith(".avro"))) {
      val schema = new Schema.Parser().parse(schemaJson)
      val out = driverFs.create(new Path(dir, "part-00000.avro"), true)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, out)
      w.close()
    }
    driverFs.create(new Path(dir, SuccessMarker), true).close()
  }

  // ---- source --------------------------------------------------------------

  /** Read a directory of Avro container files (or one file) as a
    * DataFrame: schema from the first file's header (driver-side, one
    * open), then one Spark partition per file. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = fs.getFileStatus(p).isDirectory
    if (isDir) require(fs.exists(new Path(p, SuccessMarker)),
      s"AvroIo: $path has no $SuccessMarker marker — the writing job " +
        "did not complete; refusing to read a partial dataset")
    val files =
      (if (isDir) fs.listStatus(p).toSeq else Seq(fs.getFileStatus(p)))
        .map(_.getPath)
        .filter(_.getName.endsWith(".avro"))
        .map(_.toString).sorted
    require(files.nonEmpty, s"AvroIo: no .avro files under $path")
    val probe = new DataFileReader(
      new FsInput(new Path(files.head), spark.sparkContext.hadoopConfiguration),
      new GenericDatumReader[GenericRecord]())
    val sparkSchema = try toSparkSchema(probe.getSchema) finally probe.close()
    val confKv = spark.sparkContext.broadcast(hadoopConfKv(spark))
    val rdd = spark.sparkContext
      .parallelize(files, files.length)
      .flatMap { f =>
        val reader = new DataFileReader(
          new FsInput(new Path(f), rebuildConf(confKv.value)),
          new GenericDatumReader[GenericRecord]())
        // a downstream limit may stop consuming mid-file: close on task
        // completion, not only on iterator exhaustion
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try reader.close() catch { case _: Exception => () }))
        new Iterator[Row] {
          // latch exhaustion: the iterator contract allows hasNext after
          // it returned false, but DataFileReader.hasNext throws once
          // the reader is closed
          private var finished = false
          def hasNext: Boolean = !finished && {
            val h = reader.hasNext
            if (!h) { finished = true; reader.close() }
            h
          }
          def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(sparkSchema.indices.map(i =>
              toSparkValue(rec.get(i), sparkSchema(i).dataType)))
          }
        }
      }
    spark.createDataFrame(rdd, sparkSchema)
  }

  // ---- q222: the Avro path under the oracle gate ---------------------------

  /** The documents corpus round-tripped through the Avro sink+source,
    * once per (session, dir) — the q124 write-once discipline; the temp
    * directory is session-private, and a rewrite of `documents` rebuilds
    * the copy in a new one. */
  private def avroDocs(s: SparkSession, dir: String): DataFrame =
    read(s, graft.tables.Tables.documentsFixture(s, dir, "avro_docs")(write))

  /** q222 — per-source corpus stats computed FROM THE AVRO COPY: the
    * documents table flows sink → container files → source → aggregate,
    * while the oracle recomputes the same stats from the raw parquet —
    * so the whole connector (schema mapping, union encoding, codec,
    * per-file read) must be value-invisible, the storage-layer
    * discipline q124 applies to bucketing, applied to a FORMAT.
    *
    * Scale shape: write once per session (one pass, one file per
    * partition), aggregate streams per-file partitions into a
    * partial-agg exchange of ≤|sources| groups (no countDistinct
    * beside the sum — the no-Expand ground rule, SCALE.md). */
  def avroRoundTripStats(s: SparkSession, dir: String): DataFrame =
    avroDocs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("source"))

  val avroRoundTripSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q222_avro_roundtrip" -> (avroRoundTripStats _))

  val oracles: Map[String, String] = Map(
    "q222_avro_roundtrip" -> avroRoundTripSql)
}
