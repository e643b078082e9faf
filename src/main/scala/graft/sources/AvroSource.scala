package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.GenericRecord
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.AvroKeyInputFormat
import org.apache.hadoop.io.NullWritable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Avro container-file scan (the reference's S1 input path,
 * Hdfs2Cass.java:107-108,135-144) built on avro-mapred's
 * AvroKeyInputFormat — no spark-avro connector needed. Multiple paths are
 * read as one collection (U1 union semantics; schemas must match).
 *
 * Scale notes: AvroKeyInputFormat splits on container-file sync markers,
 * so large files parallelize across executors like any Hadoop input. The
 * GenericRecord -> Row conversion is per-partition streaming (no
 * collect); for analytics-heavy pipelines convert to parquet once and let
 * the vectorized reader take over — this scan is the ingest edge.
 */
object AvroSource {

  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "at least one input path required")
    val rdd = spark.sparkContext.newAPIHadoopFile(
      paths.mkString(","),
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]],
      classOf[NullWritable])
    // schema from the first container file's HEADER — a few KB of driver-
    // side IO, not a Spark job (a first() here would schedule a task and
    // decode a whole record just to learn what the header already says)
    val structType = toStructType(
      headerSchema(paths.head, spark.sparkContext.hadoopConfiguration))
    val rows = rdd.mapPartitions { it =>
      it.map { case (k, _) => toRow(k.datum()) }
    }
    spark.createDataFrame(rows, structType)
  }

  /** Writer schema from a container file's header (driver-side, no job).
    * `path` may be a file, a directory of part files, or a glob
    * ("dir/&#42;.avro" — newAPIHadoopFile accepts globs, so schema discovery
    * must too; getFileStatus on a glob throws FileNotFoundException).
    * Uses the session's Hadoop conf so credentials/filesystem settings
    * apply to this read the same way they apply to the scan itself. */
  private[sources] def headerSchema(path: String,
      conf: org.apache.hadoop.conf.Configuration): Schema = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    def dataFiles(statuses: Array[org.apache.hadoop.fs.FileStatus]) = statuses
      .filter(_.isFile).map(_.getPath)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val file = (if (matched.exists(_.isFile)) dataFiles(matched)
      else matched.filter(_.isDirectory).flatMap(d => dataFiles(fs.listStatus(d.getPath))))
      .sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"no data files match $path"))
    val reader = new org.apache.avro.file.DataFileStream(
      fs.open(file), new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try reader.getSchema finally reader.close()
  }

  /** Avro schema -> Spark StructType (the §1.3 type table). */
  private def toStructType(schema: Schema): StructType =
    StructType(schema.getFields.asScala.map { f =>
      StructField(f.name(), toDataType(f.schema()), nullable = true)
    }.toSeq)

  private def toDataType(s: Schema): DataType = s.getType match {
    case Schema.Type.STRING  => StringType
    case Schema.Type.INT     => IntegerType
    case Schema.Type.LONG    => LongType
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES | Schema.Type.FIXED => BinaryType
    case Schema.Type.ARRAY   => ArrayType(toDataType(s.getElementType))
    case Schema.Type.MAP     => MapType(StringType, toDataType(s.getValueType))
    case Schema.Type.RECORD  => StructType(s.getFields.asScala.map(f =>
      StructField(f.name(), toDataType(f.schema()), nullable = true)).toSeq)
    case Schema.Type.UNION =>
      // nullable union [null, T] -> T; anything else unsupported
      val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1, s"unsupported union: $s")
      toDataType(nonNull.head)
    case Schema.Type.ENUM    => StringType
    case other => throw new IllegalArgumentException(s"unsupported Avro type: $other")
  }

  private[sources] def toRow(rec: GenericRecord): Row = {
    val schema = rec.getSchema
    Row.fromSeq(schema.getFields.asScala.map(f =>
      convert(rec.get(f.pos()), f.schema())).toSeq)
  }

  private def convert(v: Any, s: Schema): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case r: GenericRecord => toRow(r)
    case a: java.util.Collection[_] =>
      val elem = nonNullSchema(s).getElementType
      a.asScala.map(convert(_, elem)).toSeq
    case m: java.util.Map[_, _] =>
      val vs = nonNullSchema(s).getValueType
      m.asScala.map { case (k, value) => k.toString -> convert(value, vs) }.toMap
    case bb: java.nio.ByteBuffer =>
      val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
    case f: org.apache.avro.generic.GenericFixed => f.bytes().clone()
    case e: org.apache.avro.generic.GenericEnumSymbol[_] => e.toString
    case other => other // primitives pass through
  }

  private def nonNullSchema(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s
}
