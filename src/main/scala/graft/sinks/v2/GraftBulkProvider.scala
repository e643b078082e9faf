package graft.sinks.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.CqlValueCodec
import graft.sinks.{BulkSink, SortedRunWriter}

/**
 * DataSource V2 bulk sink ("graft-bulk"): the reference's shuffle+sort
 * contract (G1-G3) expressed the idiomatic Spark way — the WRITER declares
 * what it needs via RequiresDistributionAndOrdering (clustered on the ring
 * bucket, ordered by decorated key) and Catalyst plans the exchange and
 * sort; no caller-side repartition needed:
 *
 *   df.withColumn("_pk", partition_key(...))
 *     .withColumn("_token", cassandra_token($"_pk"))
 *     .withColumn("_bucket", token_bucket($"_token", n))
 *     .write.format("graft-bulk")
 *     .option("path", dir).option("buckets", n).save()
 *
 * Each task writes an append-only sorted run; commit() assembles the
 * global _MANIFEST.json; abort()/failed tasks delete their partial files.
 * Speculative-execution double-writes are prevented by the commit
 * coordinator (useCommitCoordinator default true).
 *
 * HOT RINGS: this writer clusters one ring bucket per task, so a hot
 * token range is one straggler task (the reference's
 * one-range-one-reducer shape). For skewed rings use
 * [[graft.sinks.BulkSink.writeSortedSalted]] instead — it splits hot
 * buckets across salted sub-buckets and k-way-merges them back to one
 * sorted run per range, producing the SAME layout this sink's read
 * path consumes ([[graft.sinks.BulkSink.planSalts]] detects the hot
 * buckets from a sample).
 */
class GraftBulkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-bulk"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftBulkRead.schema // read path; writes take the query's schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftBulkTable(schema, Option(properties.get("path")))
}

final class GraftBulkTable(tableSchema: StructType, path: Option[String])
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = "graft-bulk"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.BATCH_READ)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftBulkWriteBuilder(info)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftBulkScanBuilder(Option(options.get("path")).orElse(path)
      .getOrElse(throw new IllegalArgumentException("graft-bulk read requires option 'path'")))
}

final class GraftBulkWriteBuilder(info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  // overwrite = stage-then-swap: the new load writes into a hidden temp
  // subdir, and commit() deletes the stale runs just before moving the
  // new ones into place — the previous load survives any failure before
  // commit, and the reader's pre-manifest fallback never sees old and new
  // runs side by side
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private val options = info.options()
    private val path = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("graft-bulk requires option 'path'"))
    private val buckets = Option(options.get("buckets")).map(_.toInt).getOrElse(0)
    // `aligned=true`: the caller asserts the input is already clustered
    // and decorated-key sorted per partition (the graft-bulk READ path
    // guarantees exactly that — one sorted run per split), so no exchange
    // or sort is required of Catalyst. Safe even when asserted wrongly:
    // the run writer hard-verifies decorated order and throws, and runs
    // with overlapping token ranges are a legal state of the format (the
    // manifests record real ranges; planning handles overlap).
    private val aligned = "true".equalsIgnoreCase(options.get("aligned"))
    // reference's compressionclass URI option; resolved at PLAN time so a
    // typo fails the query before any executor work
    private val codec = Option(options.get("compressionclass"))
      .map(SortedRunWriter.normalizeCodec)
    // logical chunk size for compressed runs (CompressionInfo.db analog);
    // validated at PLAN time like the codec — a bad option must fail
    // before the exchange runs, not in task 0
    private val chunkSize = Option(options.get("chunksize")).map(_.toInt)
      .getOrElse(SortedRunWriter.DefaultChunkSize)
    require(chunkSize >= 1024, s"chunksize must be >= 1 KiB, got $chunkSize")
    private val schema = info.schema()
    require(schema.fieldNames.contains("_pk") && schema.fieldNames.contains("_token") &&
      schema.fieldNames.contains("_bucket"),
      "graft-bulk input needs _pk/_token/_bucket columns " +
        "(use graft.functions.partition_key/cassandra_token/token_bucket)")
    // `payload=raw`: the single non-aux column IS the already-encoded
    // record payload and is written verbatim (no per-column length
    // framing) — the rewrite/recompress path, where re-framing would make
    // every generation wrap the previous one. Validated at plan time.
    private val rawPayload = "raw".equalsIgnoreCase(options.get("payload"))
    if (rawPayload) {
      val nonAux = GraftBulkDataWriter.valueFields(schema)
      require(nonAux.length == 1 && nonAux.head._2 == BinaryType,
        "payload=raw needs exactly one non-aux column of binary type " +
          s"(got ${nonAux.map(f => s"${schema(f._1).name}:${f._2.simpleString}").mkString(", ")})")
    } else {
      // built once here so an unsupported column type fails at plan time
      CqlValueCodec.rowEncoder(GraftBulkDataWriter.valueFields(schema))
    }

    // G1/G2: cluster rows by ring bucket (each bucket fully inside one task)
    override def requiredDistribution(): Distribution =
      if (aligned) Distributions.unspecified()
      else Distributions.clustered(Array(Expressions.column("_bucket")))
    override def requiredNumPartitions(): Int = if (aligned) 0 else buckets
    // with no fixed bucket count (buckets unset/0), AQE may size the
    // clustered shuffle by this advisory instead — size-targeted runs
    // (several ring buckets per task is a legal run shape: each task
    // still writes one decorated-key-sorted run)
    override def advisoryPartitionSizeInBytes(): Long =
      Option(options.get("advisorypartitionbytes")).map(_.toLong).getOrElse(0L)
    // G3: decorated-key order inside every task
    override def requiredOrdering(): Array[SortOrder] =
      if (aligned) Array.empty
      else Array(
        Expressions.sort(Expressions.column("_token"), SortDirection.ASCENDING),
        Expressions.sort(Expressions.column("_pk"), SortDirection.ASCENDING))

    override def toBatch: BatchWrite =
      new GraftBulkBatchWrite(path, schema, codec, chunkSize, rawPayload,
        truncateFirst)

    // K9/K10 replacement: progress as SQL-UI metrics, not heartbeat threads
    override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      GraftWriteMetrics.all
  }
}

final case class ManifestMessage(json: String) extends WriterCommitMessage

final class GraftBulkBatchWrite(path: String, schema: StructType,
    codec: Option[String],
    chunkSize: Int = SortedRunWriter.DefaultChunkSize,
    rawPayload: Boolean = false,
    truncateFirst: Boolean = false) extends BatchWrite {
  // overwrite staging: tasks write the NEW load into a hidden temp subdir
  // (underscore-prefixed, so directory listings for run files never see
  // it) while the previous load stays intact and readable; only commit()
  // deletes the stale artifacts and moves the new runs into place. A job
  // failure before commit leaves the old load untouched — the non-atomic
  // delete-then-swap window shrinks from the whole job to commit time.
  private val stagingDir: String =
    if (truncateFirst) s"_overwrite-${java.util.UUID.randomUUID()}" else ""

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val writeDir =
      if (truncateFirst) Paths.get(path, stagingDir) else Paths.get(path)
    Files.createDirectories(writeDir)
    new GraftBulkWriterFactory(writeDir.toString, schema, codec, chunkSize, rawPayload)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val json = messages.collect { case ManifestMessage(j) if j.nonEmpty => j }
      .mkString("[", ",", "]")
    if (truncateFirst) {
      // clear every run artifact of the previous load (data, index, chunk
      // map, manifest, stream plan) — must precede the move, or the
      // reader's pre-manifest fallback (files without a manifest entry
      // full-scan) would resurrect stale runs next to the new manifest
      val dir = new java.io.File(path)
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter { f =>
          val n = f.getName
          (n.startsWith("graft-") && (n.endsWith("-Data.db") ||
            n.endsWith("-Index.db") || n.endsWith("-Chunks.db"))) ||
            n == "_MANIFEST.json" || n == "_STREAM_PLAN.json"
        }
        .foreach(_.delete())
      val staged = new java.io.File(dir, stagingDir)
      Option(staged.listFiles()).getOrElse(Array.empty).foreach { f =>
        Files.move(f.toPath, Paths.get(path, f.getName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      staged.delete()
    }
    Files.write(Paths.get(path, "_MANIFEST.json"), json.getBytes(StandardCharsets.UTF_8))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    if (truncateFirst) {
      // drop the staged new load; the previous load was never touched
      val staged = new java.io.File(path, stagingDir)
      Option(staged.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      staged.delete()
    }
    ()
  }
}

final class GraftBulkWriterFactory(path: String, schema: StructType,
    codec: Option[String],
    chunkSize: Int = SortedRunWriter.DefaultChunkSize,
    rawPayload: Boolean = false) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftBulkDataWriter(path, partitionId, schema, codec, chunkSize, rawPayload)
}

/**
 * Per-task sorted-run writer over InternalRow. Aux columns
 * (_pk/_token/_bucket) route; all other columns encode into the record
 * value with [[CqlValueCodec.rowEncoder]], the encoder BulkSink uses too.
 *
 * The `_token` column's TYPE selects the partitioner (the reference loads
 * the partitioner reflectively and handles both LongToken and
 * BigIntegerToken, CassandraPartitioner.java:46-47): LongType = Murmur3,
 * BinaryType = RandomPartitioner canonical 16-byte md5 tokens (from
 * graft.functions.cassandra_random_token — their unsigned sort IS numeric
 * token order, so the writer-required `_token` ordering stays valid).
 */
final class GraftBulkDataWriter(path: String, pid: Int, schema: StructType,
    codec: Option[String] = None,
    chunkSize: Int = SortedRunWriter.DefaultChunkSize,
    rawPayload: Boolean = false) extends DataWriter[InternalRow] {

  private val pkIdx = schema.fieldIndex("_pk")
  private val tokenIdx = schema.fieldIndex("_token")

  private val randomTokens = schema.fields(tokenIdx).dataType match {
    case LongType   => false
    case BinaryType => true
    case other => throw new IllegalArgumentException(
      s"_token must be LongType (Murmur3) or BinaryType (RandomPartitioner md5), got $other")
  }

  private val valueOf: InternalRow => Array[Byte] = {
    val valueFields = GraftBulkDataWriter.valueFields(schema)
    if (rawPayload) {
      val i = valueFields.head._1
      row => if (row.isNullAt(i)) Array.emptyByteArray else row.getBinary(i)
    } else CqlValueCodec.rowEncoder(valueFields)
  }

  private val writer = new SortedRunWriter(path, pid, compression = codec,
    randomTokens = randomTokens, chunkSize = chunkSize)

  override def write(row: InternalRow): Unit = {
    val pk = row.getBinary(pkIdx)
    val value = valueOf(row)
    if (randomTokens) writer.addRandom(row.getBinary(tokenIdx), pk, value)
    else writer.add(row.getLong(tokenIdx), pk, value)
  }

  override def commit(): WriterCommitMessage = {
    val m = writer.close()
    if (m.rows == 0) {
      // drop empty run files (data, index, chunk map), keep the manifest clean
      val data = new java.io.File(path, m.dataFile)
      data.delete()
      if (m.indexFile.nonEmpty) new java.io.File(path, m.indexFile).delete()
      SortedRunWriter.chunksFileFor(data).delete()
      ManifestMessage("")
    } else ManifestMessage(BulkSink.manifestJson(m))
  }

  override def abort(): Unit = writer.abort()
  override def close(): Unit = ()

  /** Live per-task progress, polled by the executor heartbeat into the
    * SQL UI (the reference kept a heartbeat thread for this; Spark's
    * metric plumbing replaces it). */
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new TaskMetric(GraftWriteMetrics.RowsName, writer.rowsSoFar),
      new TaskMetric(GraftWriteMetrics.BytesName, writer.bytesSoFar))
}

object GraftBulkDataWriter {
  /** The record-value columns of a graft-bulk input: all but the aux
    * routing columns, as (ordinal, type). */
  private[v2] def valueFields(schema: StructType): Seq[(Int, DataType)] = {
    val aux = Set("_pk", "_token", "_bucket")
    schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if !aux(f.name) => (i, f.dataType)
    }
  }
}
