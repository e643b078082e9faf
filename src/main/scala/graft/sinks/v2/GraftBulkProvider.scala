package graft.sinks.v2

import java.util.{Map => JMap}

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Read-only DataSource V2 over the sorted-run format ("graft-bulk"):
 *
 *   spark.read.format("graft-bulk").option("path", dir).load()
 *
 * yields (token, pk, value, bucket) rows through [[GraftBulkRead]]. The
 * format has one writer, [[graft.sinks.BulkSink]]: its slot-permuted
 * ring partitioner gives every token range its own reducer and sorted run
 * (the reference's one-range-one-reducer shape, G1-G3), and its `salts`
 * split hot ranges across sub-buckets and merge them back to one run
 * per range. This source declares no write capability, so Spark plans
 * no DSv2 write against it.
 */
class GraftBulkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-bulk"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftBulkRead.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftBulkTable(Option(properties.get("path")))
}

final class GraftBulkTable(path: Option[String]) extends Table with SupportsRead {
  override def name(): String = "graft-bulk"
  override def schema(): StructType = GraftBulkRead.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftBulkScanBuilder(Option(options.get("path")).orElse(path)
      .getOrElse(throw new IllegalArgumentException("graft-bulk read requires option 'path'")))
}
