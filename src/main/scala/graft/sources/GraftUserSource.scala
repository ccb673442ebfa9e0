package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.Schemas

/** DataSource V2 batch source generating deterministic RandomUser-shaped
  * records — the engine's load-generator twin of the reference's HTTP
  * source (`/root/reference/ingestion/api_client.py:15-27`), in the same
  * spirit as Spark's built-in `rate`/`range` sources. The live HTTP path
  * stays driver-side (10 rows/run needs no connector, SURVEY.md §2.1 S1);
  * THIS source exists for the opposite regime — synthesizing millions of
  * ingestion records across N partitions to exercise the pipeline at scale
  * without a network.
  *
  * V2 surface demonstrated: TableProvider + DataSourceRegister (shortName
  * `graft-users`), partition planning (`numPartitions` splits of
  * `numUsers`), and column pruning (SupportsPushDownRequiredColumns — only
  * requested top-level fields are materialized).
  *
  * Usage: spark.read.format("graft-users")
  *   .option("numUsers", 100000).option("numPartitions", 32).load()
  */
class GraftUserSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-users"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.userSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftUserTable(
      opts.getOrDefault("numUsers", "1000").toLong,
      opts.getOrDefault("numPartitions", "4").toInt)
  }
}

private class GraftUserTable(numUsers: Long, numPartitions: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft_users($numUsers)"
  override def schema(): StructType = Schemas.userSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftUserScanBuilder(numUsers, numPartitions)
}

private class GraftUserScanBuilder(numUsers: Long, numPartitions: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = Schemas.userSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // top-level pruning: keep declared field order, drop unrequested fields
    required = StructType(Schemas.userSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new GraftUserScan(numUsers, numPartitions, required)
}

private class GraftUserScan(numUsers: Long, numPartitions: Int,
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val per = (numUsers + numPartitions - 1) / numPartitions
    (0 until numPartitions).map { p =>
      GraftUserPartition(p * per, math.min((p + 1) * per, numUsers))
        .asInstanceOf[InputPartition]
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftUserReaderFactory(required)
}

private case class GraftUserPartition(start: Long, end: Long)
    extends InputPartition

private class GraftUserReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftUserPartition]
    new GraftUserReader(p.start, p.end, required)
  }
}

/** Deterministic record generator: every field is a pure function of the
  * row index, so counts, key-uniqueness, and re-reads are exactly
  * reproducible (the properties GraftUserSourceSpec asserts).
  */
private class GraftUserReader(start: Long, end: Long, required: StructType)
    extends PartitionReader[InternalRow] {

  private var i = start - 1
  private val firsts = Array("ada", "alan", "grace", "kath", "claude", "edsger",
    "barbara", "donald", "tony", "leslie")
  private val lasts = Array("lovelace", "turing", "hopper", "johnson",
    "shannon", "dijkstra", "liskov", "knuth", "hoare", "lamport")
  private val countries = Array("United Kingdom", "United States", "Germany",
    "France", "Spain", "Japan", "Brazil", "India")

  private def u(s: String) = UTF8String.fromString(s)

  private def fieldValue(name: String, idx: Long): Any = name match {
    case "name" => InternalRow(
      u(if (idx % 2 == 0) "Ms" else "Mr"),
      u(firsts((idx % firsts.length).toInt)),
      u(lasts(((idx / 7) % lasts.length).toInt)))
    case "email" => u(s"user$idx@example.com")
    case "login" => InternalRow(
      u(f"00000000-0000-4000-8000-${idx}%012d"),
      u(s"user_$idx"),
      u(s"pw-${idx * 2654435761L}%08x"))
    case "dob" => InternalRow(
      u(f"${1970 + idx % 30}%04d-01-15T00:00:00.000Z"),
      Long.box(18 + idx % 60))
    case "registered" => InternalRow(
      u(f"${2010 + idx % 15}%04d-06-01T12:00:00.000Z"),
      Long.box(idx % 15))
    case "phone" => u(f"011-${idx % 1000}%03d-${idx % 10000}%04d")
    case "location" => InternalRow(
      InternalRow(Long.box(idx % 9999), u(s"Street ${idx % 97}")),
      u(s"City${idx % 53}"),
      u(s"State${idx % 11}"),
      u(countries((idx % countries.length).toInt)),
      u(f"${idx % 99999}%05d"))
  }

  override def next(): Boolean = { i += 1; i < end }
  override def get(): InternalRow =
    InternalRow.fromSeq(required.fields.toSeq.map(f => fieldValue(f.name, i)))
  override def close(): Unit = ()
}
