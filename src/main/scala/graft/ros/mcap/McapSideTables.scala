package graft.ros.mcap

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The container's NON-message payloads as side tables, selected with
  * `spark.read.format("mcap").option("table", "attachments"|"metadata")`
  * — the same dispatch shape as the typed read's `schema_name` option,
  * so they also work through the SQL catalog
  * (`CREATE TABLE ... USING mcap OPTIONS (path '...', table
  * 'attachments')`).
  *
  * Robotics archives carry calibration blobs / URDFs / firmware as
  * Attachment records (op 0x09) and run descriptions as Metadata
  * records (op 0x0C); the reference's pipeline (and this engine's
  * spine) only surfaces messages — a consumer re-calibrating a 100 TB
  * fleet archive needs the attachments WITHOUT re-reading message
  * chunks. Plan time touches only the cached per-file index (record
  * offsets — [[McapFormat.scanIndex]] collects them in its header-only
  * walk); attachment BODIES are read executor-side, one partition per
  * attachment, so a 2 GiB firmware blob never lands on the driver.
  */
object McapSideTables {
  val AttachmentsSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("log_time", LongType, nullable = false),
    StructField("create_time", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  // one row per (record, key): the k/v map explodes relationally —
  // `WHERE key = 'robot_id'` beats a map column for catalog SQL
  val MetadataSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  def tableFor(kind: String, path: String): Table = kind match {
    case "attachments" => new McapAttachmentsTable(path)
    case "metadata" => new McapMetadataTable(path)
    case other => throw new IllegalArgumentException(
      s"unknown mcap side table '$other' (attachments | metadata); " +
        "omit the 'table' option for the message spine")
  }
}

private[mcap] final case class McapSideRef(file: String, offset: Long,
    payloadLen: Long) extends InputPartition

class McapAttachmentsTable(path: String) extends Table
    with SupportsRead with SupportsWrite with graft.ros.ContainerSink.LandedMetrics {
  override def name(): String = s"mcap:$path:attachments"
  override def schema(): StructType = McapSideTables.AttachmentsSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new McapAttachmentsScan(path)
    }
  /** The relational WRITE half: `df.write.format("mcap")
    * .option("table", "attachments").mode("append").save(dir)` —
    * adding a calibration to an archive without hand-rolling mcap
    * bytes ([[McapExport.prepareAttachments]] conforms arbitrary
    * frames). APPEND ONLY: attachments are an accumulating dimension;
    * an overwrite would also have to decide the fate of message files
    * sharing the directory, so it is refused (no truncate capability).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    graft.ros.ContainerSink.builder(path, info, this, "mcap attachments",
      "McapExport.prepareAttachments")(McapAttachmentsSink(_))
}

/** The attachments format of [[graft.ros.ContainerSink]]: one
  * `att-<partition>-<task>-<job>.mcap` per non-empty task, each holding
  * only Attachment records (+ the AttachmentIndex/Statistics summary
  * [[McapStreamingWriter.finish]] emits) — the side-table read lists
  * them with the rest of the directory.
  */
final class McapAttachmentsSink private (logTime: Int, createTime: Int,
    name: Int, mediaType: Int, data: Int) extends graft.ros.ContainerSink.Format {
  override def suffixes: Seq[String] = Seq(".mcap")
  override def prefix: String = "att"

  override def encoder(out: graft.ros.ContainerSink.TaskFiles)
      : graft.ros.ContainerSink.Encoder = new graft.ros.ContainerSink.Encoder {
    private val writer = new McapStreamingWriter(out.create("", ".mcap"), "",
      4 * 1024 * 1024, profile = "")

    override def write(row: InternalRow): Unit =
      writer.writeAttachment(
        logTime = if (row.isNullAt(logTime)) 0L else row.getLong(logTime),
        createTime = if (row.isNullAt(createTime)) 0L else row.getLong(createTime),
        name = row.getUTF8String(name).toString,
        mediaType = if (row.isNullAt(mediaType)) ""
          else row.getUTF8String(mediaType).toString,
        data = row.getBinary(data))

    override def finish(): AnyRef = { writer.finish(); null }
  }
}

object McapAttachmentsSink {
  def apply(w: graft.ros.ContainerSink.Request): McapAttachmentsSink =
    new McapAttachmentsSink(
      logTime = w.need("log_time", LongType, nullable = true),
      createTime = w.need("create_time", LongType, nullable = true),
      name = w.need("name", StringType),
      mediaType = w.need("media_type", StringType, nullable = true),
      data = w.need("data", BinaryType))
}

class McapAttachmentsScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType = McapSideTables.AttachmentsSchema
  override def toBatch: Batch = this
  // one partition per ATTACHMENT: bodies are blob-sized (calibration
  // maps, firmware), so per-file batching could stack gigabytes into
  // one task while per-attachment keeps task memory = one blob
  override def planInputPartitions(): Array[InputPartition] =
    // bounded-pool index scans, like the message-spine planner: a
    // fleet directory must not pay sequential summary walks
    graft.ros.DriverPool.parMap(McapDataSource.files(path)) { f =>
      McapIO.scanIndex(f).attachmentRefs.map {
        case (off, len) => McapSideRef(f, off, len): InputPartition
      }
    }.flatten.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    McapAttachmentsReaderFactory()
}

private[mcap] final case class McapAttachmentsReaderFactory()
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val ref = p.asInstanceOf[McapSideRef]
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done && { done = true; true }
      override def get(): InternalRow = {
        val a = McapFormat.parseAttachment(
          McapIO.readPayload(ref.file, ref.offset, ref.payloadLen))
        InternalRow(UTF8String.fromString(ref.file), a.logTime, a.createTime,
          UTF8String.fromString(a.name), UTF8String.fromString(a.mediaType),
          a.data.length.toLong, a.data)
      }
      override def close(): Unit = ()
    }
  }
}

class McapMetadataTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"mcap:$path:metadata"
  override def schema(): StructType = McapSideTables.MetadataSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new McapMetadataScan(path)
    }
}

class McapMetadataScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType = McapSideTables.MetadataSchema
  override def toBatch: Batch = this
  // metadata records are small string maps: one partition per FILE
  // (files without metadata records plan nothing)
  override def planInputPartitions(): Array[InputPartition] =
    graft.ros.DriverPool.parMap(McapDataSource.files(path)) { f =>
      val refs = McapIO.scanIndex(f).metadataRefs
      if (refs.isEmpty) None
      else Some(McapMetadataFilePartition(f, refs): InputPartition)
    }.flatten.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    McapMetadataReaderFactory()
}

private[mcap] final case class McapMetadataFilePartition(file: String,
    refs: Seq[(Long, Long)]) extends InputPartition

private[mcap] final case class McapMetadataReaderFactory()
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[McapMetadataFilePartition]
    new PartitionReader[InternalRow] {
      private val rows = part.refs.iterator.flatMap { case (off, len) =>
        val (name, kv) = McapFormat.parseMetadata(
          McapIO.readPayload(part.file, off, len))
        kv.iterator.map { case (k, v) =>
          InternalRow(UTF8String.fromString(part.file),
            UTF8String.fromString(name), UTF8String.fromString(k),
            UTF8String.fromString(v))
        }
      }
      private var current: InternalRow = null
      override def next(): Boolean =
        rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
