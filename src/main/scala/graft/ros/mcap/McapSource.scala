package graft.ros.mcap

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `mcap` batch source — the ROS 2 sibling of the
  * `rosbag` source (same engine role as the reference's scan loop,
  * reference rosbag2parquet.cpp:41-63, for the fleet format that
  * succeeded rosbag1). One InputPartition per Chunk record (MCAP's own
  * parallelism grain, planned from the Summary section without touching
  * chunk bodies — the parquet-row-group analog) plus one per file for
  * any standalone unchunked messages.
  *
  * Pushdown surface mirrors the rosbag source: column pruning (the
  * `data` blob is only materialized when projected), filters on
  * channel_id/topic/schema_name/log_time evaluated pre-row-construction
  * with chunk-level time-range pruning and file-level path pruning,
  * and per-partition limit.
  *
  * Usage: `spark.read.format("mcap").load(path)` where path is a file,
  * directory (its *.mcap children) or glob. Channel/schema dimensions:
  * `McapTables.channels(spark, path)`.
  */
class McapDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mcap"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    (Option(options.get("table")), Option(options.get("schema_name"))) match {
      case (Some(t), Some(sn)) => throw new IllegalArgumentException(
        s"options table='$t' and schema_name='$sn' contradict: side " +
          "tables carry no message payloads to decode — pick one")
      case (Some(t), None) =>
        McapSideTables.tableFor(t, graft.ros.ContainerSource.pathSpec(options)).schema()
      case (None, Some(sn)) =>
        val t = McapTypedRead.resolveTarget(graft.ros.ContainerSource.pathSpec(options), sn,
          Option(options.get("schema_md5")))
        McapTypedRead.typedSchema(
          McapPayload.bundle(t.encoding, t.schemaName, t.schemaData),
          options.getBoolean("includeRaw", false))
      case (None, None) => McapDataSource.SpineSchema
    }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // case-SENSITIVE properties here vs the case-insensitive inferSchema
    // view — same pitfall as the rosbag source; normalize first
    val opts = new CaseInsensitiveStringMap(properties)
    Option(opts.get("table")) match {
      case Some(t) =>
        require(opts.get("schema_name") == null,
          s"options table='$t' and schema_name contradict: side tables " +
            "carry no message payloads to decode — pick one")
        // non-message payloads: attachments / metadata side tables
        McapSideTables.tableFor(t, graft.ros.ContainerSource.pathSpec(opts))
      case None =>
        new McapTable(graft.ros.ContainerSource.pathSpec(opts), Option(opts.get("schema_name")),
          opts.getBoolean("includeRaw", false), Option(opts.get("schema_md5")))
    }
  }
  override def supportsExternalMetadata(): Boolean = false
}

object McapDataSource {
  import graft.ros.ContainerSource._

  def isMcap(name: String): Boolean = name.endsWith(".mcap")

  /** The MCAP files `spec` denotes (a directory lists its *.mcap children). */
  def files(spec: String): Seq[String] = resolve(spec, isMcap, ".mcap")

  val Roles: graft.ros.ContainerSource.Roles = {
    val cols = Set("channel_id", "topic", "schema_name", "log_time", "file_path")
    graft.ros.ContainerSource.Roles("file_path", Some("log_time"), cols, cols,
      Seq("file_path", "topic", "channel_id"))
  }

  /** schemaId -> (name, encoding, md5) of a file's schemas. */
  def schemaInfo(idx: McapFormat.McapIndex): Map[Int, (String, String, String)] =
    idx.schemas.map { case (id, s) => id -> (s.name, s.encoding, McapTypedRead.md5hex(s.data)) }

  /** The channel catalog's filter columns. */
  def catalog(schemas: Map[Int, (String, String, String)])
      : PartialFunction[String, Col[McapFormat.McapChannel]] = {
    case "channel_id" => LongCol[McapFormat.McapChannel](_.id)
    case "topic" => StrCol[McapFormat.McapChannel](_.topic)
    case "schema_name" =>
      StrCol[McapFormat.McapChannel](c => schemas.get(c.schemaId).map(_._1).getOrElse(""))
  }

  /** The filter columns of one partition's messages. */
  def cols(p: McapInputPartition): PartialFunction[String, Col[McapFormat.McapMessage]] = {
    val schemaName = p.channels.map { case (id, c) =>
      id -> p.schemas.get(c.schemaId).map(_._1).getOrElse("") }
    val cols: PartialFunction[String, Col[McapFormat.McapMessage]] = {
      case "channel_id" => LongCol[McapFormat.McapMessage](_.channelId)
      case "log_time" => LongCol[McapFormat.McapMessage](_.logTime)
      case "topic" => StrCol[McapFormat.McapMessage](m => p.channels(m.channelId).topic)
      case "schema_name" => StrCol[McapFormat.McapMessage](m => schemaName(m.channelId))
      case "file_path" => StrCol[McapFormat.McapMessage](_ => p.path)
    }
    cols
  }

  /** The spine readers' row filter: every message must reference a
    * catalogued channel; pushed filters drop rows before any column is
    * built.
    */
  def keep(filters: Array[Filter], p: McapInputPartition): McapFormat.McapMessage => Boolean = {
    val pred = compile(filters, cols(p))
    m => {
      if (!p.channels.contains(m.channelId)) throw new IllegalStateException(
        s"message references unknown channel ${m.channelId} in ${p.path}")
      pred(m)
    }
  }

  /** The spine or typed readers of a scan. Every spine column vectorizes
    * (ints/longs / interned strings / binary); a typed scan decodes
    * straight into column vectors whenever the walk is linear (cdr /
    * packed ros1 — never protobuf: field numbers live in the descriptor)
    * and every required column has a columnar shape. Array-of-struct
    * projections take the row reader.
    */
  def readers(required: StructType, filters: Array[Filter], limit: Int,
      typed: Option[McapTypedRead.TypedTarget], includeRaw: Boolean): PartitionReaderFactory = {
    import graft.ros.bag.RosbagColumnarRead.{enabled, supportsColumnar}
    typed match {
      case Some(t) => new Readers(
        p => new McapTypedPartitionReader(p.asInstanceOf[McapInputPartition], t.schemaName,
          t.encoding, t.schemaData, t.md5s, required, includeRaw, filters),
        if (enabled && t.encoding != "protobuf" && supportsColumnar(required))
          Some(p => new McapTypedColumnarReader(p.asInstanceOf[McapInputPartition],
            t.schemaName, t.encoding, t.schemaData, t.md5s, required, includeRaw, filters))
        else None)
      case None => new Readers(
        p => new McapPartitionReader(p.asInstanceOf[McapInputPartition], required, filters, limit),
        if (enabled) Some(p => new McapMetaColumnarReader(p.asInstanceOf[McapInputPartition],
          required, filters, limit))
        else None)
    }
  }

  /** The message-spine schema. MCAP times are nanoseconds since epoch
    * (u64) — kept as Long `log_time`/`publish_time` (the events table's
    * ts_ns convention) rather than split sec/nsec like rosbag1.
    */
  val SpineSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    // -1 chunk_idx = the file's standalone (unchunked) message segment
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false), // ordinal within chunk/segment
    StructField("log_time", LongType, nullable = false),
    StructField("publish_time", LongType, nullable = false),
    StructField("sequence", LongType, nullable = false),
    StructField("size", IntegerType, nullable = false),
    StructField("channel_id", IntegerType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = false),
    StructField("schema_encoding", StringType, nullable = false),
    StructField("message_encoding", StringType, nullable = false),
    StructField("data_crc32", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

class McapTable(path: String, schemaName: Option[String] = None,
                includeRaw: Boolean = false, md5: Option[String] = None)
    extends graft.ros.ContainerSource.ContainerTable("mcap", path, schemaName,
      schemaName.map(_ => "schema_name read option"), "McapExport.prepare") {
  private lazy val target: Option[McapTypedRead.TypedTarget] =
    schemaName.map(sn => McapTypedRead.resolveTarget(path, sn, md5))
  override def schema(): StructType = target match {
    case Some(t) =>
      McapTypedRead.typedSchema(
        McapPayload.bundle(t.encoding, t.schemaName, t.schemaData), includeRaw)
    case None => McapDataSource.SpineSchema
  }
  override protected def read: graft.ros.ContainerSource.Read =
    new McapRead(path, target, includeRaw)
  override protected def sink(req: graft.ros.ContainerSink.Request): graft.ros.ContainerSink.Format =
    McapSink(req)
}

/** The MCAP read: one unit per Chunk record (planned from the Summary
  * section without touching chunk bodies, its message time range
  * pruning `log_time`) plus one per file for any standalone unchunked
  * messages; the channel catalog prunes topic / channel / schema. Typed
  * reads plan only the files carrying the resolved schema. Format hook:
  * the metadata-only aggregates from the Statistics record.
  */
final class McapRead(val spec: String, target: Option[McapTypedRead.TypedTarget],
    includeRaw: Boolean) extends graft.ros.ContainerSource.Read {
  import graft.ros.ContainerSource._
  override def kind: String = "mcap"
  override def roles: Roles = McapDataSource.Roles
  override def typed: Option[String] = target.map(_.schemaName)
  // typed reads push only meta-column filters (payload columns never
  // reach the reader's filter)
  override def typedCols: Set[String] = Set("channel_id", "topic", "log_time", "file_path")
  override lazy val files: Seq[String] = target.map(_.files).getOrElse(McapDataSource.files(spec))

  // index scans fan out on the bounded driver pool (a fleet directory
  // must not pay sequential summary walks)
  override def units(files: Seq[String], s: Planning): Seq[Planned] =
    graft.ros.DriverPool.parMap(files)(f => f -> McapIO.scanIndex(f)).flatMap { case (f, idx) =>
      val schemas = McapDataSource.schemaInfo(idx)
      if (!catalogMayMatch(s.filters, idx.channels.values, McapDataSource.catalog(schemas))) Nil
      else {
        idx.chunks.zipWithIndex.map { case (c, i) =>
          Planned(McapInputPartition(f, i, Some(c), Seq.empty, schemas, idx.channels),
            c.uncompressedSize, Some((c.messageStartTime, c.messageEndTime)))
        } ++ (if (idx.inlineMessages.isEmpty) Nil
          else Seq(Planned(McapInputPartition(f, -1, None, idx.inlineMessages, schemas,
            idx.channels), idx.inlineMessages.map(_._2).sum)))
      }
    }

  override def readers(required: StructType, filters: Array[Filter],
      limit: Int): PartitionReaderFactory =
    McapDataSource.readers(required, filters, limit, target, includeRaw)

  /** One stream covers a single STILL-GROWING file (the tolerant-tail
    * walk needs no footer), a directory of uploads and a glob alike: the
    * offset is a per-file (complete chunks, standalone messages) count,
    * both stable under append. Each trigger extends each file's
    * resumable walk (paying only for NEW bytes) and plans one partition
    * per new chunk plus one for any new standalone messages. A typed
    * stream pins the (schema_name, md5) variant resolved at its start:
    * the typed reader matches channels on (name, md5), and a file
    * carrying no matching variant is skipped whole (its offsets still
    * advance) rather than decoded with the wrong definition.
    */
  override def stream(required: StructType, filters: Array[Filter],
      limit: Int): MicroBatchStream = {
    val t = target
    new CountsStream(PerFile("files"), () => resolveTolerant(spec, McapDataSource.isMcap),
      _.flatMap { f =>
        try {
          val idx = McapIO.scanTolerant(f)
          Some(f -> Seq(idx.chunks.size.toLong, idx.inlineMessages.size.toLong))
        } catch { case _: java.io.FileNotFoundException => None }
      }.toMap,
      maxMerge, pathMayMatch(filters, "file_path", _),
      (f, from, until) => {
        val idx = McapIO.scanTolerant(f)
        val schemas = McapDataSource.schemaInfo(idx)
        if (!t.forall(tt => schemas.values.exists(sc => sc._1 == tt.schemaName && tt.md5s(sc._3))))
          Nil
        else {
          val Seq(fromChunks, fromInline) = from.getOrElse(Seq(0L, 0L)).map(_.toInt)
          val chunks = idx.chunks.zipWithIndex.slice(fromChunks, until(0).toInt)
            .filter { case (c, _) =>
              rangeMayMatch(filters, "log_time", c.messageStartTime, c.messageEndTime) }
            .map { case (c, i) =>
              McapInputPartition(f, i, Some(c), Seq.empty, schemas, idx.channels): InputPartition }
          val inline = idx.inlineMessages.slice(fromInline, until(1).toInt)
          chunks ++ (if (inline.isEmpty) Nil
            else Seq(McapInputPartition(f, -1, None, inline, schemas, idx.channels,
              ordinalBase = fromInline)))
        }
      },
      readers(required, filters, -1))
  }

  /** Metadata-only aggregate pushdown (graft.ros.MetadataAgg):
    * `count(*)` and `groupBy(topic/schema_name/channel_id/file_path)
    * .count()` read the summary Statistics record's per-channel
    * counts; ungrouped `min/max(log_time)` reads its
    * message_start_time/message_end_time (spec-defined as the min/max
    * log_time across ALL messages, chunked and inline) — no chunk is
    * ever decompressed. Refused (normal scan) when a file lacks
    * Statistics, its counts disagree with message_count, a counted
    * channel is absent from the catalog, or (min/max only) a
    * non-empty file stamps a degenerate 0/0 time range.
    * `publish_time` has no metadata range and falls back.
    */
  override def aggregate(a: Aggregation, offered: Array[Filter]): Option[Scan] = {
    import graft.ros.MetadataAgg
    MetadataAgg.parse(a, Set("file_path", "topic", "schema_name", "channel_id"),
        Set("log_time")).flatMap { case (cols, specs) =>
      val idx = graft.ros.DriverPool.parMap(McapDataSource.files(spec))(
        f => f -> McapIO.scanIndex(f))
      val needTimes = specs.exists(_ != MetadataAgg.CountStarSpec)
      val sound = idx.forall { case (_, i) =>
        i.stats.exists { st =>
          st.channelMessageCounts.values.sum == st.messageCount &&
            st.channelMessageCounts.keys.forall(i.channels.contains) &&
            // a writer that stamps counts but not times is not a
            // range source: BOTH bounds must be present and ordered
            // (a half-stamped record — start=0 under a non-empty
            // count — would push a silently wrong min). Conservative
            // cost: an epoch-0 sim-time file falls back to the scan.
            (!needTimes || st.messageCount == 0L ||
              (st.messageStartTime != 0L && st.messageEndTime != 0L &&
                st.messageStartTime <= st.messageEndTime))
        }
      }
      if (!sound) None
      else if (needTimes) {
        val perFile = idx.map { case (_, i) =>
          val st = i.stats.get
          if (st.messageCount == 0L) (0L, Map.empty[String, Any], Map.empty[String, Any])
          else (st.messageCount, Map[String, Any]("log_time" -> st.messageStartTime),
            Map[String, Any]("log_time" -> st.messageEndTime))
        }
        Some(new graft.ros.MetadataAggScan(MetadataAgg.schemaFor(specs,
          McapDataSource.SpineSchema), MetadataAgg.fileRows(specs, perFile), s"mcap $spec"))
      } else {
        val units = idx.flatMap { case (f, i) =>
          i.stats.get.channelMessageCounts.toSeq.map { case (id, n) =>
            val ch = i.channels(id)
            val schemaName = i.schemas.get(ch.schemaId).map(_.name).getOrElse("")
            (Map[String, Any]("file_path" -> f, "topic" -> ch.topic,
              "schema_name" -> schemaName, "channel_id" -> id), n)
          }
        }
        val nCounts = a.aggregateExpressions.length
        Some(new graft.ros.MetadataAggScan(MetadataAgg.schema(cols,
          McapDataSource.SpineSchema, nCounts), MetadataAgg.rows(cols, nCounts, units), s"mcap $spec"))
      }
    }
  }
}

/** chunk = Some(ref) for a chunk partition; None = the file's
  * standalone message segment (inline offsets shipped in the partition
  * — bounded: unchunked files are small by construction, a spec-
  * conformant large file is fully chunked). `ordinalBase` shifts the
  * emitted `offset` ordinal — a STREAMING inline partition carries
  * only the new slice of the file's standalone messages, and its
  * ordinals must continue the batch numbering (slice start), not
  * restart at 0.
  */
final case class McapInputPartition(path: String, chunkIdx: Int,
    chunk: Option[McapFormat.McapChunkRef], inline: Seq[(Long, Long)],
    schemas: Map[Int, (String, String, String)], // schemaId -> (name, encoding, md5)
    channels: Map[Int, McapFormat.McapChannel],
    ordinalBase: Int = 0) extends InputPartition

class McapPartitionReader(p: McapInputPartition, required: StructType,
    filters: Array[Filter], limit: Int) extends PartitionReader[InternalRow] {

  private lazy val messages: Iterator[(McapFormat.McapMessage, Int)] = {
    val raw: Iterator[McapFormat.McapMessage] = p.chunk match {
      case Some(ref) => McapFormat.chunkMessages(McapIO.readChunk(p.path, ref)).iterator
      case None => McapIO.readInlineMessages(p.path, p.inline).iterator
    }
    val keep = McapDataSource.keep(filters, p)
    val filtered = raw.zipWithIndex.filter { case (m, _) => keep(m) }
    if (limit >= 0) filtered.take(limit) else filtered
  }
  private var current: McapFormat.McapMessage = _
  private var currentOffset: Int = -1

  override def next(): Boolean =
    if (messages.hasNext) {
      val (m, i) = messages.next(); current = m; currentOffset = i + p.ordinalBase; true
    } else false

  // one-time compiled extractors + per-channel interned strings — the
  // same hot-path shape as RosbagPartitionReader
  private val pathUtf8 = UTF8String.fromString(p.path)
  private val topicUtf8: Map[Int, UTF8String] =
    p.channels.map { case (id, c) => id -> UTF8String.fromString(c.topic) }
  private val msgEncUtf8: Map[Int, UTF8String] =
    p.channels.map { case (id, c) => id -> UTF8String.fromString(c.messageEncoding) }
  private val schemaNameUtf8: Map[Int, UTF8String] =
    p.channels.map { case (id, c) =>
      id -> UTF8String.fromString(p.schemas.get(c.schemaId).map(_._1).getOrElse("")) }
  private val schemaEncUtf8: Map[Int, UTF8String] =
    p.channels.map { case (id, c) =>
      id -> UTF8String.fromString(p.schemas.get(c.schemaId).map(_._2).getOrElse("")) }
  private val extractors: Array[() => Any] = required.fields.map { f =>
    f.name match {
      case "file_path" => () => pathUtf8
      case "chunk_idx" => () => p.chunkIdx
      case "offset" => () => currentOffset
      case "log_time" => () => current.logTime
      case "publish_time" => () => current.publishTime
      case "sequence" => () => current.sequence
      case "size" => () => current.data.length
      case "channel_id" => () => current.channelId
      case "topic" => () => topicUtf8(current.channelId)
      case "schema_name" => () => schemaNameUtf8(current.channelId)
      case "schema_encoding" => () => schemaEncUtf8(current.channelId)
      case "message_encoding" => () => msgEncUtf8(current.channelId)
      case "data_crc32" => () => graft.ros.bag.RosbagDataSource.crc32(current.data)
      case "data" => () => current.data
    }
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](extractors.length)
    var i = 0
    while (i < extractors.length) { vals(i) = extractors(i)(); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
  override def close(): Unit = ()
}

/** Hadoop-FS-backed IO + driver index cache (mirrors RosbagIO). */
object McapIO {
  private def fs(path: String) = {
    val p = new Path(path)
    (p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()), p)
  }

  /** One record's PAYLOAD bytes at a known location — the side-table
    * scans' executor-side read (attachment/metadata refs carry
    * (recordOffset, payloadLen); the 9-byte record header is skipped).
    */
  def readPayload(path: String, recordOffset: Long, payloadLen: Long): Array[Byte] = {
    // loud, not NegativeArraySizeException: a single record payload
    // beyond the JVM array bound cannot be one byte[] column value
    require(payloadLen >= 0 && payloadLen <= Int.MaxValue - 16,
      s"mcap record at $path:$recordOffset is $payloadLen bytes — beyond " +
        "the JVM's 2 GiB array limit for a single binary cell")
    val (filesystem, p) = fs(path)
    val in = filesystem.open(p)
    try {
      in.seek(recordOffset + 9)
      val b = new Array[Byte](payloadLen.toInt)
      in.readFully(b)
      b
    } finally in.close()
  }

  // one index per path, latest (mtime, length) version — same shape and
  // rationale as RosbagIO's cache
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), McapFormat.McapIndex)]()

  def scanIndex(path: String): McapFormat.McapIndex = {
    val (filesystem, p) = fs(path)
    val st = filesystem.getFileStatus(p)
    val version = (st.getModificationTime, st.getLen)
    indexCache.compute(path, (_, cached) =>
      if (cached != null && cached._1 == version) cached
      else (version, McapFormat.scanIndex(() => filesystem.open(p), st.getLen))
    )._2
  }

  // resumable tolerant-walk cache for STREAMING reads of growing
  // files: keyed by path alone (the data section is append-only, so a
  // longer file extends the cached state; a SHORTER file means the
  // path was replaced — restart). Per trigger the walk pays only for
  // new bytes.
  private val walkCache = new java.util.concurrent.ConcurrentHashMap[
    String, McapFormat.McapWalkState]()

  /** Tolerant index of a possibly-still-growing file (no footer /
    * trailing magic required) — the streaming source's view.
    */
  def scanTolerant(path: String): McapFormat.McapIndex = {
    val (filesystem, p) = fs(path)
    val len = filesystem.getFileStatus(p).getLen
    walkCache.compute(path, (_, cached) => {
      val resume = Option(cached).filter(_.pos <= len)
      McapFormat.scanTolerant(() => filesystem.open(p), len, resume)
    }).index
  }

  def readChunk(path: String, ref: McapFormat.McapChunkRef): Array[Byte] = {
    val (filesystem, p) = fs(path)
    val in = filesystem.open(p)
    try {
      in.seek(ref.fileOffset + 9)
      val payload = new Array[Byte](ref.recordLength.toInt)
      in.readFully(payload)
      val (_, recOff, recLen) = McapFormat.parseChunkHeader(
        payload, ref.fileOffset, ref.recordLength)
      McapFormat.decompress(ref.compression,
        java.util.Arrays.copyOfRange(payload, recOff, (recOff + recLen).toInt),
        ref.uncompressedSize, ref.uncompressedCrc)
    } finally in.close()
  }

  def readInlineMessages(path: String, locs: Seq[(Long, Long)]): Seq[McapFormat.McapMessage] = {
    if (locs.isEmpty) return Seq.empty
    val (filesystem, p) = fs(path)
    val in = filesystem.open(p)
    try locs.map { case (off, len) =>
      in.seek(off + 9)
      val payload = new Array[Byte](len.toInt)
      in.readFully(payload)
      McapFormat.parseMessage(payload)
    } finally in.close()
  }
}

/** Typed MCAP reads: `option("schema_name", "pkg/msg/Type")` flattens
  * the CDR payload into columns — the ROS 2 sibling of
  * RosbagTypedRead (reference MessageTable.cpp flattening, O5-O8, over
  * the successor container + serialization).
  */
object McapTypedRead {
  val MetaFields: Seq[StructField] = Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("log_time", LongType, nullable = false),
    StructField("publish_time", LongType, nullable = false),
    StructField("sequence", LongType, nullable = false),
    StructField("channel_id", IntegerType, nullable = false),
    StructField("topic", StringType, nullable = false))

  // "seqno" included so the ETL frame (seqno + payload + ...) can never
  // collide with a payload field of that name — the staged and
  // per-type-scan ETL modes then emit identical column names (same
  // rationale as RosbagTypedRead.reserved)
  private[mcap] val reserved = MetaFields.map(_.name).toSet + "data" + "seqno"

  /** ONE schema text (drift across files fails loudly — the md5-drift
    * contract of the rosbag typed read, keyed on the schema bytes),
    * its md5 (the variant identity streams pin), and the files that
    * carry it.
    */
  final case class TypedTarget(schemaName: String, encoding: String,
                               schemaData: Array[Byte], files: Seq[String],
                               md5s: Set[String])

  def md5hex(data: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(data)
      .map("%02x".format(_)).mkString

  /** `md5` selects a definition VARIANT by md5-of-schema-bytes prefix
    * when the name drifts across files — the mcap twin of the rosbag
    * typed read's option("md5") contract (SURVEY §7.4.3).
    */
  def resolveTarget(path: String, schemaName: String,
                    md5: Option[String] = None): TypedTarget = {
    val variants = McapDataSource.files(path).flatMap { f =>
      McapIO.scanIndex(f).schemas.values
        .filter(_.name == schemaName)
        .map { s =>
          require(McapPayload.typedEncodings(s.encoding),
            s"schema $schemaName in $f has encoding '${s.encoding}'; typed " +
              s"mcap reads support ${McapPayload.typedEncodings.toSeq.sorted.mkString(", ")}")
          (md5hex(s.data), s.encoding, s.data, f)
        }
    }
    require(variants.nonEmpty, s"schema $schemaName not present in $path")
    val byMd5 = variants.groupBy(_._1)
    val chosen = md5 match {
      case Some(m) => byMd5.filter { case (k, _) => k.startsWith(m) }
      case None => byMd5
    }
    if (chosen.size == 1) {
      val (m, vs) = chosen.head
      return TypedTarget(schemaName, vs.head._2, vs.head._3,
        vs.map(_._4).distinct, Set(m))
    }
    // multiple byte-distinct variants: auto-MERGE when they are
    // semantically equivalent — identical flattened schema, identical
    // wire walk, one cdr/ros1 decoder family (never protobuf: field
    // numbers live in the descriptor, not the walk) — the shape a
    // faithful convert produces when one type arrives as ros2msg text
    // from one source and generated IDL from another. Genuinely
    // DIVERGENT definitions still refuse and take the md5 contract.
    // Try per variant: one corrupt definition must degrade to the
    // actionable variants error (selecting the healthy variant by
    // schema_md5 prefix still works), not an opaque parse exception
    val parsed = chosen.toSeq.sortBy(_._1).map { case (k, vs) =>
      (k, vs, scala.util.Try {
        val b = McapPayload.bundle(vs.head._2, schemaName, vs.head._3)
        (graft.ros.RosSchemaMapper.flatSchema(b),
          McapPayload.wireSignature(b),
          McapPayload.messageEncodingFor(vs.head._2))
      })
    }
    val equivalent = chosen.nonEmpty && parsed.forall(_._3.isSuccess) &&
      parsed.map(_._3.get).distinct.size == 1 &&
      parsed.head._3.get._3 != "protobuf"
    require(equivalent,
      s"schema $schemaName has ${byMd5.size} definition variants across $path " +
        s"(md5s: ${byMd5.keys.toSeq.sorted.mkString(", ")})" +
        (if (md5.isDefined) s"; md5 prefix '${md5.get}' matches ${chosen.size}"
         else "; pass option(\"schema_md5\", <prefix>) to select one"))
    val first = parsed.head
    TypedTarget(schemaName, first._2.head._2, first._2.head._3,
      parsed.flatMap(_._2.map(_._4)).distinct, parsed.map(_._1).toSet)
  }

  def typedSchema(bundle: graft.ros.RosMsgBundle, includeRaw: Boolean): StructType = {
    val payload = graft.ros.RosSchemaMapper.flatSchema(bundle).fields.map(f =>
      if (reserved(f.name)) f.copy(name = f.name + "_field") else f)
    val raw = if (includeRaw) Seq(StructField("data", BinaryType, nullable = false)) else Nil
    StructType(MetaFields ++ payload ++ raw)
  }
}

class McapTypedPartitionReader(p: McapInputPartition, schemaName: String,
    encoding: String, schemaData: Array[Byte], md5s: Set[String],
    required: StructType, includeRaw: Boolean,
    filters: Array[Filter]) extends PartitionReader[InternalRow] {
  import McapTypedRead._

  private lazy val bundle = McapPayload.bundle(encoding, schemaName, schemaData)
  private lazy val decode = McapPayload.decoder(encoding, schemaName, schemaData)
  private lazy val fullSchema = typedSchema(bundle, includeRaw)
  private lazy val projection: Array[Int] =
    required.fields.map(f => fullSchema.fieldIndex(f.name))
  // channels of THIS schema VARIANT set — matched on (name, md5), not
  // name alone: one file can legally register two same-name schemas
  // with different definitions (two schema ids), and decoding a
  // non-equivalent variant's channels with this bundle would mis-read
  // them silently. md5s holds several variants only when resolveTarget
  // proved them wire-equivalent (or the caller's prefix matched one).
  private lazy val typeChannels: Map[Int, McapFormat.McapChannel] =
    p.channels.filter { case (_, c) =>
      p.schemas.get(c.schemaId).exists(s => s._1 == schemaName && md5s(s._3)) }
  private lazy val messages: Iterator[(McapFormat.McapMessage, Int)] = {
    val raw = p.chunk match {
      case Some(ref) => McapFormat.chunkMessages(McapIO.readChunk(p.path, ref)).iterator
      case None => McapIO.readInlineMessages(p.path, p.inline).iterator
    }
    val keep = graft.ros.ContainerSource.compile(filters, McapDataSource.cols(p))
    raw.zipWithIndex.filter { case (m, _) => typeChannels.contains(m.channelId) && keep(m) }
  }
  private var current: McapFormat.McapMessage = _
  private var currentOffset: Int = -1
  private val pathUtf8 = UTF8String.fromString(p.path)
  private lazy val topicUtf8: Map[Int, UTF8String] =
    p.channels.map { case (id, c) => id -> UTF8String.fromString(c.topic) }

  override def next(): Boolean =
    if (messages.hasNext) {
      val (m, i) = messages.next()
      val want = McapPayload.messageEncodingFor(encoding)
      require(typeChannels(m.channelId).messageEncoding == want,
        s"channel ${m.channelId} encodes messages as " +
          s"'${typeChannels(m.channelId).messageEncoding}'; schema encoding " +
          s"'$encoding' decodes '$want'")
      current = m; currentOffset = i + p.ordinalBase; true
    } else false

  private lazy val needsPayload: Boolean =
    projection.exists(i => i >= MetaFields.size &&
      !(includeRaw && i == fullSchema.size - 1))

  override def get(): InternalRow = {
    val nFields = fullSchema.size
    val full = new Array[Any](nFields)
    full(0) = pathUtf8; full(1) = p.chunkIdx; full(2) = currentOffset
    full(3) = current.logTime; full(4) = current.publishTime
    full(5) = current.sequence; full(6) = current.channelId
    full(7) = topicUtf8(current.channelId)
    if (includeRaw) full(nFields - 1) = current.data
    if (needsPayload) {
      val vals = decode(current.data)
      var i = 0
      val it = vals.iterator
      while (it.hasNext) { full(MetaFields.size + i) = it.next(); i += 1 }
    }
    InternalRow.fromSeq(projection.toSeq.map { i =>
      graft.ros.bag.RosbagTypedRead.toCatalyst(full(i), fullSchema.fields(i).dataType)
    })
  }
  override def close(): Unit = ()
}

/** Dimension tables for MCAP inputs — the Connections analog
  * (reference FlattenedRosWriter.cpp:90-137) for the ROS 2 container.
  */
object McapTables {
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}

  val ChannelsSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("channel_id", IntegerType, nullable = false),
    StructField("schema_id", IntegerType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("message_encoding", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = true),
    StructField("schema_encoding", StringType, nullable = true)))

  /** One [[ChannelsSchema]] row per (file, channel), by channel id. */
  def channelRows(files: Seq[String]): Seq[Row] =
    files.flatMap { f =>
      val idx = McapIO.scanIndex(f)
      idx.channels.values.toSeq.sortBy(_.id).map { c =>
        val s = idx.schemas.get(c.schemaId)
        Row(f, c.id, c.schemaId, c.topic, c.messageEncoding,
          s.map(_.name).orNull, s.map(_.encoding).orNull)
      }
    }

  def channels(spark: SparkSession, path: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      channelRows(McapDataSource.files(path)), 1), ChannelsSchema)

  /** Attachment records as a DataFrame (executor-side body reads —
    * see [[McapSideTables]]); equivalent to
    * `spark.read.format("mcap").option("table", "attachments")`.
    */
  def attachments(spark: SparkSession, path: String): DataFrame =
    spark.read.format("mcap").option("table", "attachments").load(path)

  /** Metadata records exploded to (file_path, name, key, value). */
  def metadata(spark: SparkSession, path: String): DataFrame =
    spark.read.format("mcap").option("table", "metadata").load(path)
}
