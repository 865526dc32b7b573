package graft.ros.bag

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
import graft.ros.{ContainerSource, MetadataAgg, MetadataAggScan, MsgDefParser, PartitionPacking}

/** DataSource V2 `rosbag` batch source — the Spark re-expression of the
  * reference's scan loop (reference rosbag2parquet.cpp:41-63): one
  * InputPartition per bag chunk (the bag's own parallelism grain; its
  * chunk index is the analog of parquet row groups, reference
  * README.md:8-10), per-message rows with bag receipt time, size,
  * connection identity and the raw serialized blob.
  *
  * Pushdown surface (SURVEY.md §4):
  *  - required columns: the `data` blob is only materialized when asked
  *    for (the reference reads header fields "before deciding whether to
  *    incur I/O for the image blob", README.md:10);
  *  - filters on connection_id/topic/datatype/time_sec are evaluated
  *    inside the reader before row construction (residuals are kept —
  *    Spark re-applies all filters above);
  *  - limit: per-partition early stop (the reference's --max_mbs,
  *    main.cpp:26).
  *
  * Metadata column `seqno` (`df.metadataColumn("seqno")`): the message's
  * position in the whole load's merge-time order, numbered from the
  * chunk index inside the scan (RosbagSeqno). Selecting it plans whole
  * overlap groups of chunks instead of single chunks; a load with a
  * chunk that lacks its chunk-info record (an unclosed recording)
  * cannot select it.
  *
  * Usage: spark.read.format("rosbag").load(path), or
  * `option("bags", ContainerSource.filesSpec(paths))` for one scan
  * relation over an explicit bag subset (the incremental ETL's new-bags
  * slice) instead of an N-way union. Connections are exposed separately
  * via `RosbagTables.connections(spark, path)`.
  */
class RosbagDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "rosbag"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = ContainerSource.pathSpec(options, "bags")
    Option(options.get("datatype")) match {
      case Some(dt) =>
        val target = RosbagTypedRead.resolveTarget(path, dt, Option(options.get("md5")))
        RosbagTypedRead.typedSchema(MsgDefParser.parse(dt, target.msgDef),
          options.getBoolean("includeRaw", false))
      case None => RosbagDataSource.SpineSchema
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // properties arrive case-SENSITIVE; inferSchema saw them case-
    // insensitively — mismatched handling would silently build a spine
    // table under a typed schema
    val opts = new CaseInsensitiveStringMap(properties)
    new RosbagTable(ContainerSource.pathSpec(opts, "bags"),
      Option(opts.get("datatype")),
      opts.getBoolean("includeRaw", false),
      Option(opts.get("md5")))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object RosbagDataSource {
  import ContainerSource._

  def isBag(name: String): Boolean = name.endsWith(".bag")

  /** The bag files `spec` denotes (a directory lists its *.bag children). */
  def files(spec: String): Seq[String] = resolve(spec, isBag, ".bag")

  val Roles: ContainerSource.Roles = {
    val cols = Set("connection_id", "topic", "datatype", "time_sec", "bag_path")
    ContainerSource.Roles("bag_path", Some("time_sec"), cols, cols,
      Seq("bag_path", "topic", "datatype", "connection_id"))
  }

  /** The connection catalog's filter columns. */
  val catalog: PartialFunction[String, Col[BagFormat.BagConnection]] = {
    case "topic" => StrCol[BagFormat.BagConnection](_.topic)
    case "datatype" => StrCol[BagFormat.BagConnection](_.datatype)
    case "connection_id" => LongCol[BagFormat.BagConnection](_.connId)
  }

  /** A bag's connections by id. A typed read pins ONE (datatype, md5)
    * variant: a bag carrying both variants of the datatype (two
    * connections) must not decode the other variant's messages with
    * this definition, so mismatched same-datatype connections drop and
    * the reader's type filter skips them.
    */
  def conns(index: BagFormat.BagIndex, variant: Option[(String, String)])
      : Map[Int, BagFormat.BagConnection] =
    index.connections.map(c => c.connId -> c).toMap.filter { case (_, c) =>
      variant.forall { case (dt, md5) => c.datatype != dt || c.md5sum == md5 } }

  /** A chunk's chunk-info `time_sec` range; chunks without one (foreign
    * writers) are never pruned.
    */
  def range(c: BagFormat.BagChunk): Option[(Long, Long)] = (c.startTime, c.endTime) match {
    case (Some((lo, _)), Some((hi, _))) => Some((lo.toLong, hi.toLong))
    case _ => None
  }

  /** The spine or typed readers of a scan; every spine column vectorizes
    * (ints / interned strings / nullable stamps / binary), a typed scan
    * when every required column has a columnar shape.
    */
  def readers(required: StructType, filters: Array[Filter], limit: Int,
      typed: Option[(String, String)], includeRaw: Boolean): PartitionReaderFactory =
    typed match {
      case Some((dt, msgDef)) => new Readers(
        p => new RosbagTypedPartitionReader(p, dt, msgDef, required, includeRaw, filters),
        if (RosbagColumnarRead.enabled && RosbagColumnarRead.supportsColumnar(required))
          Some(p => new RosbagTypedColumnarReader(p, dt, msgDef, required, includeRaw, filters))
        else None)
      case None => new Readers(
        p => new RosbagPartitionReader(p, required, filters, limit),
        if (RosbagColumnarRead.enabled)
          Some(p => new RosbagMetaColumnarReader(p, required, filters, limit))
        else None)
    }

  /** The message-spine schema (reference Messages table,
    * FlattenedRosWriter.cpp:49-87, plus the connection attributes the
    * per-type tables re-join for, README.md:108-121). chunk_idx/offset
    * give the stable storage order used for seqno tie-breaks.
    */
  val SpineSchema: StructType = StructType(Seq(
    // which bag this row came from — constant within a bag, the fleet/
    // dataset dimension when load() is given a directory or glob. With
    // (chunk_idx, offset) it is the stable storage identity of a row.
    StructField("bag_path", StringType, nullable = false),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("time_sec", IntegerType, nullable = false),
    StructField("time_nsec", IntegerType, nullable = false),
    StructField("size", IntegerType, nullable = false),
    StructField("connection_id", IntegerType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("datatype", StringType, nullable = false),
    // std_msgs/Header stamp of the MESSAGE (sensor time), as opposed to
    // time_sec/time_nsec which is bag RECEIPT time — reference TODO
    // rosbag2parquet.cpp:28-30. Null for types whose first field is not
    // a Header. Read from the fixed 12-byte wire prefix (uint32 seq,
    // uint32 sec, uint32 nsec) without a full decode.
    StructField("header_stamp_sec", IntegerType, nullable = true),
    StructField("header_stamp_nsec", IntegerType, nullable = true),
    // CRC32 of the serialized message bytes (reference TODO
    // rosbag2parquet.cpp:28 "compute per msg crc"). Long because CRC32
    // is an unsigned 32-bit value. Computed only when the column is
    // projected (pruned scans never touch it); the per-FILE checksum is
    // the bit_xor aggregate of these, see BagEtl.Info.crcXor.
    StructField("data_crc32", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** Dense 0-based position of the message in the load's merge-time
    * order — the reference's seqno, numbered from the chunk index
    * inside the scan (RosbagSeqno).
    */
  object SeqnoColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = RosbagSeqno.Column
    override def dataType(): DataType = LongType
    override def isNullable(): Boolean = false
  }

  /** Does this connection's type start with a std_msgs/Header field?
    * (ROS convention: Header, if present, is the first field — only
    * then is the stamp at a fixed wire offset.) Memoized JVM-wide: the
    * full recursive IDL parse would otherwise run once per PARTITION
    * per connection (readers memoize per-reader), which a
    * thousand-chunk bag with dozens of connections turns into real
    * per-task latency. Bounded by the number of distinct definitions.
    */
  private val headerMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Boolean]()
  def startsWithHeader(datatype: String, msgDef: String): Boolean =
    headerMemo.computeIfAbsent((datatype, msgDef), { _ =>
      try {
        MsgDefParser.parse(datatype, msgDef).root.fields
          .find(_.constantValue.isEmpty)
          .exists(_.tpe match {
            case graft.ros.RosMsgRef(pkg, "Header") =>
              pkg.forall(p => p == "std_msgs" || p == "roslib")
            case _ => false
          })
      } catch { case _: Exception => false }
    })

  def leInt(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

  /** CRC32 of a message payload — JDK zlib intrinsics, ~GB/s; cheap
    * next to chunk decompression and the wire walk.
    */
  def crc32(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, 0, b.length)
    c.getValue
  }
}

class RosbagTable(path: String, datatype: Option[String] = None,
                  includeRaw: Boolean = false, md5: Option[String] = None)
    extends ContainerSource.ContainerTable("rosbag", path, datatype,
      datatype.map(_ => "datatype read option"), "BagExport.prepare")
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  // typed reads resolve (datatype, md5 variant) -> one msg def + the
  // bags that carry it, ONCE per table (multi-bag loads with schema
  // drift pick a variant via option("md5", prefix))
  private lazy val target: Option[RosbagTypedRead.TypedTarget] =
    datatype.map(dt => RosbagTypedRead.resolveTarget(path, dt, md5))
  override def schema(): StructType = target match {
    case Some(t) =>
      RosbagTypedRead.typedSchema(MsgDefParser.parse(t.datatype, t.msgDef), includeRaw)
    case None => RosbagDataSource.SpineSchema
  }
  // the global seqno (RosbagSeqno), read with
  // Dataset.metadataColumn("seqno"): never part of `SELECT *`, so every
  // scan that does not ask for it plans and reads as before
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(RosbagDataSource.SeqnoColumn)
  override protected def read: ContainerSource.Read = new RosbagRead(path, target, includeRaw)
  override protected def sink(req: graft.ros.ContainerSink.Request): graft.ros.ContainerSink.Format =
    BagSink(req)
}

/** The rosbag read: one unit per bag chunk, its chunk-info time range
  * pruning `time_sec`, the connection catalog pruning topic / datatype /
  * connection_id. A typed read plans only the bags carrying the resolved
  * (datatype, md5) variant. Format hooks: the `seqno` column's overlap
  * groups and the metadata-only aggregates.
  */
final class RosbagRead(val spec: String, target: Option[RosbagTypedRead.TypedTarget],
    includeRaw: Boolean) extends ContainerSource.Read {
  import ContainerSource._
  override def kind: String = "rosbag"
  override def roles: Roles = RosbagDataSource.Roles
  override def typed: Option[String] = target.map(_.datatype)
  // typed reads push only the columns their reader sees before decode
  override def typedCols: Set[String] = Set("connection_id", "time_sec", "bag_path")
  override lazy val files: Seq[String] = target.map(_.bags).getOrElse(RosbagDataSource.files(spec))

  private def numbered(required: StructType) = required.fieldNames.contains(RosbagSeqno.Column)

  override def units(files: Seq[String], s: Planning): Seq[Planned] =
    RosbagIO.scanIndexes(files)
      .filter { case (_, index) =>
        catalogMayMatch(s.filters, index.connections, RosbagDataSource.catalog) }
      .flatMap { case (bag, index) =>
        val conns = RosbagDataSource.conns(index, target.map(t => (t.datatype, t.md5)))
        index.chunks.zipWithIndex.map { case (c, i) =>
          Planned(RosbagInputPartition(bag, i, c, conns), c.uncompressedSize.toLong,
            RosbagDataSource.range(c))
        }
      }

  // rosbag1's DEFAULT chunk threshold is 768 KB — one task per chunk
  // plans millions of partitions on a real fleet; the core packs
  // consecutive chunks to Spark's file-split budget, a numbered scan
  // packs whole overlap groups instead
  override def arrange(units: Seq[Planned], s: Planning): Array[InputPartition] =
    if (!numbered(s.required)) super.arrange(units, s)
    else PartitionPacking.packPartitions(
      seqnoGroups(units.map(_.part.asInstanceOf[RosbagInputPartition]), s.offered))

  /** A numbered scan reads whole overlap groups of the WHOLE load —
    * whatever datatype, md5 or filters narrow its output — so each
    * message's rank counts every message of its group, other bags'
    * included. Groups with no chunk this scan emits, or outside its
    * seqno bounds, drop. A load its index cannot number (a chunk
    * without chunk-info) fails here, at planning.
    */
  private def seqnoGroups(emitted: Seq[RosbagInputPartition],
      offered: Array[Filter]): Seq[(InputPartition, Long)] = {
    val byChunk = emitted.map(p => (p.path, p.chunkIdx) -> p).toMap
    val bounds = offered.filter(RosbagSeqno.isSeqnoFilter)
    RosbagSeqno.groups(RosbagIO.scanIndexes(RosbagDataSource.files(spec)))
      .fold(why => throw new UnsupportedOperationException(
        s"the seqno column numbers a load from its bag index, which cannot number this one: $why"),
        identity)
      .filter(g => bounds.forall(RosbagSeqno.groupMayMatch(_, g)) &&
        g.chunks.exists(c => byChunk.contains((c._1, c._2))))
      .map { g =>
        val parts = RosbagSeqno.tieBreakOrder(g.chunks).map { case (b, i, c) =>
          byChunk.getOrElse((b, i), RosbagInputPartition(b, i, c, Map.empty)) }
        (RosbagSeqnoPartition(g.base, parts.toArray,
          parts.map(p => byChunk.contains((p.path, p.chunkIdx))).toArray), g.bytes)
      }
  }

  override def readers(required: StructType, filters: Array[Filter],
      limit: Int): PartitionReaderFactory =
    RosbagDataSource.readers(required, filters, limit,
      target.map(t => (t.datatype, t.msgDef)), includeRaw)

  /** A single existing FILE is tailed as one growing bag
    * (`{"chunkCount":n}`); a directory or glob streams as a fleet-ingest
    * archive — new bags AND new chunks of known bags are picked up per
    * trigger. Bags are append-only (chunk indexes are stable once
    * written), so offsets replay exactly. Typed streams pin the (datatype,
    * md5) variant resolved at stream start: same-datatype connections
    * with another definition drop from the chunk's connection map, so a
    * drifted bag arriving mid-stream is skipped for this stream rather
    * than decoded with the wrong definition.
    */
  override def stream(required: StructType, filters: Array[Filter],
      limit: Int): MicroBatchStream = {
    if (numbered(required)) throw new UnsupportedOperationException(
      "the seqno column numbers a whole batch load; streams cannot select it")
    // the tailed file's qualified URI: its bag_path values equal a batch read's
    val single: Option[String] =
      if (spec.contains('\n') || spec.exists(c => "*?[]{}".indexOf(c.toInt) >= 0)) None
      else {
        val p = new Path(spec)
        try Some(p.getFileSystem(RosbagIO.hadoopConf()).getFileStatus(p))
          .filter(_.isFile).map(_.getPath.toString)
        catch { case _: java.io.FileNotFoundException => None }
      }
    val variant = target.map(t => (t.datatype, t.md5))
    val plan = (bag: String, from: Option[Seq[Long]], until: Seq[Long]) => {
      val index = RosbagIO.scanIndex(bag)
      val conns = RosbagDataSource.conns(index, variant)
      index.chunks.zipWithIndex.slice(from.fold(0L)(_.head).toInt, until.head.toInt)
        .filter { case (c, _) => RosbagDataSource.range(c).forall { case (lo, hi) =>
          rangeMayMatch(filters, "time_sec", lo, hi) } }
        .map { case (c, i) => RosbagInputPartition(bag, i, c, conns): InputPartition }
    }
    val rd = readers(required, filters, -1)
    single match {
      case Some(bag) =>
        new CountsStream(OneFile(bag), () => Seq(bag),
          _ => Map(bag -> Seq(RosbagIO.scanIndex(bag).chunks.size.toLong)),
          maxMerge, pathMayMatch(filters, "bag_path", _), plan, rd)
      case None =>
        // tolerant: a bag deleted between the listing and the index
        // open is simply not offered this trigger (it keeps any
        // committed count)
        new CountsStream(PerFile("bags"),
          () => resolveTolerant(spec, RosbagDataSource.isBag),
          bags => RosbagIO.scanIndexesTolerant(bags)
            .map { case (b, index) => b -> Seq(index.chunks.size.toLong) }.toMap,
          maxMerge, pathMayMatch(filters, "bag_path", _), plan, rd)
    }
  }

  /** Metadata-only aggregate pushdown (graft.ros.MetadataAgg):
    * `count(*)` and `groupBy(topic/datatype/connection_id/bag_path)
    * .count()` sum the chunk-info records' per-connection counts;
    * ungrouped `min/max(time_sec)` reads the chunk-info start/end
    * times (start_time = the chunk's earliest (sec,nsec) receive
    * stamp, so its SEC is the minimum time_sec — sec is the
    * high-order component of the lexicographic order; likewise the
    * max). No chunk body is ever read. Refused (normal scan) when any
    * chunk lacks chunk-info counts/times, counts a connection absent
    * from the catalog, or a seqno bound is in force.
    * min/max(time_nsec) is NOT answerable from metadata (the nsec of
    * the extreme message is not the extreme nsec) and falls back.
    */
  override def aggregate(a: Aggregation, offered: Array[Filter]): Option[Scan] = {
    if (offered.exists(RosbagSeqno.isSeqnoFilter)) return None
    MetadataAgg.parse(a, Set("bag_path", "topic", "datatype", "connection_id"),
        Set("time_sec")).flatMap { case (cols, specs) =>
      val idx = RosbagIO.scanIndexes(RosbagDataSource.files(spec))
      val needTimes = specs.exists(_ != MetadataAgg.CountStarSpec)
      val sound = idx.forall { case (_, index) =>
        val connIds = index.connections.map(_.connId).toSet
        index.chunks.forall(ch =>
          ch.connCounts.exists(_.forall { case (id, _) => connIds.contains(id) }) &&
            (!needTimes || (ch.startTime.isDefined && ch.endTime.isDefined)))
      }
      if (!sound) None
      else if (needTimes) {
        val perFile = idx.map { case (_, index) =>
          // message-bearing chunks only: an empty chunk's info times
          // (a foreign writer may stamp them 0) must not pollute min
          val full = index.chunks.filter(_.connCounts.get.map(_._2.toLong).sum > 0L)
          val n = full.flatMap(_.connCounts.get).map(_._2.toLong).sum
          if (full.isEmpty) (0L, Map.empty[String, Any], Map.empty[String, Any])
          else (n, Map[String, Any]("time_sec" -> full.map(_.startTime.get._1).min),
            Map[String, Any]("time_sec" -> full.map(_.endTime.get._1).max))
        }
        Some(new MetadataAggScan(MetadataAgg.schemaFor(specs, RosbagDataSource.SpineSchema),
          MetadataAgg.fileRows(specs, perFile), s"rosbag $spec"))
      } else {
        val units = idx.flatMap { case (bag, index) =>
          val conns = index.connections.map(c => c.connId -> c).toMap
          index.chunks.flatMap(_.connCounts.get).map { case (id, n) =>
            val c = conns(id)
            (Map[String, Any]("bag_path" -> bag, "topic" -> c.topic,
              "datatype" -> c.datatype, "connection_id" -> id), n.toLong)
          }
        }
        val nCounts = a.aggregateExpressions.length
        Some(new MetadataAggScan(MetadataAgg.schema(cols, RosbagDataSource.SpineSchema, nCounts),
          MetadataAgg.rows(cols, nCounts, units), s"rosbag $spec"))
      }
    }
  }

  override def describe(s: Planning): String = if (numbered(s.required)) ", seqno" else ""
}

final case class RosbagInputPartition(path: String, chunkIdx: Int,
    chunk: BagFormat.BagChunk, conns: Map[Int, BagFormat.BagConnection])
  extends InputPartition

object RosbagPartitionReader {
  import ContainerSource.{Col, LongCol, StrCol}

  /** The filter columns of one chunk's messages. */
  def cols(c: RosbagInputPartition): PartialFunction[String, Col[BagFormat.BagMessage]] = {
    case "connection_id" => LongCol[BagFormat.BagMessage](_.connId)
    case "time_sec" => LongCol[BagFormat.BagMessage](_.timeSec)
    case "topic" => StrCol[BagFormat.BagMessage](m => c.conns(m.connId).topic)
    case "datatype" => StrCol[BagFormat.BagMessage](m => c.conns(m.connId).datatype)
    case "bag_path" => StrCol[BagFormat.BagMessage](_ => c.path)
  }

  /** The spine scan's row filter for one chunk: every message must
    * reference a catalogued connection; pushed filters drop rows before
    * any column is built.
    */
  def keepFor(filters: Array[Filter])(c: RosbagInputPartition)
      : BagFormat.BagMessage => Boolean = {
    val keep = ContainerSource.compile(filters, cols(c))
    m => {
      if (!c.conns.contains(m.connId))
        throw new IllegalStateException(s"message references unknown connection ${m.connId}")
      keep(m)
    }
  }
}

class RosbagPartitionReader(p: InputPartition, required: StructType,
    filters: Array[Filter], limit: Int) extends PartitionReader[InternalRow] {

  private val cur = new BagCursor(p, RosbagPartitionReader.keepFor(filters), limit)

  private def headerStamp(nsec: Boolean): Any =
    if (cur.ctx.hasHeader(cur.msg.connId) && cur.msg.data.length >= 12)
      RosbagDataSource.leInt(cur.msg.data, if (nsec) 8 else 4)
    else null

  override def next(): Boolean = cur.next()

  // The projection compiles ONCE per reader into an extractor array —
  // no per-row per-field name dispatch, no Seq allocation. UTF8 topic/
  // datatype strings are interned per connection, not re-encoded per
  // row. This is the spine-scan hot path: every ETL meta pass and every
  // query-in-place meta projection runs through here.
  private val extractors: Array[() => Any] = required.fields.map { f =>
    f.name match {
      case "bag_path" => () => cur.ctx.pathUtf8
      case "chunk_idx" => () => cur.part.chunkIdx
      case "offset" => () => cur.msg.offsetInChunk
      case "time_sec" => () => cur.msg.timeSec
      case "time_nsec" => () => cur.msg.timeNsec
      case "size" => () => cur.msg.data.length
      case "connection_id" => () => cur.msg.connId
      case "topic" => () => cur.ctx.topicUtf8(cur.msg.connId)
      case "datatype" => () => cur.ctx.datatypeUtf8(cur.msg.connId)
      case "header_stamp_sec" => () => headerStamp(nsec = false)
      case "header_stamp_nsec" => () => headerStamp(nsec = true)
      case "data_crc32" => () => RosbagDataSource.crc32(cur.msg.data)
      case "data" => () => cur.msg.data
      case RosbagSeqno.Column => () => cur.seqno
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

/** Hadoop-FS-backed IO so bags on hdfs:///s3:// work like file://. */
object RosbagIO {
  /** The session's Hadoop configuration when a session exists (driver-
    * side planning/listing — this is where `spark.hadoop.*` object-
    * store credentials must reach), falling back to the default
    * Configuration (executor-side partition readers, where cluster
    * deployments inject credentials via core-site.xml — the standard
    * non-session channel). getDefaultSession covers driver background
    * threads (the parallel index-scan pool) where the thread-local
    * active session is unset.
    *
    * CACHED per session (weak keys — a stopped session must not pin
    * its conf): `sessionState.newHadoopConf()` clones the full Spark
    * conf into a fresh Configuration, several MILLISECONDS per call,
    * and this helper sits on per-chunk/per-lookup paths — the uncached
    * version made McapIO.readChunk 6 ms/chunk (10 MB/s single-thread,
    * measured) with the clone 97% of it. Callers must treat the
    * returned conf as READ-ONLY.
    *
    * Built with `file:` paths on [[graft.io.LocalFs]] (unless the
    * session names its own `fs.file.impl`), so graft's local writes
    * through it create files without a process fork per file.
    */
  private val confCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.hadoop.conf.Configuration]())
  private lazy val fallbackConf =
    graft.io.LocalFs.install(new org.apache.hadoop.conf.Configuration())
  private[graft] def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
      case Some(s) =>
        confCache.computeIfAbsent(s, s => graft.io.LocalFs.install(s.sessionState.newHadoopConf()))
      case None => fallbackConf
    }

  private def fs(path: String) = {
    val p = new Path(path)
    (p.getFileSystem(hadoopConf()), p)
  }

  /** Scan many bag indexes concurrently (cache-aware) on the bounded
    * driver pool: the per-bag index read is driver-side metadata I/O,
    * and a 10k-bag corpus would otherwise pay it serially on every plan.
    * The original failure ("corrupt bag ...") surfaces.
    */
  def scanIndexes(paths: Seq[String]): Seq[(String, BagFormat.BagIndex)] =
    graft.ros.DriverPool.parMap(paths)(p => p -> scanIndex(p))

  /** scanIndexes that DROPS bags vanishing between listing and open
    * (fleet uploaders delete/rename mid-trigger) — for discovery paths
    * like a stream's latestOffset, where a disappeared bag simply
    * isn't offered; committed replays stay strict.
    */
  def scanIndexesTolerant(paths: Seq[String]): Seq[(String, BagFormat.BagIndex)] =
    graft.ros.DriverPool.parMap(paths) { p =>
      try Some(p -> scanIndex(p)) catch { case _: java.io.FileNotFoundException => None }
    }.flatten

  // Index cache: every Spark action re-plans the scan, and an uncached
  // scanIndex re-reads the WHOLE bag driver-side per action. ONE entry
  // per path (latest version): a tailed bag changes (mtime, length)
  // every trigger, so versioned keys would leak an index per append.
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), BagFormat.BagIndex)]()

  def scanIndex(path: String): BagFormat.BagIndex = {
    val (filesystem, p) = fs(path)
    val st = filesystem.getFileStatus(p)
    val version = (st.getModificationTime, st.getLen)
    indexCache.compute(path, (_, cached) =>
      if (cached != null && cached._1 == version) cached
      else (version, BagFormat.scanIndex(() => filesystem.open(p)))
    )._2
  }

  def readChunkData(path: String, chunk: BagFormat.BagChunk): Array[Byte] = {
    val (filesystem, p) = fs(path)
    val in = filesystem.open(p)
    try {
      in.seek(chunk.dataOffset)
      val buf = new Array[Byte](chunk.dataLength)
      in.readFully(buf)
      buf
    } finally in.close()
  }
}
