package graft.ros.bag

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.ros.MsgDefParser

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
  * Usage: spark.read.format("rosbag").load(path). Connections are
  * exposed separately via `RosbagTables.connections(spark, path)`.
  */
class RosbagDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "rosbag"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = RosbagDataSource.pathSpec(options)
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
    new RosbagTable(RosbagDataSource.pathSpec(opts),
      Option(opts.get("datatype")),
      opts.getBoolean("includeRaw", false),
      Option(opts.get("md5")))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object RosbagDataSource {
  /** The path spec a table reads: `option("bags", "<p1>\n<p2>...")`
    * (an EXPLICIT newline-separated list — lets a caller plan one scan
    * relation over an arbitrary bag subset, e.g. the incremental ETL's
    * new-bags slice, instead of an N-way union) or the ordinary
    * load-path. Each listed entry may itself be a file/dir/glob;
    * RosbagIO.resolveBags splits and resolves.
    */
  def pathSpec(opts: CaseInsensitiveStringMap): String = {
    val bags = opts.get("bags")
    if (bags != null && bags.nonEmpty) bags else opts.get("path")
  }

  /** Build the newline-separated "bags" option value from resolved
    * paths. '\n' is the list separator, so a POSIX path containing a
    * newline (legal, and a case RosbagDirOffset's escaping supports)
    * cannot ride this spec — it would silently split into two
    * nonexistent entries. Fail loudly at construction instead.
    */
  def bagsSpec(bags: Seq[String]): String = {
    bags.find(_.contains('\n')).foreach { b =>
      throw new IllegalArgumentException(
        "bag path contains a newline and cannot be passed via the " +
        s"newline-separated 'bags' option: ${b.replace("\n", "\\n")}")
    }
    bags.mkString("\n")
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
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with graft.ros.ContainerSink.LandedMetrics
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  // typed reads resolve (datatype, md5 variant) -> one msg def + the
  // bags that carry it, ONCE per table (multi-bag loads with schema
  // drift pick a variant via option("md5", prefix))
  private lazy val target: Option[RosbagTypedRead.TypedTarget] =
    datatype.map(dt => RosbagTypedRead.resolveTarget(path, dt, md5))
  override def name(): String = s"rosbag:$path${datatype.map(":" + _).getOrElse("")}"
  override def schema(): StructType = target match {
    case Some(t) =>
      RosbagTypedRead.typedSchema(MsgDefParser.parse(t.datatype, t.msgDef), includeRaw)
    case None => RosbagDataSource.SpineSchema
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  // the global seqno (RosbagSeqno), read with
  // Dataset.metadataColumn("seqno"): never part of `SELECT *`, so every
  // scan that does not ask for it plans and reads as before
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(RosbagDataSource.SeqnoColumn)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RosbagScanBuilder(path, schema(), target, includeRaw)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(datatype.isEmpty,
      "rosbag write goes through the spine shape — drop the datatype read option")
    graft.ros.ContainerSink.builder(path, info, this, "rosbag", "BagExport.prepare")(BagSink(_))
  }
}

class RosbagScanBuilder(path: String, fullSchema: StructType,
    typed: Option[RosbagTypedRead.TypedTarget] = None, includeRaw: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var seqnoFilters: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var agg: Option[(StructType, Seq[Seq[Any]])] = None

  /** Metadata-only aggregate pushdown (graft.ros.MetadataAgg):
    * `count(*)` and `groupBy(topic/datatype/connection_id/bag_path)
    * .count()` sum the chunk-info records' per-connection counts;
    * ungrouped `min/max(time_sec)` reads the chunk-info start/end
    * times (start_time = the chunk's earliest (sec,nsec) receive
    * stamp, so its SEC is the minimum time_sec — sec is the
    * high-order component of the lexicographic order; likewise the
    * max). No chunk body is ever read. Refused (normal scan) when any
    * chunk lacks chunk-info counts/times or counts a connection
    * absent from the catalog. min/max(time_nsec) is NOT answerable
    * from metadata (the nsec of the extreme message is not the
    * extreme nsec) and falls back.
    */
  override def pushAggregation(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import graft.ros.MetadataAgg
    if (typed.isDefined || pushed.nonEmpty || seqnoFilters.nonEmpty || limit >= 0)
      return false
    MetadataAgg.parse(a,
        Set("bag_path", "topic", "datatype", "connection_id"),
        Set("time_sec")) match {
      case None => false
      case Some((cols, specs)) =>
        val idx = RosbagIO.scanIndexes(RosbagIO.resolveBags(path))
        val needTimes = specs.exists(_ != MetadataAgg.CountStarSpec)
        val sound = idx.forall { case (_, index) =>
          val connIds = index.connections.map(_.connId).toSet
          index.chunks.forall(ch =>
            ch.connCounts.exists(
              _.forall { case (id, _) => connIds.contains(id) }) &&
              (!needTimes || (ch.startTime.isDefined && ch.endTime.isDefined)))
        }
        if (!sound) false
        else if (needTimes) {
          val perFile = idx.map { case (_, index) =>
            // message-bearing chunks only: an empty chunk's info times
            // (a foreign writer may stamp them 0) must not pollute min
            val full = index.chunks.filter(
              _.connCounts.get.map(_._2.toLong).sum > 0L)
            val n = full.flatMap(_.connCounts.get).map(_._2.toLong).sum
            if (full.isEmpty)
              (0L, Map.empty[String, Any], Map.empty[String, Any])
            else
              (n,
                Map[String, Any](
                  "time_sec" -> full.map(_.startTime.get._1).min),
                Map[String, Any](
                  "time_sec" -> full.map(_.endTime.get._1).max))
          }
          agg = Some((MetadataAgg.schemaFor(specs, RosbagDataSource.SpineSchema),
            MetadataAgg.fileRows(specs, perFile)))
          true
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
          agg = Some((MetadataAgg.schema(cols,
            RosbagDataSource.SpineSchema, nCounts),
            MetadataAgg.rows(cols, nCounts, units)))
          true
        }
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // typed reads only push meta-column filters (payload filters stay
    // upstream); the spine read pushes topic/datatype too
    val pushable: Filter => Boolean =
      if (typed.isDefined) f => RosbagFilters.supported(f) &&
        f.references.forall(Set("connection_id", "time_sec", "bag_path"))
      else RosbagFilters.supported
    val (supported, residual) = filters.partition(pushable)
    pushed = supported
    // seqno bounds prune whole overlap groups at planning (never
    // evaluated per row: Spark re-applies them above the scan)
    seqnoFilters = filters.filter(RosbagSeqno.isSeqnoFilter)
    residual ++ supported // conservatively keep all as residual upstream
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = l; false }

  override def build(): Scan = agg match {
    case Some((sch, rows)) =>
      new graft.ros.MetadataAggScan(sch, rows, s"rosbag $path")
    case None => new RosbagScan(path, required, pushed, limit, typed, includeRaw,
      seqnoFilters)
  }
}

object RosbagFilters {
  private val cols = Set("connection_id", "topic", "datatype", "time_sec", "bag_path")

  /** Bag-level pruning: a bag_path equality/In filter drops WHOLE bags
    * from the plan — the multi-bag analog of partition pruning (a fleet
    * query over one vehicle's bags never opens the others' indexes).
    *
    * Matching is EXACT against the stored value (the fully-qualified
    * URI, e.g. "file:/data/a.bag") — deliberately not fuzzy: Spark
    * re-applies every filter as a residual above the scan with plain
    * string equality, so a source that matched "/data/a.bag" loosely
    * would emit rows the Catalyst Filter then drops anyway. Take
    * filter values from read bag_path values (or qualify with Hadoop
    * Path first).
    */
  def bagMayMatch(f: Filter, path: String): Boolean = f match {
    case EqualTo("bag_path", v) => path == v
    case In("bag_path", vs) => vs.contains(path)
    case _ => true
  }

  /** Connection-catalog pruning: once a bag's index is read, a
    * topic/datatype/connection_id equality/IN filter no connection can
    * satisfy drops the WHOLE bag's chunks from the plan (the db3
    * topics-catalog / mcap channel-catalog analog).
    */
  def bagMayMatchConns(f: Filter,
      conns: Iterable[BagFormat.BagConnection]): Boolean = f match {
    case EqualTo("topic", v) => conns.exists(_.topic == v)
    case In("topic", vs) => conns.exists(c => vs.contains(c.topic))
    case EqualTo("datatype", v) => conns.exists(_.datatype == v)
    case In("datatype", vs) => conns.exists(c => vs.contains(c.datatype))
    case EqualTo("connection_id", v: Number) =>
      conns.exists(_.connId == v.intValue())
    case In("connection_id", vs) =>
      vs.exists { case v: Number => conns.exists(_.connId == v.intValue())
                  case _ => true }
    case _ => true
  }

  /** Chunk-level pruning: can this chunk possibly contain a row
    * passing `f`, given its chunk-info time range? Conservative —
    * chunks without ranges (foreign writers) are never pruned.
    * The analog of parquet row-group stats pruning, over the bag's
    * own chunk index (reference README.md:8).
    */
  def chunkMayMatch(f: Filter, chunk: BagFormat.BagChunk): Boolean = {
    (chunk.startTime, chunk.endTime) match {
      case (Some((sMin, _)), Some((sMax, _))) =>
        def num(v: Any): Option[Long] = v match {
          case n: Number => Some(n.longValue()); case _ => None
        }
        f match {
          case GreaterThan("time_sec", v) => num(v).forall(x => sMax > x)
          case GreaterThanOrEqual("time_sec", v) => num(v).forall(x => sMax >= x)
          case LessThan("time_sec", v) => num(v).forall(x => sMin < x)
          case LessThanOrEqual("time_sec", v) => num(v).forall(x => sMin <= x)
          case EqualTo("time_sec", v) => num(v).forall(x => sMin <= x && x <= sMax)
          case _ => true
        }
      case _ => true
    }
  }
  def supported(f: Filter): Boolean = f match {
    case EqualTo(c, _) => cols(c)
    case In(c, _) => cols(c)
    case GreaterThan(c, _) => cols(c)
    case GreaterThanOrEqual(c, _) => cols(c)
    case LessThan(c, _) => cols(c)
    case LessThanOrEqual(c, _) => cols(c)
    case _ => false
  }

  // `path` is REQUIRED (no default): a call site that forgot it would
  // silently evaluate pushed bag_path filters against "" and drop every
  // row — the compiler must catch the omission instead.
  def eval(f: Filter, m: BagFormat.BagMessage, conn: BagFormat.BagConnection,
           path: String): Boolean = {
    def v(c: String): Any = c match {
      case "connection_id" => m.connId
      case "topic" => conn.topic
      case "datatype" => conn.datatype
      case "time_sec" => m.timeSec
      case "bag_path" => path
    }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Int, y: Number) => java.lang.Integer.compare(x, y.intValue())
      case (x: String, y: String) => x.compareTo(y)
      case _ => 0
    }
    f match {
      case EqualTo(c, value) => cmp(v(c), value) == 0
      case In(c, values) => values.exists(value => cmp(v(c), value) == 0)
      case GreaterThan(c, value) => cmp(v(c), value) > 0
      case GreaterThanOrEqual(c, value) => cmp(v(c), value) >= 0
      case LessThan(c, value) => cmp(v(c), value) < 0
      case LessThanOrEqual(c, value) => cmp(v(c), value) <= 0
      case _ => true
    }
  }
}

final case class RosbagInputPartition(path: String, chunkIdx: Int,
    chunk: BagFormat.BagChunk, conns: Map[Int, BagFormat.BagConnection])
  extends InputPartition

class RosbagScan(path: String, required: StructType, pushed: Array[Filter], limit: Int,
    typed: Option[RosbagTypedRead.TypedTarget] = None, includeRaw: Boolean = false,
    seqnoFilters: Array[Filter] = Array.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required
  private val numbered = required.fieldNames.contains(RosbagSeqno.Column)

  // Runtime (DPP-style) filters from joins against selective
  // dimensions (RosbagTables.connections, a fleet manifest):
  // BatchScanExec re-plans partitions after filter(), so whole bags
  // prune via bag_path and the connection catalog at execution time.
  // Typed reads accept only the columns their eval context carries
  // (the pushFilters contract).
  private var runtime: Array[Filter] = Array.empty
  private def filters: Array[Filter] = pushed ++ runtime
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns the (pruned) output carries: Spark resolves these
    // against the scan's output and FAILS on a projected-away column
    (if (typed.isDefined) Array("bag_path", "connection_id")
     else Array("bag_path", "topic", "datatype", "connection_id"))
      .filter(required.fieldNames.contains(_))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(fs: Array[Filter]): Unit =
    runtime = fs.filter { f =>
      RosbagFilters.supported(f) && (typed.isEmpty ||
        f.references.forall(Set("connection_id", "time_sec", "bag_path")))
    }

  // bz2/lz4 chunk bodies make this an UNDER-estimate of row bytes —
  // fine for join-side sizing; row count unknowable without indexes
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private lazy val bytes: Long = graft.ros.DriverPool.totalBytes(
        typed.map(_.bags).getOrElse(RosbagIO.resolveBags(path)),
        RosbagIO.hadoopConf())
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (numbered) throw new UnsupportedOperationException(
      "the seqno metadata column numbers a whole batch load; streams cannot select it")
    // a single existing FILE is tailed as one growing bag; a directory
    // or glob streams as a fleet-ingest archive — new bags AND new
    // chunks of known bags are picked up per trigger
    val p = new Path(path)
    val isSingleFile = !path.contains('\n') &&
      !path.exists(c => "*?[]{}".indexOf(c.toInt) >= 0) && {
      try p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
        .getFileStatus(p).isFile
      catch { case _: java.io.FileNotFoundException => false }
    }
    if (isSingleFile)
      new RosbagMicroBatchStream(path, required, filters,
        typed.map(t => (t.datatype, t.msgDef, t.md5)), includeRaw)
    else
      new RosbagDirMicroBatchStream(path, required, filters, typed, includeRaw)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // multi-bag: one partition per (bag, chunk). Typed reads plan only
    // the bags carrying the resolved (datatype, md5) variant; bag_path
    // filters prune whole bags before any index is opened; chunk-info
    // time ranges prune chunks within each surviving bag.
    val bagPaths = typed.map(_.bags).getOrElse(RosbagIO.resolveBags(path))
    val surviving = bagPaths.filter(b => filters.forall(f => RosbagFilters.bagMayMatch(f, b)))
    val perChunk = RosbagIO.scanIndexes(surviving)
      .filter { case (_, index) =>
        filters.forall(f => RosbagFilters.bagMayMatchConns(f, index.connections)) }
      .flatMap { case (bag, index) =>
        val conns0 = index.connections.map(c => c.connId -> c).toMap
        // typed reads pin ONE (datatype, md5) variant: a bag carrying
        // both variants of the datatype (two connections) must not
        // decode the other variant's messages with this definition —
        // drop mismatched same-datatype connections from the map so
        // the reader's typeConns filter skips them
        val conns = typed match {
          case Some(t) => conns0.filter { case (_, c) =>
            c.datatype != t.datatype || c.md5sum == t.md5 }
          case None => conns0
        }
        index.chunks.zipWithIndex
          .filter { case (c, _) => filters.forall(f => RosbagFilters.chunkMayMatch(f, c)) }
          .map { case (c, i) =>
            (RosbagInputPartition(bag, i, c, conns), c.uncompressedSize.toLong)
          }
      }
    // rosbag1's DEFAULT chunk threshold is 768 KB — one task per
    // chunk plans millions of partitions on a real fleet; pack
    // consecutive chunks to Spark's file-split budget (see
    // graft.ros.PartitionPacking); pruning above ran per chunk
    graft.ros.PartitionPacking.packPartitions(
      if (numbered) seqnoGroups(perChunk.map(_._1))
      else perChunk.map { case (p, n) => (p: InputPartition, n) })
  }

  /** A numbered scan reads whole overlap groups of the WHOLE load —
    * whatever datatype, md5 or filters narrow its output — so each
    * message's rank counts every message of its group, other bags'
    * included. Groups with no chunk this scan emits, or outside its
    * seqno bounds, drop. A load its index cannot number (a chunk
    * without chunk-info) fails here, at planning.
    */
  private def seqnoGroups(emitted: Seq[RosbagInputPartition]): Seq[(InputPartition, Long)] = {
    val byChunk = emitted.map(p => (p.path, p.chunkIdx) -> p).toMap
    RosbagSeqno.groups(RosbagIO.scanIndexes(RosbagIO.resolveBags(path)))
      .fold(why => throw new UnsupportedOperationException(
        s"the seqno column numbers a load from its bag index, which cannot number this one: $why"),
        identity)
      .filter(g => seqnoFilters.forall(RosbagSeqno.groupMayMatch(_, g)) &&
        g.chunks.exists(c => byChunk.contains((c._1, c._2))))
      .map { g =>
        val parts = RosbagSeqno.tieBreakOrder(g.chunks).map { case (b, i, c) =>
          byChunk.getOrElse((b, i), RosbagInputPartition(b, i, c, Map.empty)) }
        (RosbagSeqnoPartition(g.base, parts.toArray,
          parts.map(p => byChunk.contains((p.path, p.chunkIdx))).toArray), g.bytes)
      }
  }

  override def createReaderFactory(): PartitionReaderFactory = typed match {
    case Some(t) => new RosbagTypedReaderFactory(t.datatype, t.msgDef, required, includeRaw, filters)
    case None => new RosbagReaderFactory(required, filters, limit)
  }

  override def description(): String =
    s"rosbag $path${typed.map(t => s" typed=${t.datatype}").getOrElse("")}, " +
      s"pushedFilters=[${filters.mkString(", ")}], limit=$limit" +
      (if (numbered) ", seqno" else "")
}

class RosbagReaderFactory(required: StructType, filters: Array[Filter], limit: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: graft.ros.PackedPartition =>
        graft.ros.ConcatPartitionReader.rows(p, createReader)
      case p => new RosbagPartitionReader(p, required, filters, limit)
    }

  // every spine column vectorizes (ints / interned strings / nullable
  // stamps / binary), so the untyped scan is always columnar
  override def supportColumnarReads(partition: InputPartition): Boolean =
    RosbagColumnarRead.enabled
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case p: graft.ros.PackedPartition =>
        graft.ros.ConcatPartitionReader.batches(p, createColumnarReader)
      case p => new RosbagMetaColumnarReader(p, required, filters, limit)
    }
}

object RosbagPartitionReader {
  /** The spine scan's row filter for one chunk: every message must
    * reference a catalogued connection; pushed filters drop rows before
    * any column is built.
    */
  def keepFor(filters: Array[Filter])(c: RosbagInputPartition)
      : BagFormat.BagMessage => Boolean = { m =>
    val conn = c.conns.getOrElse(m.connId,
      throw new IllegalStateException(s"message references unknown connection ${m.connId}"))
    filters.forall(f => RosbagFilters.eval(f, m, conn, c.path))
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

  /** Expand `path` into the ordered bag files it denotes: a glob
    * pattern (Hadoop globStatus), a directory (its *.bag children,
    * name-sorted — how a 100 TB robotics corpus arrives: a prefix full
    * of per-drive bags), or a single file (returned verbatim). Sorted
    * so multi-bag ordering — seqno tie-breaks, table listing — is
    * deterministic across filesystems. Every returned path is the
    * FileStatus's fully-qualified URI (file:/..., hdfs://...), so
    * bag_path values compare equal no matter how the load path was
    * spelled (bare /tmp/x.bag vs a dir listing's file:/tmp/x.bag).
    */
  def resolveBags(path: String): Seq[String] = {
    // a newline-separated spec (the source's "bags" option) is an
    // explicit list: resolve each entry, preserve overall sort
    if (path.contains('\n'))
      return path.split('\n').toSeq.filter(_.nonEmpty).flatMap(resolveBags).distinct.sorted
    val (filesystem, p) = fs(path)
    if (path.exists(c => "*?[]{}".indexOf(c.toInt) >= 0)) {
      val matches = Option(filesystem.globStatus(p)).getOrElse(Array.empty)
      // a glob sees both generations during a pending compact journal
      // exactly like a listing - serve the same consistent view
      val bags = graft.ros.CompactJournal
        .maskGlobbed(filesystem, matches.filter(_.isFile).toSeq)
        .map(_.getPath.toString).sorted
      require(bags.nonEmpty, s"glob matches no files: $path")
      bags
    } else {
      val st = filesystem.getFileStatus(p)
      if (st.isDirectory) {
        // a pending compact journal (crash window) leaves BOTH
        // generations on disk — serve one consistent view
        val masked = graft.ros.CompactJournal.maskedNames(filesystem, p)
        val bags = filesystem.listStatus(p)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".bag") &&
            !masked.contains(s.getPath.getName))
          .map(_.getPath.toString).sorted.toSeq
        require(bags.nonEmpty, s"directory contains no .bag files: $path")
        bags
      } else Seq(st.getPath.toString)
    }
  }

  /** Scan many bag indexes concurrently (cache-aware): the per-bag
    * index read is driver-side metadata I/O, and a 10k-bag corpus
    * would otherwise pay it serially on every plan. blocking{} marks
    * the I/O so the shared pool grows past core count instead of
    * convoying behind it.
    */
  def scanIndexes(paths: Seq[String]): Seq[(String, BagFormat.BagIndex)] =
    scanIndexesImpl(paths, tolerant = false)

  /** scanIndexes that DROPS bags vanishing between listing and open
    * (fleet uploaders delete/rename mid-trigger) — for discovery paths
    * like a stream's latestOffset, where a disappeared bag simply
    * isn't offered; committed replays stay strict.
    */
  def scanIndexesTolerant(paths: Seq[String]): Seq[(String, BagFormat.BagIndex)] =
    scanIndexesImpl(paths, tolerant = true)

  private def scanIndexesImpl(paths: Seq[String], tolerant: Boolean)
      : Seq[(String, BagFormat.BagIndex)] = {
    if (paths.isEmpty) return Seq.empty
    // bounded pool, not Future.traverse on the global EC: blocking{}
    // compensation threads scale with the FLEET size there (10k bags =
    // thousands of threads each holding an open stream); 32 metadata
    // readers saturate any filesystem's listing path
    val par = math.min(32, paths.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      val futs = paths.map { p =>
        pool.submit(new java.util.concurrent.Callable[(String, BagFormat.BagIndex)] {
          override def call(): (String, BagFormat.BagIndex) =
            try p -> scanIndex(p)
            catch { case _: java.io.FileNotFoundException if tolerant => null }
        })
      }
      futs.map { f =>
        // surface the ORIGINAL failure ("corrupt bag ...": the message
        // callers and tests match on), not the pool's ExecutionException
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }.filter(_ != null)
      // shutdownNow: on the failure path plain shutdown would drain
      // the remaining queued scans after the caller already rethrew
    } finally { pool.shutdownNow(); () }
  }

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
