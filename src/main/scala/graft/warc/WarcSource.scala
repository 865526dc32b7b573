package graft.warc

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.unsafe.types.UTF8String
import graft.ros.ContainerSource

/** DataSource V2 `warc` batch source — web-archive crawl shards
  * (Common Crawl's wire format) as a DataFrame, the INGESTION end of
  * the text-pipeline operators (dedup, language-ID, quality scoring,
  * contamination) this engine ships:
  *
  * ```scala
  * spark.read.format("warc").load("/crawl/segment-00123")
  *   .filter(col("warc_type") === "response" && col("http_status") === 200)
  *   .select(col("target_uri"), col("payload"))
  * ```
  *
  * Parallelism is per FILE: `.warc.gz` compresses record-at-time into
  * concatenated gzip members, which stream sequentially but do not
  * byte-split — the corpus's own layout (Common Crawl shards ~1 GB,
  * tens of thousands per dump) IS the partition grain, exactly how
  * production crawl pipelines schedule it.
  *
  * Pushdown: column pruning skips the HTTP split and payload
  * materialization when no payload-derived column is required;
  * file_path equality prunes whole files at plan time; warc_type /
  * target_uri filters evaluate on the record HEADER before any block
  * work; http_status filters evaluate right after the split; a pushed
  * limit stops the stream early (records after the limit are never
  * parsed). Residual semantics: Spark re-applies every filter above
  * the scan, so partial evaluation here is safe.
  *
  * `response` records expose the HTTP body as `payload` with
  * `http_status` / `http_content_type` parsed off the block; records
  * whose block carries no parseable HTTP head (truncated crawls)
  * surface the RAW block with null status — visible, not dropped.
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new WarcTable(ContainerSource.pathSpec(opts),
      opts.getBoolean("ordered_shards", false),
      opts.getBoolean("cdx", false))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object WarcDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    // record ordinal within the file — with file_path the stable
    // storage identity (gzip members are not byte-addressable)
    StructField("offset", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    // the WARC block's own Content-Type (application/http;... for
    // response records)
    StructField("content_type", StringType, nullable = false),
    // the record's own WARC-Payload-Digest header (sha1:<base32> in
    // the wild) — on `revisit` records this is the crawl-native
    // exact-dedup key pointing at the stored response it re-fetched
    StructField("payload_digest", StringType, nullable = true),
    // WARC-Refers-To: the record id of the referent (revisit /
    // metadata / conversion records)
    StructField("refers_to", StringType, nullable = true),
    StructField("http_status", IntegerType, nullable = true),
    StructField("http_content_type", StringType, nullable = true),
    // the encoding chain REMAINING on `payload` beyond what the
    // reader reverses (chunked framing, gzip, deflate): null = plain
    // entity bytes, a name (e.g. "br") = bytes the reader surfaces
    // still encoded — filter on IS NOT NULL to find pages text
    // extraction would mis-decode
    StructField("http_content_encoding", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = false)))

  def isWarc(name: String): Boolean =
    name.endsWith(".warc") || name.endsWith(".warc.gz")

  /** The shards `spec` denotes (a directory lists its *.warc / *.warc.gz children). */
  def files(spec: String): Seq[String] = ContainerSource.resolve(spec, isWarc, ".warc")

  val Roles: ContainerSource.Roles = ContainerSource.Roles("file_path", None,
    Set("file_path", "warc_type", "target_uri", "http_status"), Set("http_status"), Nil)
}

class WarcTable(path: String, orderedShards: Boolean = false,
    cdxLookup: Boolean = false)
    extends ContainerSource.ContainerTable("warc", path, None, None, "WarcExport.prepare") {
  override def schema(): StructType = WarcDataSource.Schema
  override protected def read: ContainerSource.Read =
    new WarcRead(path, orderedShards, cdxLookup)
  override protected def sink(req: graft.ros.ContainerSink.Request): graft.ros.ContainerSink.Format =
    WarcSink(req)
}

/** The WARC read: one unit per shard file — `.warc.gz` compresses
  * record-at-time into concatenated gzip members, which stream but do
  * not byte-split, so the corpus's own layout IS the partition grain.
  * Format hook: under `option("cdx")` pushed target_uri filters resolve
  * through the per-shard sidecars at PLAN time — only shards with
  * surviving entries get a partition, and each fetches only its
  * addressed byte ranges. A shard without a sidecar is LOUD: its
  * records would silently vanish from the "index-resolved" result.
  */
final class WarcRead(val spec: String, orderedShards: Boolean, cdxLookup: Boolean)
    extends ContainerSource.Read {
  import ContainerSource._
  override def kind: String = "warc"
  override def roles: Roles = WarcDataSource.Roles
  override lazy val files: Seq[String] = WarcDataSource.files(spec)
  override def packs: Boolean = false

  override def units(files: Seq[String], s: Planning): Seq[Planned] =
    if (!cdxLookup) files.map(f => Planned(WarcInputPartition(f), 0L))
    else files.flatMap { shard =>
      val sideP = new Path(WarcCdx.sidecarPath(shard))
      require(sideP.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).exists(sideP),
        s"cdx read: shard $shard has no .cdx sidecar — build one with " +
          "WarcCdx.buildSidecars or drop option(\"cdx\")")
      val ranges = WarcCdx.driverEntries(shard).map(_._2)
        .filter(e => s.filters.forall(WarcFilters.uriMayMatch(_, e.url)))
        .sortBy(_.offset)
        .map(e => (e.ordinal, e.offset, e.length))
      if (ranges.isEmpty) None else Some(Planned(WarcRangesPartition(shard, ranges), 0L))
    }

  override def readers(required: StructType, filters: Array[Filter],
      limit: Int): PartitionReaderFactory =
    new Readers({
      case WarcRangesPartition(f, ranges) => new WarcRangeReader(f, ranges, required, filters, limit)
      case p: WarcInputPartition => new WarcPartitionReader(p.path, required, filters, limit)
    })

  override def stream(required: StructType, filters: Array[Filter],
      limit: Int): MicroBatchStream =
    new WarcMicroBatchStream(spec, readers(required, filters, limit), filters, orderedShards)

  override def describe(s: Planning): String = s", cdx=$cdxLookup"
}

private[graft] object WarcFilters {
  /** The record-header filter columns: evaluated before any block work. */
  def header(filePath: String): PartialFunction[String, ContainerSource.Col[WarcFormat.WarcRecord]] = {
    case "file_path" => ContainerSource.StrCol[WarcFormat.WarcRecord](_ => filePath)
    case "warc_type" => ContainerSource.StrCol[WarcFormat.WarcRecord](_.warcType)
    case "target_uri" => ContainerSource.StrCol[WarcFormat.WarcRecord](_.targetUri)
  }

  /** A status filter on the split HTTP head; a record without one
    * (null status) passes none of them.
    */
  def evalStatus(f: Filter, status: Option[Int]): Boolean = f match {
    case EqualTo("http_status", v) => status.contains(v)
    case In("http_status", vs) => status.exists(s => vs.contains(s))
    case GreaterThan("http_status", v: Integer) => status.exists(_ > v)
    case GreaterThanOrEqual("http_status", v: Integer) => status.exists(_ >= v)
    case LessThan("http_status", v: Integer) => status.exists(_ < v)
    case LessThanOrEqual("http_status", v: Integer) => status.exists(_ <= v)
    case _ => true
  }

  /** May a CDX entry with this url survive the filter? Only the
    * target_uri shapes prune at the index; everything else (type,
    * status) is re-evaluated on the fetched record.
    */
  def uriMayMatch(f: Filter, url: String): Boolean = f match {
    case EqualTo("target_uri", v) => url == v
    case In("target_uri", vs) => vs.contains(url)
    case _ => true
  }
}

final case class WarcInputPartition(path: String) extends InputPartition

/** One shard's ADDRESSED subset: (ordinal, offset, length) ranges —
  * the CDX lookup path's partition grain.
  */
final case class WarcRangesPartition(path: String,
    ranges: Seq[(Int, Long, Long)]) extends InputPartition

/** Standing crawl ingest: each trigger processes the shard files that
  * LANDED since the last one, whole files at a time — crawl shards
  * are immutable once written (unlike the growing robotics
  * containers), so the file set IS the exact replayable offset. The
  * offset grows with the corpus (one path per processed shard), the
  * same unbounded-with-history shape the db3 directory stream
  * carries; a decade-scale standing ingest should roll its input
  * prefixes.
  *
  * The served end offset is the current listing UNIONED with `start`
  * (via `SupportsAdmissionControl.latestOffset(start, limit)`, the
  * entry point Spark actually calls): a shard that transiently drops
  * out of the listing after its batch committed (eventually-consistent
  * store, rename-in-progress) must keep its entry in the offset
  * chain — if simply omitted, the next trigger would diff the full
  * listing against a smaller start and re-plan every previously
  * ingested shard, duplicating records. For the same reason only a
  * genuinely-missing prefix ([[java.io.FileNotFoundException]]) maps
  * to "nothing landed yet"; any other listing failure FAILS the
  * trigger rather than silently serving an empty end.
  *
  * `option("ordered_shards", "true")` BOUNDS the offset for a
  * standing ingest: it declares that shards land in non-decreasing
  * name order (how dump-per-prefix crawl corpora are laid down), which
  * lets each trigger fold the previous offset's processed names into
  * a single lexicographic high-water mark — the offset then carries
  * only the watermark plus the current trigger's arrivals instead of
  * one path per shard ever processed. The contract's price, stated
  * plainly: a shard landing with a name ≤ the watermark AFTER
  * compaction is treated as already ingested and skipped. Without the
  * option the full processed set is retained (exact, unbounded — the
  * db3 directory stream's shape).
  */
class WarcMicroBatchStream(path: String, readers: PartitionReaderFactory,
    filters: Array[Filter], orderedShards: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // an empty / not-yet-created prefix is a legal stream start; any
  // OTHER failure (permissions, transient FS error) fails the trigger
  private def listNow(): Seq[String] =
    ContainerSource.resolveTolerant(path, WarcDataSource.isWarc)
      .filter(ContainerSource.pathMayMatch(filters, "file_path", _))

  // Trigger.AvailableNow: pin the end ONCE at query start so the run
  // drains exactly what had landed then and terminates even while
  // shards keep arriving.
  private var availableNowEnd: Option[Seq[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(listNow())

  override def latestOffset(): Offset =
    WarcStreamOffset(availableNowEnd.getOrElse(listNow()).toSet)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[WarcStreamOffset]
    val listed = availableNowEnd.getOrElse(listNow())
    val fresh = listed.filterNot(s.covers).toSet
    if (orderedShards) {
      // fold everything start already processed under one watermark;
      // this trigger's arrivals stay explicit so planInputPartitions
      // can diff them against start
      val wm = (s.watermark.toSeq ++ s.files).maxOption
      WarcStreamOffset(fresh, wm)
    } else WarcStreamOffset(fresh ++ s.files, s.watermark)
  }

  override def initialOffset(): Offset = WarcStreamOffset(Set.empty)

  override def deserializeOffset(json: String): Offset =
    WarcStreamOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[WarcStreamOffset]
    end.asInstanceOf[WarcStreamOffset].files.filterNot(s.covers).toSeq.sorted
      .map(f => WarcInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = readers

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Processed shards: an explicit path set plus (under
  * `ordered_shards`) a lexicographic high-water mark covering every
  * earlier name. Serializes as the legacy sorted JSON array when no
  * watermark is set — pre-upgrade checkpoints resume unchanged — and
  * as `{"watermark": w, "files": [...]}` once compaction starts.
  */
final case class WarcStreamOffset(files: Set[String],
    watermark: Option[String] = None)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  def covers(f: String): Boolean = watermark.exists(f <= _) || files(f)
  override def json(): String = {
    val mapper = WarcStreamOffset.mapper
    watermark match {
      case None => mapper.writeValueAsString(files.toArray.sorted)
      case Some(w) =>
        val node = mapper.createObjectNode()
        node.put("watermark", w)
        val arr = node.putArray("files")
        files.toArray.sorted.foreach(arr.add)
        mapper.writeValueAsString(node)
    }
  }
}

object WarcStreamOffset {
  // one mapper for the trigger path (offset-log write + restart read
  // per micro-batch) — construction is the expensive part of Jackson
  private[warc] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(json: String): WarcStreamOffset = {
    val tree = mapper.readTree(json)
    if (tree.isArray) {
      val it = tree.elements()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      WarcStreamOffset(b.result())
    } else {
      val it = tree.get("files").elements()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      WarcStreamOffset(b.result(), Some(tree.get("watermark").asText()))
    }
  }
}

/** Shared filter + http-split + row-assembly kernel — ONE
  * implementation for the sequential scan and the CDX range reader so
  * an indexed read's rows are byte-identical to the scan's by
  * construction.
  */
private[warc] final class WarcRowAssembler(filePath: String,
    required: StructType, filters: Array[Filter]) {
  private val names = required.fieldNames.toSet
  // only a projected payload pays for the body decode (dechunk +
  // inflate); header-only projections and status filters split the
  // block but never touch the entity bytes
  private val needsPayload = names("payload")
  private val (statusFilters, headerFilters) =
    filters.partition(_.references.head == "http_status")
  private val header = ContainerSource.compile(headerFilters, WarcFilters.header(filePath))
  private val needsHttp = names("http_status") || names("http_content_type") ||
    names("http_content_encoding") || names("payload") || statusFilters.nonEmpty

  private val pathUtf8 = UTF8String.fromString(filePath)
  private var current: WarcFormat.WarcRecord = _
  private var http: Option[WarcFormat.HttpPayload] = None

  /** Evaluate the pushed filters, split the HTTP block if any
    * projected column needs it, and stage the record for [[row]];
    * false = filtered out.
    */
  def stage(r: WarcFormat.WarcRecord): Boolean = {
    if (!header(r)) return false
    val h =
      if (needsHttp && r.contentType.toLowerCase.startsWith("application/http"))
        WarcFormat.httpSplit(r.block, decodeBody = needsPayload)
      else None
    if (!statusFilters.forall(WarcFilters.evalStatus(_, h.map(_.status)))) return false
    current = r; http = h
    true
  }

  private val extractors: Array[() => Any] = required.fields.map { f =>
    f.name match {
      case "file_path" => () => pathUtf8
      case "offset" => () => current.offset
      case "warc_type" => () => UTF8String.fromString(current.warcType)
      case "record_id" => () => UTF8String.fromString(current.recordId)
      case "warc_date" => () => UTF8String.fromString(current.date)
      case "target_uri" => () => UTF8String.fromString(current.targetUri)
      case "content_type" => () => UTF8String.fromString(current.contentType)
      case "payload_digest" => () =>
        current.headers.get("warc-payload-digest")
          .map(UTF8String.fromString).orNull
      case "refers_to" => () =>
        current.headers.get("warc-refers-to")
          .map(UTF8String.fromString).orNull
      case "http_status" => () => http.map(h => Int.box(h.status)).orNull
      case "http_content_type" => () =>
        http.map(h => UTF8String.fromString(h.contentType)).orNull
      case "http_content_encoding" => () =>
        http.filter(_.remainingEncoding.nonEmpty)
          .map(h => UTF8String.fromString(h.remainingEncoding)).orNull
      case "payload" => () => http.map(_.body).getOrElse(current.block)
    }
  }

  def row(): InternalRow = {
    val vals = new Array[Any](extractors.length)
    var i = 0
    while (i < extractors.length) { vals(i) = extractors(i)(); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
}

class WarcPartitionReader(filePath: String, required: StructType,
    filters: Array[Filter], limit: Int) extends PartitionReader[InternalRow] {

  private val asm = new WarcRowAssembler(filePath, required, filters)

  private var opened = false
  private lazy val stream: java.io.InputStream = {
    val p = new Path(filePath)
    val raw = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).open(p)
    opened = true
    try {
      val buf = new java.io.BufferedInputStream(raw, 1 << 16)
      if (filePath.endsWith(".gz"))
        // strict member-by-member reader: a truncated or corrupt
        // member FAILS the task instead of parsing as clean EOF
        new WarcFormat.StrictGzipStream(buf)
      else buf
    } catch {
      // a junk .gz fails in the wrapper's constructor — don't leak
      // the raw fd behind the failed lazy init
      case t: Throwable => opened = false; raw.close(); throw t
    }
  }

  private var emitted = 0

  private lazy val recs: Iterator[WarcFormat.WarcRecord] =
    WarcFormat.records(stream)

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (recs.hasNext) {
      if (asm.stage(recs.next())) { emitted += 1; return true }
    }
    false
  }

  override def get(): InternalRow = asm.row()

  // guard on `opened`: close() on a task that never read (an empty
  // plan slice) must not OPEN the file just to close it
  override def close(): Unit = if (opened) stream.close()
}

/** CDX random-access reader: one seek + bounded read per addressed
  * record — for `.warc.gz` the range is one gzip member (decompressed
  * standalone under the same strict CRC/ISIZE verification as the
  * scan), for plain `.warc` the record's rendered bytes. The record's
  * `offset` column carries the index's ordinal so rows are
  * byte-identical to the sequential scan's.
  */
class WarcRangeReader(filePath: String,
    ranges: Seq[(Int, Long, Long)], // (ordinal, offset, length)
    required: StructType, filters: Array[Filter], limit: Int)
    extends PartitionReader[InternalRow] {

  private val asm = new WarcRowAssembler(filePath, required, filters)
  private var opened = false
  private lazy val in: org.apache.hadoop.fs.FSDataInputStream = {
    val p = new Path(filePath)
    val s = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).open(p)
    opened = true
    s
  }
  private val it = ranges.iterator
  private var emitted = 0

  private def readRecord(ordinal: Int, offset: Long, length: Long)
      : WarcFormat.WarcRecord = {
    require(length > 0 && length <= Int.MaxValue,
      s"cdx range length $length out of bounds ($filePath @$offset)")
    val buf = new Array[Byte](length.toInt)
    in.readFully(offset, buf)
    val slice: java.io.InputStream =
      if (filePath.endsWith(".gz"))
        new WarcFormat.StrictGzipStream(new java.io.ByteArrayInputStream(buf))
      else new java.io.ByteArrayInputStream(buf)
    val recs = WarcFormat.records(slice).toSeq
    require(recs.size == 1,
      s"cdx range at $filePath@$offset+$length holds ${recs.size} " +
        "records — stale or foreign index")
    recs.head.copy(offset = ordinal)
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (it.hasNext) {
      val (ord, off, len) = it.next()
      if (asm.stage(readRecord(ord, off, len))) { emitted += 1; return true }
    }
    false
  }

  override def get(): InternalRow = asm.row()
  override def close(): Unit = if (opened) in.close()
}
