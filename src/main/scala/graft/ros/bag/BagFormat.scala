package graft.ros.bag

import java.io.{ByteArrayOutputStream, DataInputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** ROS bag v2.0 container format — pure-Scala reader and fixture writer.
  *
  * The reference gets this for free from rosbag_storage
  * (reference CMakeLists.txt:38); we re-implement from the public format
  * spec (ros.org/wiki/Bags/Format/2.0). Structure: a `#ROSBAG V2.0`
  * magic line, then length-prefixed records; each record is
  * `<hlen:u32><header><dlen:u32><data>` where the header is a list of
  * `<flen:u32><name>=<bytes>` fields. Record kinds (op field):
  * 0x03 bag header (padded to 4096), 0x05 chunk (compression + embedded
  * connection/message records), 0x07 connection, 0x02 message data,
  * 0x04 index data, 0x06 chunk info.
  *
  * Compression: 'none', 'bz2' and 'lz4' chunks are supported. rosbag's
  * bz2 chunks are plain bzip2 streams (commons-compress, already on
  * Spark's classpath); its lz4 chunks are written by roslz4, which
  * emits the standard LZ4 Frame format (magic 0x184D2204 — the same
  * framing the `lz4` CLI reads). lz4 goes through lz4-java's JNI
  * streams (10x the pure-Java codec, measured in SinkBench), with a
  * commons-compress fallback for block-LINKED frames a foreign
  * re-compressor may emit (lz4-java refuses those; roslz4 always
  * writes independent blocks). Unknown compressions still fail
  * loudly, not wrongly.
  */
object BagFormat {
  val Magic = "#ROSBAG V2.0\n"

  val OpMessageData: Byte = 0x02
  val OpBagHeader: Byte = 0x03
  val OpIndexData: Byte = 0x04
  val OpChunk: Byte = 0x05
  val OpChunkInfo: Byte = 0x06
  val OpConnection: Byte = 0x07

  final case class Record(header: Map[String, Array[Byte]], data: Array[Byte],
                          wireLen: Long) {
    def op: Byte = header("op")(0)
    def str(k: String): String = new String(header(k), StandardCharsets.UTF_8)
    def u32(k: String): Int = ByteBuffer.wrap(header(k)).order(ByteOrder.LITTLE_ENDIAN).getInt()
    def u64(k: String): Long = ByteBuffer.wrap(header(k)).order(ByteOrder.LITTLE_ENDIAN).getLong()
    /** bag time fields: 4-byte sec then 4-byte nsec, little-endian. */
    def time(k: String): (Int, Int) = {
      val b = ByteBuffer.wrap(header(k)).order(ByteOrder.LITTLE_ENDIAN)
      (b.getInt(), b.getInt())
    }
  }

  /** Connection dimension row — reference FlattenedRosWriter.cpp:90-137.
    * `callerid` comes from the embedded connection header map
    * (FlattenedRosWriter.cpp:218-220); absent key → empty string, like
    * the reference's `?: ""`.
    */
  final case class BagConnection(connId: Int, topic: String, datatype: String,
                                 md5sum: String, msgDef: String, callerid: String,
                                 header: Map[String, String] = Map.empty)

  final case class BagChunk(pos: Long, compression: String, uncompressedSize: Int,
                            dataOffset: Long, dataLength: Int,
                            startTime: Option[(Int, Int)] = None,
                            endTime: Option[(Int, Int)] = None,
                            // chunk-info per-connection message counts
                            // ((connId, n); None = no chunk-info record,
                            // metadata-only counting unavailable)
                            connCounts: Option[Seq[(Int, Int)]] = None)

  final case class BagIndex(connections: Seq[BagConnection], chunks: Seq[BagChunk])

  // ---- low-level record IO ----

  def parseHeader(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val m = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    while (buf.hasRemaining) {
      val flen = buf.getInt()
      val field = new Array[Byte](flen); buf.get(field)
      val eq = field.indexOf('='.toByte)
      require(eq > 0, "malformed bag header field")
      m += new String(field, 0, eq, StandardCharsets.UTF_8) -> field.drop(eq + 1)
    }
    m.toMap
  }

  /** Read one record from a stream; returns None at clean EOF. Short
    * reads (network streams return 1-3 of the 4 prefix bytes) are
    * handled by probing one byte then readFully-ing the rest; wireLen
    * carries the EXACT on-wire record size so callers track positions
    * without re-deriving lengths from the parsed (deduplicated) header.
    */
  /** Corrupt-length guards: a flipped bit in a length prefix must fail
    * as "corrupt bag", not as a NegativeArraySizeException or a
    * pre-allocation OOM (the array is allocated BEFORE readFully can
    * notice truncation). Record headers are key=value lists — far
    * below 64 MB in any real bag; record data (a whole chunk at most)
    * stays under 1 GB.
    */
  private val MaxHeaderLen = 1 << 26
  private val MaxDataLen = 1 << 30

  def readRecord(in: DataInputStream): Option[Record] = {
    val first = in.read()
    if (first < 0) return None
    val hlenBytes = new Array[Byte](4)
    hlenBytes(0) = first.toByte
    in.readFully(hlenBytes, 1, 3)
    val hlen = ByteBuffer.wrap(hlenBytes).order(ByteOrder.LITTLE_ENDIAN).getInt()
    require(hlen >= 0 && hlen <= MaxHeaderLen,
      s"corrupt bag: record header length $hlen out of range")
    val header = new Array[Byte](hlen); in.readFully(header)
    val dlen = readU32(in)
    require(dlen >= 0, s"corrupt bag: negative record data length $dlen")
    // not necessarily corrupt — a writer CAN be configured with >=1 GiB
    // chunks — but allocating multi-GB on a length prefix is how a
    // corrupt file turns into an OOM, so name the limit honestly
    require(dlen <= MaxDataLen,
      s"record data length $dlen exceeds the 1 GiB reader limit (BagFormat.MaxDataLen)")
    val data = new Array[Byte](dlen); in.readFully(data)
    Some(Record(parseHeader(header), data, 8L + hlen + dlen))
  }

  private def readU32(in: DataInputStream): Int = {
    val b = new Array[Byte](4); in.readFully(b)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt()
  }

  /** One pass over the whole file: connections + chunk positions.
    * Connections may appear inside chunks or in the trailing index
    * section; both are collected (id-deduplicated).
    */
  def scanIndex(open: () => InputStream): BagIndex = {
    val in = new DataInputStream(new java.io.BufferedInputStream(open()))
    try {
      val magic = new Array[Byte](Magic.length)
      try in.readFully(magic)
      catch { case _: java.io.EOFException =>
        throw new IllegalArgumentException("not a ROS bag v2.0 file (shorter than the magic header)") }
      require(new String(magic, StandardCharsets.UTF_8) == Magic, "not a ROS bag v2.0 file")
      var pos: Long = Magic.length
      val conns = scala.collection.mutable.LinkedHashMap[Int, BagConnection]()
      val chunks = scala.collection.mutable.ArrayBuffer[BagChunk]()
      val chunkTimes = scala.collection.mutable.HashMap[Long,
        ((Int, Int), (Int, Int), Option[Seq[(Int, Int)]])]()
      // A bag being actively appended may end mid-record; treat that as
      // "no more complete records" (the next scan sees the finished
      // record) rather than failing the whole index scan.
      def nextComplete(): Option[Record] =
        try readRecord(in) catch { case _: java.io.EOFException => None }
      var rec = nextComplete()
      while (rec.isDefined) {
        val r = rec.get
        r.op match {
          case OpChunk =>
            // header portion = wireLen minus the two u32 prefixes and data
            val dataOffset = pos + (r.wireLen - r.data.length)
            val compression = r.str("compression")
            chunks += BagChunk(pos, compression, r.u32("size"), dataOffset, r.data.length)
            // embedded connection records are collected inline only for
            // uncompressed chunks — inflating every chunk during the
            // (driver-side) index scan would decompress the whole bag
            // up front. Every properly-closed bag repeats its
            // connection records in the trailing index section, which
            // this same pass picks up below.
            if (compression == "none") collectChunkConnections(r.data, conns)
          case OpConnection => addConnection(r, conns)
          case OpChunkInfo =>
            // per-chunk time range — the stats readers use to skip
            // chunks (reference README.md:8) — plus the per-connection
            // message counts, which metadata-only count(*) pushdown
            // sums without ever reading a chunk body
            val n = r.u32("count")
            val counts =
              if (r.data.length >= n * 8)
                Some((0 until n).map { i =>
                  val bb = java.nio.ByteBuffer.wrap(r.data, i * 8, 8)
                    .order(ByteOrder.LITTLE_ENDIAN)
                  (bb.getInt(), bb.getInt())
                })
              else None // truncated/foreign chunk-info: no counts
            chunkTimes += r.u64("chunk_pos") ->
              ((r.time("start_time"), r.time("end_time"), counts))
          case _ => ()
        }
        pos += r.wireLen
        rec = nextComplete()
      }
      val withTimes = chunks.map { c =>
        chunkTimes.get(c.pos) match {
          case Some((st, et, counts)) =>
            c.copy(startTime = Some(st), endTime = Some(et), connCounts = counts)
          case None => c
        }
      }
      BagIndex(conns.values.toSeq, withTimes.toSeq)
    } finally in.close()
  }

  private def collectChunkConnections(chunkData: Array[Byte],
      conns: scala.collection.mutable.LinkedHashMap[Int, BagConnection]): Unit =
    foreachChunkRecord(chunkData) { r =>
      if (r.op == OpConnection) addConnection(r, conns)
    }

  private def addConnection(r: Record,
      conns: scala.collection.mutable.LinkedHashMap[Int, BagConnection]): Unit = {
    val id = r.u32("conn")
    if (!conns.contains(id)) {
      val ch = parseHeader(r.data)
      def s(k: String) = ch.get(k).map(new String(_, StandardCharsets.UTF_8)).getOrElse("")
      // full raw header as a string map — the reference reads callerid
      // via header->find (FlattenedRosWriter.cpp:218-220); keeping the
      // whole map preserves foreign keys (latching, etc.)
      val headerMap = ch.map { case (k, v) => k -> new String(v, StandardCharsets.UTF_8) }
      conns += id -> BagConnection(id, r.str("topic"), s("type"), s("md5sum"),
        s("message_definition"), s("callerid"), headerMap)
    }
  }

  /** Iterate the records embedded in (uncompressed) chunk data. */
  def foreachChunkRecord(chunkData: Array[Byte])(f: Record => Unit): Unit = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(chunkData))
    var rec = readRecord(in)
    while (rec.isDefined) { f(rec.get); rec = readRecord(in) }
  }

  final case class BagMessage(connId: Int, timeSec: Int, timeNsec: Int,
                              offsetInChunk: Int, data: Array[Byte])

  /** Messages of one chunk, in storage order, with their offset (the
    * in-chunk tiebreak for seqno).
    */
  def chunkMessages(chunk: BagChunk, chunkData: Array[Byte]): Seq[BagMessage] = {
    val body = decompressChunk(chunk.compression, chunkData, chunk.uncompressedSize)
    val out = scala.collection.mutable.ArrayBuffer[BagMessage]()
    val in = new DataInputStream(new java.io.ByteArrayInputStream(body))
    var off = 0
    var rec = readRecord(in)
    while (rec.isDefined) {
      val r = rec.get
      if (r.op == OpMessageData) {
        val (sec, nsec) = r.time("time")
        out += BagMessage(r.u32("conn"), sec, nsec, off, r.data)
      }
      off += r.wireLen.toInt
      rec = readRecord(in)
    }
    out.toSeq
  }

  /** Inflate a chunk body per its declared compression. The chunk
    * header's `size` field is the uncompressed length (bag v2.0 spec),
    * so the output buffer is exact-sized — no growth reallocation.
    * In-chunk message offsets (seqno tiebreak, index data) are offsets
    * into THIS uncompressed body, matching rosbag semantics.
    */
  def decompressChunk(compression: String, data: Array[Byte],
                      uncompressedSize: Int): Array[Byte] = compression match {
    case "none" => data
    case "bz2" | "lz4" =>
      val raw = new java.io.ByteArrayInputStream(data)
      val in: InputStream =
        if (compression == "bz2")
          new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(raw)
        else {
          // roslz4 is the standard LZ4 frame format; lz4-java's JNI
          // decoder reads it ~an order of magnitude faster than
          // commons-compress's pure-Java one (measured in SinkBench).
          // lz4-java refuses block-LINKED frames (FLG bit 5 clear —
          // roslz4 always writes independent blocks, but a foreign
          // re-compressor like `lz4 -BD` may not); sniff the FLG byte
          // and keep the pure-Java decoder for that rare shape.
          val independent = data.length > 4 && (data(4) & 0x20) != 0
          if (independent) new net.jpountz.lz4.LZ4FrameInputStream(raw)
          else new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream(raw)
        }
      try {
        val out = new Array[Byte](uncompressedSize)
        var off = 0
        var n = 0
        while (off < out.length && { n = in.read(out, off, out.length - off); n > 0 }) off += n
        if (off != uncompressedSize)
          throw new java.io.IOException(
            s"$compression chunk inflated to $off bytes, header declared $uncompressedSize")
        if (in.read() != -1)
          throw new java.io.IOException(
            s"$compression chunk longer than declared size $uncompressedSize")
        out
      } finally in.close()
    case other =>
      throw new IllegalArgumentException(
        s"unsupported chunk compression '$other' (supported: none, bz2, lz4)")
  }

  private[bag] def compressChunk(compression: String, body: Array[Byte]): Array[Byte] =
    compression match {
      case "none" => body
      case "bz2" =>
        val bos = new ByteArrayOutputStream()
        val cs = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(bos)
        cs.write(body); cs.close(); bos.toByteArray
      case "lz4" =>
        // lz4-java (JNI): the commons-compress pure-Java frame encoder
        // cost 10x the whole write at sink scale (100k messages: 4.35 s
        // vs 0.42 s with this codec, 0.25 s uncompressed — SinkBench);
        // the wire format is the same standard LZ4 frame roslz4 speaks
        // (interop spec pins both directions)
        val bos = new ByteArrayOutputStream()
        val cs = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
        cs.write(body); cs.close(); bos.toByteArray
      case other => throw new IllegalArgumentException(s"unsupported compression '$other'")
    }

  // ---- writer (fixtures; mirrors reference test technique,
  //      rosbag2parquet_test.cpp:29-59) ----

  final case class WriteMessage(connId: Int, timeSec: Int, timeNsec: Int, data: Array[Byte])

  def writeBag(connections: Seq[BagConnection],
               messages: Seq[WriteMessage],
               messagesPerChunk: Int = 100,
               compression: String = "none"): Array[Byte] =
    writeBagChunks(connections, messages.grouped(messagesPerChunk).toSeq, compression)

  /** [[writeBag]] with explicit chunking — one entry per chunk, empty
    * chunks included (their chunk-info times are 0, as foreign writers
    * stamp them).
    */
  def writeBagChunks(connections: Seq[BagConnection],
                     chunks: Seq[Seq[WriteMessage]],
                     compression: String = "none"): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Magic.getBytes(StandardCharsets.UTF_8))

    // bag header record, padded to 4096 bytes total via ASCII-space data
    val bagHeaderFields = fields(
      "op" -> Array(OpBagHeader),
      "index_pos" -> le64(0L),
      "conn_count" -> le32(connections.size),
      "chunk_count" -> le32(chunks.size))
    val pad = 4096 - 8 - bagHeaderFields.length
    writeRecord(out, bagHeaderFields, Array.fill(pad)(' '.toByte))

    val connRecords = connections.map { c =>
      val ch = fields(
        "topic" -> c.topic.getBytes(StandardCharsets.UTF_8),
        "type" -> c.datatype.getBytes(StandardCharsets.UTF_8),
        "md5sum" -> c.md5sum.getBytes(StandardCharsets.UTF_8),
        "message_definition" -> c.msgDef.getBytes(StandardCharsets.UTF_8),
        "callerid" -> c.callerid.getBytes(StandardCharsets.UTF_8))
      (fields("op" -> Array(OpConnection), "conn" -> le32(c.connId),
        "topic" -> c.topic.getBytes(StandardCharsets.UTF_8)), ch)
    }

    val chunkInfos = scala.collection.mutable.ArrayBuffer[(Long, (Int, Int), (Int, Int), Seq[(Int, Int)])]()
    chunks.foreach { group =>
      val chunkBody = new ByteArrayOutputStream()
      connRecords.foreach { case (h, d) => writeRecord(chunkBody, h, d) }
      group.foreach { m =>
        val h = fields("op" -> Array(OpMessageData), "conn" -> le32(m.connId),
          "time" -> time(m.timeSec, m.timeNsec))
        writeRecord(chunkBody, h, m.data)
      }
      val body = chunkBody.toByteArray
      val ch = fields("op" -> Array(OpChunk),
        "compression" -> compression.getBytes(StandardCharsets.UTF_8),
        "size" -> le32(body.length))
      val posBefore = out.size().toLong
      writeRecord(out, ch, compressChunk(compression, body))
      val times = group.map(m => (m.timeSec, m.timeNsec))
      val st = if (times.isEmpty) (0, 0) else times.min
      val et = if (times.isEmpty) (0, 0) else times.max
      val perConn = group.groupBy(_.connId).view.mapValues(_.size).toSeq.sortBy(_._1)
      chunkInfos += ((posBefore, st, et, perConn))
    }

    // trailing index section: connection records + chunk info (spec:
    // count = number of (conn, msg-count) pairs carried in the data)
    connRecords.foreach { case (h, d) => writeRecord(out, h, d) }
    chunkInfos.foreach { case (chunkPos, st, et, perConn) =>
      val h = fields("op" -> Array(OpChunkInfo), "ver" -> le32(1),
        "chunk_pos" -> le64(chunkPos),
        "start_time" -> time(st._1, st._2), "end_time" -> time(et._1, et._2),
        "count" -> le32(perConn.size))
      val data = new ByteArrayOutputStream()
      perConn.foreach { case (conn, n) => data.write(le32(conn)); data.write(le32(n)) }
      writeRecord(out, h, data.toByteArray)
    }
    out.toByteArray
  }

  private[bag] def writeRecord(out: ByteArrayOutputStream, header: Array[Byte], data: Array[Byte]): Unit = {
    out.write(le32(header.length)); out.write(header)
    out.write(le32(data.length)); out.write(data)
  }

  private[bag] def fields(fs: (String, Array[Byte])*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    fs.foreach { case (name, value) =>
      val nb = name.getBytes(StandardCharsets.UTF_8)
      out.write(le32(nb.length + 1 + value.length))
      out.write(nb); out.write('='.toByte); out.write(value)
    }
    out.toByteArray
  }

  private[bag] def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  private[bag] def le64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  private[bag] def time(sec: Int, nsec: Int): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putInt(sec).putInt(nsec).array()
}
