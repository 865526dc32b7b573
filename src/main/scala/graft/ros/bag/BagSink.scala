package graft.ros.bag

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}


/** Incremental single-bag writer over a local scratch file: magic +
  * placeholder bag header up front; connection records are written
  * into the chunk stream the first time a (topic, datatype) appears
  * (defined-before-use); one Chunk record per ~`chunkBytesTarget` raw
  * bytes; `finish()` writes the trailing index section (connection
  * records + per-chunk ChunkInfo), then back-patches the header's
  * index_pos/conn_count/chunk_count. Memory is O(current chunk +
  * distinct connections + chunk count).
  */
final class BagStreamingWriter(local: java.io.File, compression: String,
    chunkBytesTarget: Int,
    connDefs: Map[String, (String, String)] = Map.empty,
    fileFirstDefs: Boolean = true) {
  import BagFormat._
  import java.nio.charset.StandardCharsets.UTF_8

  private val out = new java.io.BufferedOutputStream(
    new java.io.FileOutputStream(local), 1 << 16)
  private var pos = 0L
  private def emit(b: Array[Byte]): Unit = { out.write(b); pos += b.length }
  private def emitRecord(header: Array[Byte], data: Array[Byte]): Unit = {
    emit(le32(header.length)); emit(header); emit(le32(data.length)); emit(data)
  }

  emit(Magic.getBytes(UTF_8))
  // placeholder header — same fixed-width fields finish() patches
  private val HeaderFieldsLen = {
    val h = fields("op" -> Array(OpBagHeader), "index_pos" -> le64(0L),
      "conn_count" -> le32(0), "chunk_count" -> le32(0))
    emitRecord(h, Array.fill(4096 - 8 - h.length)(' '.toByte))
    h.length
  }

  // (topic, datatype, md5, definition) -> connection; record bytes
  // emitted on discovery. The key carries the DEFINITION so two source
  // files with divergent (schema-evolved) same-named definitions keep
  // separate connections, each advertising the checksum its payloads
  // were written with — identical definitions share one connection.
  private val conns = scala.collection.mutable.LinkedHashMap[
    (String, String, String, String), BagConnection]()
  // (topic, datatype, source file) -> resolved connection; the
  // per-row fast path (one hash probe) in front of the defs lookup
  private val connBySource = scala.collection.mutable.HashMap[
    (String, String, String), BagConnection]()
  // (chunkPos, start (s,ns), end (s,ns), per-conn counts)
  private val chunkInfos = scala.collection.mutable.ArrayBuffer[
    (Long, (Int, Int), (Int, Int), Seq[(Int, Int)])]()
  private var total = 0L

  private var chunk = new ByteArrayOutputStream()
  private def chunkRecord(header: Array[Byte], data: Array[Byte]): Unit = {
    chunk.write(le32(header.length)); chunk.write(header)
    chunk.write(le32(data.length)); chunk.write(data)
  }
  private var chunkStart: (Int, Int) = (Int.MaxValue, Int.MaxValue)
  private var chunkEnd: (Int, Int) = (Int.MinValue, Int.MinValue)
  private val chunkConnCounts = scala.collection.mutable.LinkedHashMap[Int, Int]()
  // per-connection (time, chunk-relative offset) entries for the
  // IndexData records that must follow each chunk (rosbag 2.0 readers
  // build the message index from them — a bag without them demands
  // `rosbag reindex`); bounded by the messages of ONE chunk
  private val chunkMsgIndex = scala.collection.mutable.LinkedHashMap[
    Int, scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]]()

  private def connRecord(c: BagConnection): (Array[Byte], Array[Byte]) = {
    val ch = fields(
      "topic" -> c.topic.getBytes(UTF_8),
      "type" -> c.datatype.getBytes(UTF_8),
      "md5sum" -> c.md5sum.getBytes(UTF_8),
      "message_definition" -> c.msgDef.getBytes(UTF_8),
      "callerid" -> c.callerid.getBytes(UTF_8))
    (fields("op" -> Array(OpConnection), "conn" -> le32(c.connId),
      "topic" -> c.topic.getBytes(UTF_8)), ch)
  }

  def write(topic: String, datatype: String, timeSec: Int, timeNsec: Int,
      data: Array[Byte], sourcePath: String = ""): Unit = {
    require(timeSec >= 0 && timeNsec >= 0,
      s"bag receipt time is unsigned (got sec=$timeSec nsec=$timeNsec); " +
        "pre-1970 / negative times cannot be represented in a rosbag")
    val c = connBySource.getOrElseUpdate((topic, datatype, sourcePath), {
      // the row's OWN source file resolves first — its definition
      // (ros1msg directly, or the ros1 rendering of its ros2 schema
      // under transcode) is what these payloads carry, so a type
      // first landing MID-STREAM exports with a real definition and
      // genuine md5 instead of ("*", ""); the plan-time defs channel
      // covers prepared frames without a file
      val (md5, mdef) =
        (if (fileFirstDefs)
          graft.ros.SourceDefs.ros1ConnFor(sourcePath, datatype)
            .orElse(connDefs.get(datatype))
        else
          // an EXPLICITLY pinned defs channel is definitive; the
          // row's file only covers types the channel lacks
          connDefs.get(datatype)
            .orElse(graft.ros.SourceDefs.ros1ConnFor(sourcePath, datatype)))
          .getOrElse(("*", ""))
      conns.getOrElseUpdate((topic, datatype, md5, mdef), {
        val nc = BagConnection(conns.size, topic, datatype, md5, mdef, "")
        val (h, d) = connRecord(nc)
        chunkRecord(h, d)
        nc
      })
    })
    val h = fields("op" -> Array(OpMessageData), "conn" -> le32(c.connId),
      "time" -> time(timeSec, timeNsec))
    val offsetInChunk = chunk.size()
    chunkRecord(h, data)
    chunkMsgIndex.getOrElseUpdate(c.connId,
      scala.collection.mutable.ArrayBuffer.empty) +=
      ((timeSec, timeNsec, offsetInChunk))
    chunkConnCounts(c.connId) = chunkConnCounts.getOrElse(c.connId, 0) + 1
    total += 1
    val t = (timeSec, timeNsec)
    import scala.math.Ordering.Implicits._
    if (t < chunkStart) chunkStart = t
    if (t > chunkEnd) chunkEnd = t
    if (chunk.size() >= chunkBytesTarget) flushChunk()
  }

  private def flushChunk(): Unit = {
    if (chunk.size() == 0) return
    val body = chunk.toByteArray
    val h = fields("op" -> Array(OpChunk),
      "compression" -> compression.getBytes(UTF_8),
      "size" -> le32(body.length))
    val chunkPos = pos
    emitRecord(h, compressChunk(compression, body))
    // IndexData (op 0x04) records directly after the chunk — one per
    // connection, (time, chunk-relative offset) per message — the
    // record rosbag's own readers require to index the chunk
    chunkMsgIndex.foreach { case (connId, entries) =>
      val ih = fields("op" -> Array(OpIndexData), "ver" -> le32(1),
        "conn" -> le32(connId), "count" -> le32(entries.size))
      val id = new ByteArrayOutputStream()
      // chronological, as rosbag's own writer emits them — python
      // rosbag's bisect-based seeks assume each connection's index is
      // time-sorted (frames arriving time-unsorted within a partition
      // are legal input)
      entries.sortBy(e => (e._1, e._2)).foreach { case (s, ns, off) =>
        id.write(time(s, ns)); id.write(le32(off))
      }
      emitRecord(ih, id.toByteArray)
    }
    chunkInfos += ((chunkPos, chunkStart, chunkEnd,
      chunkConnCounts.toSeq.sortBy(_._1)))
    chunk = new ByteArrayOutputStream()
    chunkStart = (Int.MaxValue, Int.MaxValue)
    chunkEnd = (Int.MinValue, Int.MinValue)
    chunkConnCounts.clear()
    chunkMsgIndex.clear()
  }

  /** Seal the bag: last chunk, trailing index section, header patch. */
  def finish(): Unit = {
    flushChunk()
    val indexPos = pos
    conns.values.foreach { c =>
      val (h, d) = connRecord(c); emitRecord(h, d)
    }
    chunkInfos.foreach { case (chunkPos, st, en, perConn) =>
      val h = fields("op" -> Array(OpChunkInfo), "ver" -> le32(1),
        "chunk_pos" -> le64(chunkPos),
        "start_time" -> time(st._1, st._2), "end_time" -> time(en._1, en._2),
        "count" -> le32(perConn.size))
      val d = new ByteArrayOutputStream()
      perConn.foreach { case (conn, n) => d.write(le32(conn)); d.write(le32(n)) }
      emitRecord(h, d.toByteArray)
    }
    out.close()
    // back-patch the header: same field order and fixed-width values,
    // so the byte length is identical by construction
    val patched = fields("op" -> Array(OpBagHeader),
      "index_pos" -> le64(indexPos),
      "conn_count" -> le32(conns.size),
      "chunk_count" -> le32(chunkInfos.size))
    require(patched.length == HeaderFieldsLen, "bag header length drift")
    val raf = new java.io.RandomAccessFile(local, "rw")
    try {
      raf.seek(Magic.length.toLong + 4L) // past magic + header-length prefix
      raf.write(patched)
    } finally raf.close()
  }

  def rowCount: Long = total

  /** Abort-path cleanup: close the underlying stream WITHOUT sealing
    * (the file is about to be deleted — no index, no header patch).
    * Safe after `finish()` too (closing a closed stream is a no-op),
    * so abort can always call it; without this an aborted task leaks
    * the scratch file's fd until GC — slow fd exhaustion on a
    * long-lived executor surviving many speculative aborts.
    */
  def closeQuietly(): Unit =
    try out.close() catch { case _: java.io.IOException => () }
}

/** rosbag1 export sink — the write half of the `rosbag` DataSource:
  * `df.write.format("rosbag").mode("append").save(dir)`, the classic
  * `rosbag filter` re-emit for the v2.0 container (read an archive,
  * transform relationally, write a bag `rosbag play` can consume).
  * One bag per Spark partition, CHUNK-bounded task memory.
  *
  * The bag header record (file offset 13) carries `index_pos` /
  * `conn_count` / `chunk_count`, knowable only at close — remote
  * FS streams cannot seek back, so each task builds its bag on LOCAL
  * scratch disk (the shuffle-spill trust level), back-patches the
  * header, and uploads to the destination FS on task commit (dotted
  * in-progress name, rename after upload — same exactly-once shape as
  * the mcap sink). Task memory stays O(current chunk); disk O(one
  * partition's bag).
  *
  * Column contract (spine names): `topic`, `datatype`, `time_sec`,
  * `time_nsec`, `data` drive the output; other spine columns are
  * read-derived and ignored. Connection records carry md5sum/
  * message_definition when `conn_defs_from` points at an existing bag
  * path to harvest them from (driver-side, bounded pool) — without it
  * they export as `"*"`/empty (valid for spine-level consumers;
  * `rosbag` tooling treats `*` as unknown-md5). Options: `compression`
  * (none | bz2 | lz4; default lz4), `chunk_bytes` (raw bytes per
  * chunk, default 768 KiB — rosbag's own default chunk size). The
  * file protocol is [[graft.ros.ContainerSink]]'s.
  */
final class BagSink private (topic: Int, datatype: Int, timeSec: Int,
    timeNsec: Int, data: Int, filePath: Int, compression: String,
    chunkBytes: Int, defs: Map[String, (String, String)],
    defsFileFirst: Boolean) extends graft.ros.ContainerSink.Format {
  override def suffixes: Seq[String] = Seq(".bag")

  override def encoder(out: graft.ros.ContainerSink.TaskFiles)
      : graft.ros.ContainerSink.Encoder = new graft.ros.ContainerSink.Encoder {
    // built on local scratch (header back-patch needs a seekable file)
    private val local = java.io.File.createTempFile("graft_bag_sink_", ".bag")
    private val writer = new BagStreamingWriter(local, compression, chunkBytes,
      defs, defsFileFirst)

    override def write(row: InternalRow): Unit =
      writer.write(
        topic = row.getUTF8String(topic).toString,
        datatype = row.getUTF8String(datatype).toString,
        timeSec = row.getInt(timeSec),
        timeNsec = row.getInt(timeNsec),
        sourcePath = if (filePath < 0 || row.isNullAt(filePath)) ""
          else row.getUTF8String(filePath).toString,
        data = row.getBinary(data))

    override def finish(): AnyRef = {
      writer.finish()
      val dst = out.create("", ".bag")
      val in = new java.io.FileInputStream(local)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { dst.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      local.delete()
      null
    }

    override def abort(): Unit = { writer.closeQuietly(); local.delete(); () }
  }
}

object BagSink {
  /** datatype -> (md5sum, message_definition) harvested from ANY
    * container path: bag connection records verbatim (md5sum
    * included), plus mcap Schemas already carrying "ros1msg" encoding
    * (a bag→mcap convert's schemas — md5 exports as "*", rosbag
    * tooling's own unknown marker). The scans are strict: the user
    * NAMED this path as the definitions source — an unreadable file
    * must fail the write loudly, not silently export every connection
    * with md5 "*". A ros2msg/ros2idl/protobuf definition is a genuine
    * cross-dialect type translation: `foreign` = "error" (the default
    * for an explicitly named path) fails loudly; "skip"
    * ([[graft.ros.Convert]]'s best-effort auto-wire) carries the ros1
    * subset.
    */
  private def harvestConnDefs(path: String,
      foreign: String = "error"): Map[String, (String, String)] = {
    // dialect filter BEFORE dedupe (a same-named ros2 definition must
    // not shadow the ros1 one); dedupe itself prefers a genuine
    // md5sum over an mcap-carried "*"
    val (ok0, bad) = graft.ros.DefsHarvest.fromPath(path)
      .partition(_.encoding == "ros1msg")
    val ok = graft.ros.DefsHarvest.dedupe(ok0)
    if (bad.nonEmpty && foreign != "skip") throw new IllegalArgumentException(
      "rosbag write: conn_defs_from harvested non-ros1 definitions (" +
        bad.map(d => s"${d.name}: ${d.encoding}").distinct.take(5).mkString(", ") +
        ") — a bag connection record carries ros1msg text, and translating " +
        "ros2msg/ros2idl/protobuf definitions is a cross-dialect type " +
        "translation; set foreign_defs=skip to carry the ros1 subset")
    ok.map { d =>
      val text = new String(d.data, java.nio.charset.StandardCharsets.UTF_8)
      // a definition harvested from an mcap Schema record carries no
      // checksum ("*") — COMPUTE the genuine genmsg md5 from the text
      // so a bag→mcap→bag round trip yields connections real rosbag
      // tooling validates (an unparseable definition keeps "*": the
      // bytes still carry, the checksum stays honestly unknown)
      val md5 =
        if (d.md5sum != "*") d.md5sum
        else try graft.ros.RosMd5.compute(d.name, text)
        catch { case _: Exception => "*" }
      d.name -> (md5, text)
    }.toMap
  }

  def apply(w: graft.ros.ContainerSink.Request): BagSink =
    new BagSink(
      topic = w.need("topic", StringType),
      datatype = w.need("datatype", StringType),
      timeSec = w.need("time_sec", IntegerType),
      timeNsec = w.need("time_nsec", IntegerType),
      data = w.need("data", BinaryType),
      // OPTIONAL source-file column: feeds the writer's late-binding
      // defs resolution (SourceDefs.ros1ConnFor)
      filePath = w.opt("bag_path", StringType),
      compression = w.option("compression").getOrElse("lz4"),
      chunkBytes = w.option("chunk_bytes").map(_.toInt).getOrElse(768 * 1024),
      // inline entries (graft.ros.Transcode's ros1 renderings, genuine
      // genmsg md5s included) win over the path harvest: they exist in
      // no source container
      defs = w.option("conn_defs_from")
        .map(harvestConnDefs(_, w.option("foreign_defs").getOrElse("error")))
        .getOrElse(Map.empty) ++
        w.option("conn_defs_inline").toSeq
          .flatMap(graft.ros.DefsHarvest.decodeInline)
          .filter(_.encoding == "ros1msg")
          .map(d => d.name -> (d.md5sum,
            new String(d.data, java.nio.charset.StandardCharsets.UTF_8))),
      defsFileFirst = graft.ros.DefsHarvest.fileFirst(w.option("defs_priority")))
}

/** Conform an arbitrary frame to the rosbag write spine: only `topic`,
  * `datatype`, receipt time and `data` matter; read-derived spine
  * columns are filled with placeholders the writer ignores. Receipt
  * time arrives as one nanosecond column and splits into the bag's
  * (sec, nsec) pair here.
  */
object BagExport {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  def prepare(df: DataFrame, topic: Column, timeNs: Column, data: Column,
      datatype: Column = lit("graft/Blob"),
      sourcePath: Column = null): DataFrame = {
    val ns = coalesce(timeNs.cast("long"), lit(0L))
    // the (sec, nsec) split must be EXACT long arithmetic: Spark's `/`
    // on longs is double division, which rounds ns > 2^53 (every
    // real ns-precision epoch timestamp) and can land time_sec a full
    // second off near second boundaries. pmod gives the exact nsec;
    // subtracting it makes the numerator an exact multiple of 1e9, so
    // the integral `div` is exact (and floor-consistent for any sign).
    val nsec = pmod(ns, lit(1000000000L))
    df.select(
      coalesce(Option(sourcePath).map(_.cast("string")).getOrElse(lit("")),
        lit("")).as("bag_path"),
      lit(-1).as("chunk_idx"),
      lit(-1).as("offset"),
      call_function("div", ns - nsec, lit(1000000000L)).cast("int").as("time_sec"),
      nsec.cast("int").as("time_nsec"),
      coalesce(length(data).cast("int"), lit(0)).as("size"),
      lit(0).as("connection_id"),
      coalesce(topic.cast("string"), lit("")).as("topic"),
      coalesce(datatype.cast("string"), lit("")).as("datatype"),
      lit(null).cast("int").as("header_stamp_sec"),
      lit(null).cast("int").as("header_stamp_nsec"),
      lit(0L).as("data_crc32"),
      coalesce(data.cast("binary"), lit(Array.emptyByteArray)).as("data"))
  }
}
