package graft.ros.db3

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import graft.ros.mcap.CdrColumnarRead

/** Batch-at-a-time columnar reader for the UNTYPED (spine) db3 scan —
  * every spine column vectorizes trivially (longs off the b-tree row,
  * per-topic interned UTF-8 bytes, the payload by byte append) — the
  * db3 twin of RosbagMetaColumnarReader/McapMetaColumnarReader. Pushed
  * filters evaluate on the pre-decode values, a filtered row is never
  * inflated, and the pushed limit counts only surviving rows, exactly
  * like [[Db3SpineReader]].
  */
class Db3SpineColumnarReader(p: Db3InputPartition, required: StructType,
    filters: Array[Filter], limit: Int,
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private val pager = new Db3IO.Pager(p.path)
  private val rows = SqliteFormat.tableRows(pager.page, pager.header.usable, p.subtree)
  private var emitted = 0

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val pathBytes = utf8(p.path)
  private val topicBytes: Map[Long, (Array[Byte], Array[Byte], Array[Byte])] =
    p.topics.map { case (id, (n, t, f)) => id -> (utf8(n), utf8(t), utf8(f)) }

  private val needsData = required.fieldNames.exists(n => n == "size" || n == "data")

  private var curRowid = 0L
  private var curTid = 0L
  private var curTs = 0L
  private var curData: Array[Byte] = _
  private val writers: Array[() => Unit] =
    required.fields.zipWithIndex.map { case (f, i) =>
      val v = vectors(i)
      f.name match {
        case "file_path" => () => v.appendByteArray(pathBytes, 0, pathBytes.length)
        case "msg_id" => () => v.appendLong(curRowid)
        case "topic_id" => () => v.appendLong(curTid)
        case "topic" => () => {
          val b = topicBytes(curTid)._1; v.appendByteArray(b, 0, b.length) }
        case "type" => () => {
          val b = topicBytes(curTid)._2; v.appendByteArray(b, 0, b.length) }
        case "serialization_format" => () => {
          val b = topicBytes(curTid)._3; v.appendByteArray(b, 0, b.length) }
        case "timestamp" => () => v.appendLong(curTs)
        case "size" => () => v.appendInt(curData.length)
        case "data" => () => v.appendByteArray(curData, 0, curData.length)
      }
    }

  private val passes = graft.ros.ContainerSource.compile(filters,
    Db3DataSource.cols(p.path, p.topics))

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    if (!rows.hasNext) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    while (n < batchSize && bytes < batchBytes && rows.hasNext &&
        (limit < 0 || emitted < limit)) {
      val r = rows.next()
      val (rowid, v) = r
      if (passes(r)) {
        emitted += 1
        curRowid = rowid
        curTid = v(1).asInstanceOf[Long]
        curTs = v(2).asInstanceOf[Long]
        // loud on drift, like the row reader (fabricated empty metadata
        // would also skip cdr message-mode inflation silently)
        val (_, _, tf) = p.topics.getOrElse(curTid, throw new IllegalStateException(
          s"message row $rowid references unknown topic_id $curTid in ${p.path}"))
        curData =
          if (needsData && tf == "cdr") Db3IO.inflate(v(3).asInstanceOf[Array[Byte]])
          else v(3).asInstanceOf[Array[Byte]]
        if (needsData) bytes += curData.length
        var j = 0
        while (j < writers.length) { writers(j)(); j += 1 }
        n += 1
      }
    }
    if (n == 0) return next()
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    pager.close()
  }
}

/** Batch-at-a-time columnar reader for TYPED db3 scans: CDR payloads
  * decode straight into `OnHeapColumnVector`s through the shared
  * [[CdrColumnarRead]] op program (the same aligned walk the mcap
  * typed columnar reader runs — rosbag2's storage is sqlite but its
  * payloads are the identical XCDR1 wire). Row iteration, topic
  * filtering, pushed-filter eval and message-mode zstd inflation
  * mirror [[Db3TypedReader]]; only the materialization differs — no
  * per-row `Seq[Any]`, no boxing, no `InternalRow.fromSeq`.
  */
class Db3TypedColumnarReader(p: Db3InputPartition, schemaName: String,
    encoding: String, schemaText: String, required: StructType,
    includeRaw: Boolean, filters: Array[Filter], limit: Int,
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {

  private val bundle = graft.ros.mcap.McapPayload.bundle(encoding,
    schemaName, schemaText.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private val colIdx: Map[String, Int] = required.fieldNames.zipWithIndex.toMap
  private def vec(name: String): Option[WritableColumnVector] =
    colIdx.get(name).map(vectors(_))
  private val metaNames = Set("file_path", "msg_id", "timestamp", "topic_id",
    "topic", "data")
  private def payloadVec(name: String): Option[WritableColumnVector] =
    vec(if (Db3TypedRead.reserved(name)) name + "_field" else name)
  private val cdrProgs = new CdrColumnarRead.CdrPrograms(bundle, payloadVec)
  private val needsWalk: Boolean =
    required.fieldNames.exists(n => !metaNames(n))

  private val typeTopics: Map[Long, (String, String, String)] =
    p.topics.filter { case (_, (_, t, _)) => t == schemaName }
  private val pager = new Db3IO.Pager(p.path)
  private val rows = SqliteFormat
    .tableRows(pager.page, pager.header.usable, p.subtree)
    .filter { case (_, v) => typeTopics.contains(v(1).asInstanceOf[Long]) }
  private var emitted = 0

  private val pathBytes = p.path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val passes = graft.ros.ContainerSource.compile(filters,
    Db3DataSource.cols(p.path, typeTopics))
  private val topicBytes: Map[Long, Array[Byte]] = typeTopics.map {
    case (id, (n, _, _)) => id -> n.getBytes(java.nio.charset.StandardCharsets.UTF_8) }

  private val filePathV = vec("file_path").orNull
  private val msgIdV = vec("msg_id").orNull
  private val timestampV = vec("timestamp").orNull
  private val topicIdV = vec("topic_id").orNull
  private val topicV = vec("topic").orNull
  private val rawV = if (includeRaw) vec("data").orNull else null

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    if (!rows.hasNext) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    // row AND byte budget like the bag/mcap columnar readers; the
    // byte budget counts the INFLATED payload (what the vectors hold)
    val payloadMaterialized = needsWalk || rawV != null
    while (n < batchSize && bytes < batchBytes && rows.hasNext &&
        (limit < 0 || emitted < limit)) {
      val r = rows.next()
      val (rowid, v) = r
      val tid = v(1).asInstanceOf[Long]
      val (tname, _, fmt) = typeTopics(tid)
      require(fmt == "cdr",
        s"topic $tname serializes as '$fmt'; typed db3 reads decode cdr")
      val ts = v(2).asInstanceOf[Long]
      if (passes(r)) {
        emitted += 1
        // cdr-only by the reader's contract, so the magic sniff is
        // safe; meta-only projections skip the decompression entirely
        val data =
          if (payloadMaterialized) Db3IO.inflate(v(3).asInstanceOf[Array[Byte]])
          else v(3).asInstanceOf[Array[Byte]]
        if (payloadMaterialized) bytes += data.length
        if (filePathV != null) filePathV.appendByteArray(pathBytes, 0, pathBytes.length)
        if (msgIdV != null) msgIdV.appendLong(rowid)
        if (timestampV != null) timestampV.appendLong(ts)
        if (topicIdV != null) topicIdV.appendLong(tid)
        if (topicV != null) {
          val b = topicBytes(tid); topicV.appendByteArray(b, 0, b.length)
        }
        if (rawV != null) rawV.appendByteArray(data, 0, data.length)
        if (needsWalk) CdrColumnarRead.walkMessage(cdrProgs, data)
        n += 1
      }
    }
    if (n == 0) return next() // filters ate the remainder; recurse ends on !hasNext
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    pager.close()
  }
}
