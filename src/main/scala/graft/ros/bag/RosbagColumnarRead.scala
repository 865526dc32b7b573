package graft.ros.bag

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import graft.ros._
import graft.ros.RosPrimitive._

/** Vectorized typed bag reads — `PartitionReader[ColumnarBatch]`
  * (SURVEY.md §1.1's "optimization path"). The wire walk decodes each
  * message DIRECTLY into `OnHeapColumnVector`s through a per-leaf op
  * program compiled once per partition from the message definition:
  * no per-row `Seq[Any]`, no boxing, no `InternalRow.fromSeq`, no
  * `String`/`GenericArrayData` intermediates (strings append their
  * UTF-8 wire bytes verbatim). Columns pruned away by Catalyst become
  * skip ops that advance the buffer without materializing anything —
  * same economics as the reference's "read the header before deciding
  * whether to incur I/O for the image" (reference README.md:10), but
  * per column.
  *
  * Supported column shapes: all scalars, strings, uint8[] blobs, and
  * arrays of primitives/strings. A REQUIRED column of array-of-struct
  * shape (msg[] / time[]) falls back to the row reader for the whole
  * scan — unsupported shapes that are merely present in the type but
  * pruned from the projection are fine (they are skip-walked).
  */
object RosbagColumnarRead {

  /** Kill switch for same-session A/B measurement (TypedReadBench) and
    * triage: sysprop `graft.columnar.disable=true` routes every scan
    * through the row readers. Read per supportColumnarReads call
    * (driver-side, plan time), so one session can flip it between
    * queries. Shared by all six reader factories (bag/mcap/db3 ×
    * spine/typed).
    */
  def enabled: Boolean = !java.lang.Boolean.getBoolean("graft.columnar.disable")

  /** Can every required column be decoded vectorized? */
  def supportsColumnar(required: StructType): Boolean =
    required.fields.forall { f =>
      f.dataType match {
        case BooleanType | IntegerType | LongType | FloatType | DoubleType |
             StringType | BinaryType => true
        case ArrayType(BooleanType | IntegerType | LongType | FloatType |
                       DoubleType | StringType, _) => true
        case _ => false
      }
    }

  type Op = ByteBuffer => Unit

  private def readLen(buf: ByteBuffer): Int = {
    val n = buf.getInt()
    require(n >= 0, s"negative array/string length $n")
    n
  }
  private def skip(buf: ByteBuffer, n: Int): Unit = buf.position(buf.position() + n)

  private def scalarWidth(p: RosPrimitive): Int = p match {
    case RBool | RInt8 | RByte | RUInt8 | RChar => 1
    case RInt16 | RUInt16 => 2
    case RInt32 | RUInt32 | RFloat32 => 4
    case RInt64 | RUInt64 | RFloat64 | RTime | RDuration => 8
    case RString => -1 // dynamic
    case RWString => throw new IllegalArgumentException(
      "wstring is not a ROS 1 wire type (ros2 CDR decodes it)")
  }

  /** Skip one scalar of primitive type `p`. */
  private def skipScalar(p: RosPrimitive): Op = p match {
    case RString => buf => skip(buf, readLen(buf))
    case other   => val w = scalarWidth(other); buf => skip(buf, w)
  }

  /** Append one scalar of primitive type `p` into `v` (widening rules
    * of RosSchemaMapper.decodeScalar, reference MessageTable.cpp:40-225
    * with the unsigned fixes of SURVEY.md §1.2).
    */
  private def writeScalar(p: RosPrimitive, v: WritableColumnVector): Op = p match {
    case RBool    => buf => v.appendBoolean(buf.get() != 0)
    case RInt8 | RByte => buf => v.appendInt(buf.get().toInt)
    case RUInt8 | RChar => buf => v.appendInt(java.lang.Byte.toUnsignedInt(buf.get()))
    case RInt16   => buf => v.appendInt(buf.getShort().toInt)
    case RUInt16  => buf => v.appendInt(java.lang.Short.toUnsignedInt(buf.getShort()))
    case RInt32   => buf => v.appendInt(buf.getInt())
    case RUInt32  => buf => v.appendLong(java.lang.Integer.toUnsignedLong(buf.getInt()))
    case RInt64 | RUInt64 => buf => v.appendLong(buf.getLong())
    case RFloat32 => buf => v.appendFloat(buf.getFloat())
    case RFloat64 => buf => v.appendDouble(buf.getDouble())
    case RString  => buf => {
      val n = readLen(buf)
      val arr = buf.array(); val off = buf.arrayOffset() + buf.position()
      // parity with the row path (RosSchemaMapper decodes through
      // new String(..., UTF_8), which substitutes U+FFFD): valid UTF-8
      // appends zero-copy; invalid bytes take the Java String round
      // trip so both readers return identical values
      if (org.apache.spark.unsafe.types.UTF8String.fromBytes(arr, off, n).isValid) {
        v.appendByteArray(arr, off, n)
      } else {
        val fixed = new String(arr, off, n, java.nio.charset.StandardCharsets.UTF_8)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        v.appendByteArray(fixed, 0, fixed.length)
      }
      skip(buf, n)
    }
    case RWString => throw new IllegalArgumentException(
      "wstring is not a ROS 1 wire type (ros2 CDR decodes it)")
    case RTime | RDuration =>
      throw new IllegalStateException("time handled by caller (two columns)")
  }

  /** Append one array element into the CHILD vector (same widenings). */
  private def writeElem(p: RosPrimitive, child: WritableColumnVector): Op =
    writeScalar(p, child)

  /** Compile the wire-order op program for `msg`: one op per leaf, a
    * writer when the leaf's flattened column is in `colFor`, a skip
    * otherwise. Mirrors RosSchemaMapper.schemaFields/decodeMsg exactly
    * so wire order and column order stay aligned.
    */
  def compile(bundle: RosMsgBundle, msg: RosMsgDef, prefix: String,
              colFor: String => Option[WritableColumnVector]): Seq[Op] = {
    def join(p: String, n: String) = if (p.isEmpty) n else s"${p}_$n"
    msg.fields.filterNot(_.isConstant).flatMap { f =>
      val col = join(prefix, f.name)
      f.tpe match {
        case RTime | RDuration =>
          Seq(colFor(s"${col}_sec") match {
            case Some(v) => (buf: ByteBuffer) => v.appendInt(buf.getInt())
            case None    => (buf: ByteBuffer) => skip(buf, 4)
          }, colFor(s"${col}_nsec") match {
            case Some(v) => (buf: ByteBuffer) => v.appendInt(buf.getInt())
            case None    => (buf: ByteBuffer) => skip(buf, 4)
          })
        case p: RosPrimitive =>
          Seq(colFor(col).map(writeScalar(p, _)).getOrElse(skipScalar(p)))
        case ref: RosMsgRef =>
          compile(bundle, bundle.resolve(ref, msg.pkg), col, colFor)
        case RosArray(RUInt8 | RByte | RChar | RInt8, fixedLen) =>
          Seq(colFor(col) match {
            case Some(v) => (buf: ByteBuffer) => {
              val n = fixedLen.getOrElse(readLen(buf))
              v.appendByteArray(buf.array(), buf.arrayOffset() + buf.position(), n)
              skip(buf, n)
            }
            case None => (buf: ByteBuffer) =>
              skip(buf, fixedLen.getOrElse(readLen(buf)))
          })
        case RosArray(RTime | RDuration, fixedLen) =>
          // array-of-struct columns are never writers here (supportsColumnar
          // rejects them from the projection); skip is 8 bytes per element
          Seq((buf: ByteBuffer) => skip(buf, 8 * fixedLen.getOrElse(readLen(buf))))
        case RosArray(p: RosPrimitive, fixedLen) =>
          Seq(colFor(col) match {
            case Some(v) =>
              val elemWriter = writeElem(p, v.arrayData())
              (buf: ByteBuffer) => {
                val n = fixedLen.getOrElse(readLen(buf))
                // appendArray FIRST: it records the child's current
                // elementsAppended as this row's offset, so the n
                // element appends below land exactly in [offset,
                // offset+n). Appending elements first would make the
                // offset point one row ahead (zeros on the last row,
                // silently shifted values elsewhere).
                v.appendArray(n)
                var i = 0
                while (i < n) { elemWriter(buf); i += 1 }
              }
            case None =>
              val elemSkip = skipScalar(p)
              val w = scalarWidth(p)
              if (w > 0) (buf: ByteBuffer) => skip(buf, w * fixedLen.getOrElse(readLen(buf)))
              else (buf: ByteBuffer) => {
                val n = fixedLen.getOrElse(readLen(buf))
                var i = 0
                while (i < n) { elemSkip(buf); i += 1 }
              }
          })
        case RosArray(ref: RosMsgRef, fixedLen) =>
          // element skip program (no writers inside by construction)
          val elemOps = compile(bundle, bundle.resolve(ref, msg.pkg), col,
            _ => None)
          Seq((buf: ByteBuffer) => {
            val n = fixedLen.getOrElse(readLen(buf))
            var i = 0
            while (i < n) { elemOps.foreach(_(buf)); i += 1 }
          })
        case RosArray(_: RosArray, _) =>
          throw new IllegalArgumentException("arrays of arrays are not in the ROS IDL")
      }
    }
  }
}

/** Batch-at-a-time columnar reader for the UNTYPED (spine) bag scan —
  * the hottest path in the ETL: every meta pass (seqno staging,
  * Messages) and every query-in-place meta projection runs through it.
  * All spine columns vectorize trivially: ints from the message
  * record, topic/datatype as per-connection interned UTF-8 bytes,
  * nullable header stamps from the 12-byte wire prefix, the raw blob
  * by reference-free byte append.
  */
class RosbagMetaColumnarReader(p: InputPartition, required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter], limit: Int,
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])
  private val cur = new BagCursor(p, RosbagPartitionReader.keepFor(filters), limit)

  private def stamp(m: BagFormat.BagMessage, v: OnHeapColumnVector, off: Int): Unit =
    if (cur.ctx.hasHeader(m.connId) && m.data.length >= 12)
      v.appendInt(RosbagDataSource.leInt(m.data, off))
    else v.appendNull()

  private def appendBytes(v: OnHeapColumnVector, b: Array[Byte]): Unit = {
    v.appendByteArray(b, 0, b.length); ()
  }

  private val writers: Array[BagFormat.BagMessage => Unit] =
    required.fields.zipWithIndex.map { case (f, i) =>
      val v = vectors(i)
      f.name match {
        case "bag_path" => (_: BagFormat.BagMessage) => appendBytes(v, cur.ctx.pathBytes)
        case "chunk_idx" => (_: BagFormat.BagMessage) => v.appendInt(cur.part.chunkIdx)
        case "offset" => (m: BagFormat.BagMessage) => v.appendInt(m.offsetInChunk)
        case "time_sec" => (m: BagFormat.BagMessage) => v.appendInt(m.timeSec)
        case "time_nsec" => (m: BagFormat.BagMessage) => v.appendInt(m.timeNsec)
        case "size" => (m: BagFormat.BagMessage) => v.appendInt(m.data.length)
        case "connection_id" => (m: BagFormat.BagMessage) => v.appendInt(m.connId)
        case "topic" => (m: BagFormat.BagMessage) =>
          appendBytes(v, cur.ctx.topicBytes(m.connId))
        case "datatype" => (m: BagFormat.BagMessage) =>
          appendBytes(v, cur.ctx.datatypeBytes(m.connId))
        case "header_stamp_sec" => (m: BagFormat.BagMessage) => stamp(m, v, 4)
        case "header_stamp_nsec" => (m: BagFormat.BagMessage) => stamp(m, v, 8)
        case "data_crc32" => (m: BagFormat.BagMessage) =>
          v.appendLong(RosbagDataSource.crc32(m.data))
        case "data" => (m: BagFormat.BagMessage) => appendBytes(v, m.data)
        case RosbagSeqno.Column => (_: BagFormat.BagMessage) => v.appendLong(cur.seqno)
      }
    }
  private val dataRequired = required.fieldNames.contains("data")

  override def next(): Boolean = {
    if (!cur.next()) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    var more = true
    while (more) {
      val m = cur.msg
      if (dataRequired) bytes += m.data.length
      var j = 0
      while (j < writers.length) { writers(j)(m); j += 1 }
      n += 1
      more = n < batchSize && bytes < batchBytes && cur.next()
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}

/** Batch-at-a-time columnar reader for typed bag scans. */
class RosbagTypedColumnarReader(p: InputPartition, datatype: String,
    msgDef: String, required: StructType, includeRaw: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter],
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {
  import RosbagColumnarRead._

  private val bundle = MsgDefParser.parse(datatype, msgDef)
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private val colIdx: Map[String, Int] =
    required.fieldNames.zipWithIndex.toMap
  private def vec(name: String): Option[WritableColumnVector] =
    colIdx.get(name).map(vectors(_))

  // meta + raw columns are written outside the wire walk; payload
  // fields colliding with reserved names carry the `_field` suffix in
  // the typed schema (RosbagTypedRead.typedSchema) — look them up
  // under the renamed column
  private val metaNames = Set("bag_path", "chunk_idx", "offset", "time_sec", "time_nsec",
    "connection_id", "data", RosbagSeqno.Column)
  private val ops: Array[Op] =
    compile(bundle, bundle.root, prefix = "",
      name => vec(if (metaNames(name)) name + "_field" else name)).toArray
  // wire-walk needed at all? (meta-only scans skip the decode entirely)
  private val needsWalk: Boolean =
    required.fieldNames.exists(n => !metaNames(n))

  private val cur = new BagCursor(p, RosbagTypedRead.keepFor(datatype, filters))

  private val bagPathV = vec("bag_path").orNull
  private val seqnoV = vec(RosbagSeqno.Column).orNull
  private val chunkIdxV = vec("chunk_idx").orNull
  private val offsetV = vec("offset").orNull
  private val timeSecV = vec("time_sec").orNull
  private val timeNsecV = vec("time_nsec").orNull
  private val connIdV = vec("connection_id").orNull
  private val rawV = if (includeRaw) vec("data").orNull else null

  override def next(): Boolean = {
    if (!cur.next()) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    var more = true
    // row AND byte budget: blob-dominated types (images) would blow the
    // ~2 GB contiguous capacity of a single child vector — and hold the
    // heap — at 4096 rows x MB-scale messages. Each batch stops at
    // batchBytes of wire payload (always admitting at least one row).
    // Meta-only scans materialize nothing from the payload, so they
    // keep full-size batches regardless of message size.
    val payloadMaterialized = needsWalk || rawV != null
    while (more) {
      val m = cur.msg
      if (payloadMaterialized) bytes += m.data.length
      if (bagPathV != null) {
        val b = cur.ctx.pathBytes; bagPathV.appendByteArray(b, 0, b.length)
      }
      if (seqnoV != null) seqnoV.appendLong(cur.seqno)
      if (chunkIdxV != null) chunkIdxV.appendInt(cur.part.chunkIdx)
      if (offsetV != null) offsetV.appendInt(m.offsetInChunk)
      if (timeSecV != null) timeSecV.appendInt(m.timeSec)
      if (timeNsecV != null) timeNsecV.appendInt(m.timeNsec)
      if (connIdV != null) connIdV.appendInt(m.connId)
      if (rawV != null) rawV.appendByteArray(m.data, 0, m.data.length)
      if (needsWalk) {
        val buf = ByteBuffer.wrap(m.data).order(ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < ops.length) { ops(j)(buf); j += 1 }
        require(!buf.hasRemaining,
          s"decode did not consume buffer: ${buf.remaining} bytes left of ${m.data.length}")
      }
      n += 1
      more = n < batchSize && bytes < batchBytes && cur.next()
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}
