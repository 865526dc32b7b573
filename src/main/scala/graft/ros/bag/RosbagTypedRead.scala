package graft.ros.bag

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.ros.{MsgDefParser, RosMsgBundle, RosSchemaMapper}

/** Typed in-place bag reads: `spark.read.format("rosbag")
  * .option("datatype", "sensor_msgs/Imu").load(path)` decodes the
  * flattened per-type schema DIRECTLY inside the source's
  * PartitionReader — querying the bag without converting it first.
  * The reference's pitch is convert-then-query (README.md:2); this adds
  * query-in-place on top: the same flatten/decode used by the ETL, but
  * streamed straight into Catalyst as InternalRows (SURVEY.md §1.1's
  * "row-based PartitionReader[InternalRow]" analog).
  *
  * Schema: spine meta (chunk_idx, offset, time_sec, time_nsec,
  * connection_id) ++ flattened payload columns (reserved names get
  * `_field` like the ETL). The raw blob is included only when
  * `option("includeRaw", "true")`.
  */
object RosbagTypedRead {
  val MetaFields: Seq[StructField] = Seq(
    StructField("bag_path", StringType, nullable = false),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("time_sec", IntegerType, nullable = false),
    StructField("time_nsec", IntegerType, nullable = false),
    StructField("connection_id", IntegerType, nullable = false))

  private val reserved = MetaFields.map(_.name).toSet + "data" + "seqno"

  /** A resolved typed-read target: ONE message definition (identified
    * by its md5) and the bags that carry it. Multi-bag loads with
    * schema drift (SURVEY §7.4.3: a fleet's mid-life message-definition
    * change) hold several variants of a datatype; each variant is its
    * own target/table — `option("md5", prefix)` selects one.
    */
  final case class TypedTarget(datatype: String, msgDef: String, md5: String,
                               bags: Seq[String])

  /** Resolve (path, datatype, optional md5 prefix) against every bag
    * `path` denotes. Fails loudly when the datatype drifts across bags
    * and no md5 narrows it to one variant — a silent pick would decode
    * some bags with the wrong definition.
    */
  def resolveTarget(path: String, datatype: String, md5: Option[String]): TypedTarget = {
    val variants: Seq[(String, String, String)] = // (md5, msgDef, bag)
      RosbagIO.scanIndexes(RosbagDataSource.files(path)).flatMap { case (bag, index) =>
        index.connections
          .filter(_.datatype == datatype)
          .map(c => (c.md5sum, c.msgDef, bag))
      }
    require(variants.nonEmpty, s"datatype $datatype not present in $path")
    val byMd5 = variants.groupBy(_._1)
    val chosen = md5 match {
      case Some(m) => byMd5.filter { case (k, _) => k.startsWith(m) }
      case None => byMd5
    }
    require(chosen.size == 1,
      s"datatype $datatype has ${byMd5.size} definition variants in $path " +
        s"(md5s: ${byMd5.keys.toSeq.sorted.mkString(", ")})" +
        (if (md5.isDefined) s"; md5 prefix '${md5.get}' matches ${chosen.size}"
         else "; pass option(\"md5\", <prefix>) to select one"))
    val (m, vs) = chosen.head
    TypedTarget(datatype, vs.head._2, m, vs.map(_._3).distinct)
  }

  /** The typed scan's row filter for one chunk: messages of this
    * datatype's connections that pass the pushed meta filters — skipped
    * before any decode cost.
    */
  def keepFor(datatype: String, filters: Array[org.apache.spark.sql.sources.Filter])(
      c: RosbagInputPartition): BagFormat.BagMessage => Boolean = {
    val typeConns = c.conns.filter(_._2.datatype == datatype).keySet
    val keep = graft.ros.ContainerSource.compile(filters, RosbagPartitionReader.cols(c))
    m => typeConns.contains(m.connId) && keep(m)
  }

  def bundleFor(path: String, datatype: String): RosMsgBundle = {
    val t = resolveTarget(path, datatype, None)
    MsgDefParser.parse(datatype, t.msgDef)
  }

  def typedSchema(bundle: RosMsgBundle, includeRaw: Boolean): StructType = {
    val payload = RosSchemaMapper.flatSchema(bundle).fields.map(f =>
      if (reserved(f.name)) f.copy(name = f.name + "_field") else f)
    val raw = if (includeRaw) Seq(StructField("data", BinaryType, nullable = false)) else Nil
    StructType(MetaFields ++ payload ++ raw)
  }

  /** Scala decode value → Catalyst internal value, per data type. */
  def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: Array[Byte], BinaryType) => b
    case (seq: Seq[_], ArrayType(et, _)) =>
      new GenericArrayData(seq.map(toCatalyst(_, et)).toArray)
    case (r: org.apache.spark.sql.Row, st: StructType) =>
      InternalRow.fromSeq(r.toSeq.zip(st.fields).map { case (x, f) => toCatalyst(x, f.dataType) })
    case (x, _) => x
  }
}

class RosbagTypedPartitionReader(p: InputPartition, datatype: String,
    msgDef: String, required: StructType, includeRaw: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReader[InternalRow] {
  import RosbagTypedRead._

  private lazy val bundle = MsgDefParser.parse(datatype, msgDef)
  private lazy val fullSchema = typedSchema(bundle, includeRaw)
  // index of each required column in the full typed row; -1 = seqno
  private lazy val projection: Array[Int] = required.fields.map(f =>
    if (f.name == RosbagSeqno.Column) -1 else fullSchema.fieldIndex(f.name))
  private val cur = new BagCursor(p, keepFor(datatype, filters))

  override def next(): Boolean = cur.next()

  // column pruning: decode the payload only when a payload column is
  // actually required (meta-only scans — counts, time filters — keep
  // the "no decode unless asked" property of the spine reader)
  private lazy val needsPayload: Boolean =
    projection.exists(i => i >= MetaFields.size &&
      !(includeRaw && i == fullSchema.size - 1))

  override def get(): InternalRow = {
    val current = cur.msg
    val nFields = fullSchema.size
    val full = new Array[Any](nFields)
    full(0) = cur.ctx.pathUtf8
    full(1) = cur.part.chunkIdx; full(2) = current.offsetInChunk
    full(3) = current.timeSec; full(4) = current.timeNsec; full(5) = current.connId
    if (includeRaw) full(nFields - 1) = current.data
    if (needsPayload) {
      val vals = RosSchemaMapper.decode(bundle, current.data)
      var i = 0
      val it = vals.iterator
      while (it.hasNext) { full(MetaFields.size + i) = it.next(); i += 1 }
    }
    InternalRow.fromSeq(projection.toSeq.map { i =>
      if (i < 0) cur.seqno else toCatalyst(full(i), fullSchema.fields(i).dataType)
    })
  }

  override def close(): Unit = ()
}
