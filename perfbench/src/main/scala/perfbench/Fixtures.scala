package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.CRC32

import graft.ros.{Fixtures => RosFixtures, MsgDefParser, RosMd5, RosSchemaMapper}
import graft.ros.bag.BagFormat
import graft.ros.db3.SqliteFormat
import graft.ros.mcap.{CdrCodec, McapFormat, Ros2Msg}

/** Seeded input generators. Every value a check compares against is
  * computed here, from the generated messages, never by the program.
  */
object Fixtures {
  private val HeaderBlock =
    """================================================================================
      |MSG: std_msgs/Header
      |uint32 seq
      |time stamp
      |string frame_id
      |""".stripMargin
  private def withHeader(body: String) = body + "\n" + HeaderBlock

  val ImageType = "sensor_msgs/CompressedImage"
  val ImageDef: String = withHeader("Header header\nstring format\nuint8[] data")
  val TempType = "sensor_msgs/Temperature"
  val TempDef: String = withHeader("Header header\nfloat64 temperature\nfloat64 variance")
  val PressureType = "sensor_msgs/FluidPressure"
  val PressureDef: String = withHeader("Header header\nfloat64 fluid_pressure\nfloat64 variance")

  private def crc(b: Array[Byte]): Long = { val c = new CRC32(); c.update(b); c.getValue }

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** What BagEtl must report for the ETL bag, and the rows each
    * per-type table must hold (keyed by datatype).
    */
  final case class EtlBag(path: Path, fileBytes: Long, count: Long, sizeBytes: Long,
      crcXor: Long, perType: Map[String, Long])

  /** A camera+IMU rig at 10 Hz: one ~4 KB CompressedImage per tick
    * carries most bytes; two Imu, one Temperature and one FluidPressure
    * message are interleaved with it. lz4 chunks of 400 messages.
    */
  def etlBag(dir: Path, seed: Long, targetBytes: Long): EtlBag = {
    val rng = new scala.util.Random(seed)
    val img = MsgDefParser.parse(ImageType, ImageDef)
    val imu = MsgDefParser.parse("sensor_msgs/Imu", RosFixtures.imuDef)
    val temp = MsgDefParser.parse(TempType, TempDef)
    val pres = MsgDefParser.parse(PressureType, PressureDef)
    val conns = Seq(
      BagFormat.BagConnection(0, "/cam0/image/compressed", ImageType,
        RosMd5.compute(img), ImageDef, "/camera"),
      BagFormat.BagConnection(1, "/imu", "sensor_msgs/Imu", RosFixtures.imuMd5,
        RosFixtures.imuDef, "/imu"),
      BagFormat.BagConnection(2, "/temperature", TempType, RosMd5.compute(temp), TempDef, "/env"),
      BagFormat.BagConnection(3, "/pressure", PressureType, RosMd5.compute(pres), PressureDef, "/env"))
    val blobLen = 4096
    val perTick = blobLen + 2 * 420 + 2 * 90 + 300
    val ticks = math.max(1L, targetBytes / perTick).toInt
    val base = 1600000000 + (seed & 0xffff).toInt
    val msgs = new scala.collection.mutable.ArrayBuffer[BagFormat.WriteMessage](ticks * 5)
    val counts = Array.fill(4)(0L)
    var size = 0L; var crcX = 0L
    def emit(conn: Int, sec: Int, nsec: Int, data: Array[Byte]): Unit = {
      msgs += BagFormat.WriteMessage(conn, sec, nsec, data)
      counts(conn) += 1; size += data.length; crcX ^= crc(data)
    }
    val blob = new Array[Byte](blobLen)
    def cov() = Seq.fill(9)(rng.nextDouble())
    (0 until ticks).foreach { i =>
      val sec = base + i / 10
      val ns = (i % 10) * 100000000
      rng.nextBytes(blob)
      emit(0, sec, ns, RosSchemaMapper.encode(img, Seq(i.toLong, sec, ns, "cam0", "jpeg", blob)))
      Seq(1000000, 50000000).foreach { off =>
        emit(1, sec, ns + off, RosSchemaMapper.encode(imu, Seq(
          counts(1), sec, ns + off, "imu",
          rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian(), 1.0, cov(),
          rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian(), cov(),
          9.8 + rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian(), cov())))
      }
      emit(2, sec, ns + 7000000, RosSchemaMapper.encode(temp, Seq(
        counts(2), sec, ns + 7000000, "env", 20.0 + rng.nextGaussian(), 0.01)))
      emit(3, sec, ns + 60000000, RosSchemaMapper.encode(pres, Seq(
        counts(3), sec, ns + 60000000, "env", 101325.0 + 10 * rng.nextGaussian(), 0.5)))
    }
    val p = dir.resolve("rig.bag")
    Files.write(p, BagFormat.writeBag(conns, msgs.toSeq, messagesPerChunk = 400,
      compression = "lz4"))
    EtlBag(p, Files.size(p), msgs.size.toLong, size, crcX,
      conns.map(c => c.datatype -> counts(c.connId)).toMap)
  }

  val BlobType2 = "graft_msgs/msg/Blob"
  val ReadingType2 = "graft_msgs/msg/Reading"
  val BlobType1 = "graft_msgs/Blob"
  val ReadingType1 = "graft_msgs/Reading"
  val BlobDef = "int64 seq\nstring format\nuint8[] data"
  val ReadingDef = "int64 seq\nfloat64 x\nfloat64 y\nfloat64 z"
  val BlobTopic = "/cam0/blob"
  val ReadingTopic = "/reading"

  /** Per-topic `info` row: count, min/max receipt time (ns), total bytes. */
  final case class TopicStat(count: Long, minT: Long, maxT: Long, bytes: Long)

  /** `info` holds the per-topic expectations per format: the bag stores
    * ROS1 wire bytes, MCAP and db3 CDR bytes.
    */
  final case class ContainerSet(paths: Map[String, Path], blobs: Long, readings: Long,
      info: Map[String, Map[String, TopicStat]], readingSeqSum: Long, readingXSum: Double,
      blobBytes: Long, blobCrcXor: Long, rangeLoSec: Long, rangeHiSec: Long,
      rangeCount: Long, rangeSeqSum: Long)

  /** The same message set — ~4 KB blobs, 20 small readings per blob,
    * 50 ms apart — written as a ROS1 bag, an MCAP file and a db3.
    */
  def containers(dir: Path, seed: Long, targetBytes: Long): ContainerSet = {
    val rng = new scala.util.Random(seed)
    val blobLen = 4096
    val nPairs = math.max(10L, targetBytes / (blobLen + 20 * 60)).toInt
    val base = (1700000000L + (seed & 0xffff)) * 1000000000L
    final case class M(topic: Int, seq: Long, t: Long, blob: Array[Byte], x: Double, y: Double, z: Double)
    val msgs = new scala.collection.mutable.ArrayBuffer[M](nPairs * 21)
    (0 until nPairs).foreach { i =>
      val b = new Array[Byte](blobLen); rng.nextBytes(b)
      val t = base + i * 50000000L
      msgs += M(1, i.toLong, t, b, 0, 0, 0)
      (0 until 20).foreach { k =>
        msgs += M(2, 20L * i + k, t + 1000 * (k + 1), null,
          rng.nextGaussian(), rng.nextGaussian(), 9.8 + rng.nextGaussian())
      }
    }
    val blobB2 = Ros2Msg.bundle(BlobType2, BlobDef)
    val readB2 = Ros2Msg.bundle(ReadingType2, ReadingDef)
    val blobB1 = MsgDefParser.parse(BlobType1, BlobDef)
    val readB1 = MsgDefParser.parse(ReadingType1, ReadingDef)
    val cdr: IndexedSeq[Array[Byte]] = msgs.map { m =>
      if (m.topic == 1) CdrCodec.encode(blobB2, Seq(m.seq, "jpeg", m.blob))
      else CdrCodec.encode(readB2, Seq(m.seq, m.x, m.y, m.z))
    }.toIndexedSeq
    val ros1: IndexedSeq[Array[Byte]] = msgs.map { m =>
      if (m.topic == 1) RosSchemaMapper.encode(blobB1, Seq(m.seq, "jpeg", m.blob))
      else RosSchemaMapper.encode(readB1, Seq(m.seq, m.x, m.y, m.z))
    }.toIndexedSeq

    val topicName = Map(1 -> BlobTopic, 2 -> ReadingTopic)
    def stats(enc: IndexedSeq[Array[Byte]]): Map[String, TopicStat] =
      msgs.indices.groupBy(i => msgs(i).topic).map { case (tp, is) =>
        topicName(tp) -> TopicStat(is.size.toLong, is.map(msgs(_).t).min, is.map(msgs(_).t).max,
          is.map(enc(_).length.toLong).sum)
      }

    val bagPath = dir.resolve("set.bag")
    Files.write(bagPath, BagFormat.writeBag(
      Seq(BagFormat.BagConnection(0, BlobTopic, BlobType1, RosMd5.compute(blobB1), BlobDef, "/c"),
        BagFormat.BagConnection(1, ReadingTopic, ReadingType1, RosMd5.compute(readB1),
          ReadingDef, "/c")),
      msgs.indices.map { i => val m = msgs(i)
        BagFormat.WriteMessage(m.topic - 1, (m.t / 1000000000L).toInt,
          (m.t % 1000000000L).toInt, ros1(i)) },
      messagesPerChunk = 256))
    val mcapPath = dir.resolve("set.mcap")
    val mcapMsgs = msgs.indices.map { i =>
      McapFormat.McapMessage(msgs(i).topic, i.toLong, msgs(i).t, msgs(i).t, cdr(i)) }
    Files.write(mcapPath, McapFormat.writeMcap(
      Seq(McapFormat.McapSchema(1, BlobType2, "ros2msg", BlobDef.getBytes("UTF-8")),
        McapFormat.McapSchema(2, ReadingType2, "ros2msg", ReadingDef.getBytes("UTF-8"))),
      Seq(McapFormat.McapChannel(1, 1, BlobTopic, "cdr"),
        McapFormat.McapChannel(2, 2, ReadingTopic, "cdr")),
      mcapMsgs, chunkGroups = math.max(1, mcapMsgs.size / 256)))
    val db3Path = dir.resolve("set.db3")
    Files.write(db3Path, SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, BlobTopic, BlobType2, "cdr", ""),
          Seq[Any](null, ReadingTopic, ReadingType2, "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
        msgs.indices.map(i => Seq[Any](null, msgs(i).topic.toLong, msgs(i).t, cdr(i)))),
      ("message_definitions", "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
        Seq(Seq[Any](null, BlobType2, "ros2msg", BlobDef, ""),
          Seq[Any](null, ReadingType2, "ros2msg", ReadingDef, ""))))))

    val readings = msgs.filter(_.topic == 2)
    val blobs = msgs.filter(_.topic == 1)
    // a ~10% window of whole seconds, placed by the seed
    val spanSec = math.max(1L, nPairs * 50L / 1000L)
    val width = math.max(1L, spanSec / 10)
    val lo = base / 1000000000L + (if (spanSec > width) rng.nextLong(spanSec - width) else 0L)
    val hi = lo + width
    val inRange = readings.filter(m => m.t / 1000000000L >= lo && m.t / 1000000000L < hi)
    val cdrStats = stats(cdr)
    ContainerSet(Map("rosbag" -> bagPath, "mcap" -> mcapPath, "db3" -> db3Path),
      blobs.size.toLong, readings.size.toLong,
      Map("rosbag" -> stats(ros1), "mcap" -> cdrStats, "db3" -> cdrStats),
      readings.map(_.seq).sum, readings.map(_.x).sum,
      blobs.map(_.blob.length.toLong).sum, blobs.foldLeft(0L)((a, m) => a ^ crc(m.blob)),
      lo, hi, inRange.size.toLong, inRange.map(_.seq).sum)
  }
}
