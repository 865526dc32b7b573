package graft.ros.mcap

import java.nio.file.{Files, Path}
import graft.SparkTestBase
import graft.ros.etl.{BagEtl, EtlTableAsserts}
import McapFormat._

/** McapEtl's single-job conversion writes what the per-variant form it
  * replaced (`McapEtlReference`) wrote — table for table, footer for
  * footer, row for row — and returns the same `Info`.
  */
class McapEtlReferenceSpec extends SparkTestBase with EtlTableAsserts {
  private val imuText = "float64 ax\nfloat64 ay"
  private val imuText2 = "float64 ax\nfloat64 ay\nfloat64 az" // drifted variant
  private val strText = "string data"
  private val imuB = Ros2Msg.bundle("sensor_msgs/msg/Imu", imuText)
  private val imuB2 = Ros2Msg.bundle("sensor_msgs/msg/Imu", imuText2)
  private val strB = Ros2Msg.bundle("std_msgs/msg/String", strText)

  private def write(dir: Path, name: String, schemas: Seq[McapSchema],
      channels: Seq[McapChannel], msgs: Seq[McapMessage]): Unit = {
    Files.write(dir.resolve(name), writeMcap(schemas, channels, msgs, "zstd", chunkGroups = 2))
    ()
  }

  /** imu + chatter, `n` messages from `t0`; `imuDef` picks the variant. */
  private def pair(dir: Path, name: String, imuDef: String, n: Int, t0: Long): Unit =
    write(dir, name,
      Seq(McapSchema(1, "sensor_msgs/msg/Imu", "ros2msg", imuDef.getBytes("UTF-8")),
        McapSchema(2, "std_msgs/msg/String", "ros2msg", strText.getBytes("UTF-8"))),
      Seq(McapChannel(1, 1, "/imu", "cdr"), McapChannel(2, 2, "/chatter", "cdr")),
      (0 until n).map { i =>
        if (i % 2 == 0) McapMessage(1, i.toLong, t0 + i, t0 + i + 7,
          if (imuDef == imuText) CdrCodec.encode(imuB, Seq(1.0 * i, 2.0 * i))
          else CdrCodec.encode(imuB2, Seq(1.0 * i, 2.0 * i, 3.0 * i)))
        else McapMessage(2, i.toLong, t0 + i, t0 + i + 7, CdrCodec.encode(strB, Seq(s"m$i")))
      })

  /** A load with everything the router distinguishes: drifted Imu
    * variants across files, ONE file carrying two same-name variants on
    * two channels, a protobuf channel, a jsonschema channel and an
    * unflattenable (recursive) protobuf schema (both RawMessages).
    */
  private def load(): Path = {
    val dir = Files.createTempDirectory("graft_mcapref_load")
    pair(dir, "a.mcap", imuText, 9, 100L)
    pair(dir, "b.mcap", imuText2, 6, 103L)
    import ProtoDescriptor._
    val poseFds = buildFds("p", Seq("Pose" -> Seq(ProtoField("x", 1, false, TDouble, ""),
      ProtoField("tag", 2, false, TString, ""), ProtoField("counts", 3, true, TInt32, ""))))
    val poseSet = parseSet(poseFds)
    val recFds = buildFds("t", Seq("Node" -> Seq(
      ProtoField("next", 1, repeated = false, TMessage, ".t.Node"),
      ProtoField("v", 2, repeated = false, TInt64, ""))))
    val t1 = "int32 x"
    val t2 = "int32 x\nint32 y"
    val b1 = Ros2Msg.bundle("p/msg/T", t1)
    val b2 = Ros2Msg.bundle("p/msg/T", t2)
    write(dir, "c.mcap",
      Seq(McapSchema(1, "p/msg/T", "ros2msg", t1.getBytes("UTF-8")),
        McapSchema(2, "p/msg/T", "ros2msg", t2.getBytes("UTF-8")),
        McapSchema(3, "p.Pose", "protobuf", poseFds),
        McapSchema(4, "foxglove.Log", "jsonschema", Array[Byte](1, 2, 3)),
        McapSchema(5, "t.Node", "protobuf", recFds)),
      Seq(McapChannel(1, 1, "/t1", "cdr"), McapChannel(2, 2, "/t2", "cdr"),
        McapChannel(3, 3, "/pose", "protobuf"), McapChannel(4, 4, "/log", "json"),
        McapChannel(5, 5, "/rec", "protobuf")),
      (0 until 15).map { i =>
        val t = 101L + i
        i % 5 match {
          case 0 => McapMessage(1, i.toLong, t, t, CdrCodec.encode(b1, Seq(10 + i)))
          case 1 => McapMessage(2, i.toLong, t, t, CdrCodec.encode(b2, Seq(20 + i, 30 + i)))
          case 2 => McapMessage(3, i.toLong, t, t,
            ProtoCodec.encode(poseSet, "p.Pose", Seq(i * 0.5, s"p$i", Seq(i, i + 1))))
          case 3 => McapMessage(4, i.toLong, t, t, Array.tabulate(6)(j => (i * 8 + j).toByte))
          case _ => McapMessage(5, i.toLong, t, t, Array.fill(4)(16.toByte))
        }
      })
    dir
  }

  private def outs(tag: String): (String, String) = {
    val base = Files.createTempDirectory(tag)
    (base.resolve("etl").toString, base.resolve("ref").toString)
  }

  test("McapEtl matches the per-variant reference: drifted and same-file variants, protobuf, RawMessages") {
    val dir = load().toString
    val (etl, ref) = outs("graft_mcapref")
    val info = McapEtl.run(spark, dir, etl)
    assert(info == McapEtlReference.run(spark, dir, ref))
    assert(info.messages == 30 && info.channels == 9)
    assert(info.tables.keySet == Set("std_msgs_msg_String", "p_Pose") ++
      tableDirs(etl).map(_.stripSuffix(".parquet")).filter(t =>
        t.startsWith("sensor_msgs_msg_Imu__") || t.startsWith("p_msg_T__")))
    assert(tableDirs(etl).count(_.startsWith("p_msg_T__")) == 2)
    assert(spark.read.parquet(s"$etl/RawMessages.parquet").count() == 6)
    assertSameTables(etl, ref)
  }

  test("keepRawBlob = false and nativeTimestamp match the reference") {
    val dir = load().toString
    val (e1, r1) = outs("graft_mcapref_lean")
    assert(McapEtl.run(spark, dir, e1, keepRawBlob = false) ==
      McapEtlReference.run(spark, dir, r1, keepRawBlob = false))
    assertSameTables(e1, r1)
    assert(!spark.read.parquet(s"$e1/std_msgs_msg_String.parquet").columns.contains("data"))

    val (e2, r2) = outs("graft_mcapref_ts")
    assert(McapEtl.run(spark, dir, e2, nativeTimestamp = true) ==
      McapEtlReference.run(spark, dir, r2, nativeTimestamp = true))
    assertSameTables(e2, r2)
    assert(spark.read.parquet(s"$e2/Messages.parquet").columns.contains("log_time_ts"))
  }

  test("a runIncremental append matches the reference's appending writes") {
    val src = load()
    val dir = Files.createTempDirectory("graft_mcapref_inc")
    Seq("a.mcap", "c.mcap").foreach(f => Files.copy(src.resolve(f), dir.resolve(f)))
    val (etl, ref) = outs("graft_mcapref_incout")
    assert(McapEtl.runIncremental(spark, dir.toString, etl).messages == 24)
    McapEtlReference.run(spark, dir.toString, ref)
    // the drifted Imu variant arrives later: a namespaced table
    Files.copy(src.resolve("b.mcap"), dir.resolve("b.mcap"))
    val b = McapDataSource.files(dir.resolve("b.mcap").toString)
    val info = McapEtl.runIncremental(spark, dir.toString, etl)
    assert(info == McapEtlReference.runFiles(spark, b, dir.getFileName.toString, ref,
      seqnoOffset = 24L, naming = BagEtl.readManifest(ref), append = true))
    assert(info.messages == 6 && info.tables.keySet.exists(_.startsWith("sensor_msgs_msg_Imu__")))
    assertSameTables(etl, ref)
    assert(BagEtl.readCommitRecord(etl).contains((29L, Seq.empty[String])))
  }
}
