package graft.ros.db3

import java.nio.file.{Files, Path}
import graft.SparkTestBase
import graft.ros.etl.{BagEtl, EtlTableAsserts}
import graft.ros.mcap.{CdrCodec, Ros2Msg}

/** Db3Etl's single-job conversion writes what the per-variant form it
  * replaced (`Db3EtlReference`) wrote — table for table, footer for
  * footer, row for row — and returns the same `Info`.
  */
class Db3EtlReferenceSpec extends SparkTestBase with EtlTableAsserts {
  private val topicsDdl = "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, " +
    "serialization_format TEXT, offered_qos_profiles TEXT)"
  private val messagesDdl =
    "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)"
  private val defsDdl = "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, " +
    "topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)"
  private val strB = Ros2Msg.bundle("std_msgs/msg/String", "string data")

  /** imu (`imuDef`) + chatter, `n` messages from `t0`, plus a json
    * topic; `defined = false` drops the definitions table (pre-Humble).
    */
  private def write(dir: Path, name: String, imuDef: String, n: Int, t0: Long,
      defined: Boolean = true): Unit = {
    val imuB = Ros2Msg.bundle("sensor_msgs/msg/Imu", imuDef)
    val dims = imuDef.linesIterator.count(_.trim.nonEmpty)
    val rows = (0 until n).map { i =>
      i % 3 match {
        case 0 => Seq[Any](null, 1L, t0 + i, CdrCodec.encode(imuB, (0 until dims).map(k => i + k / 10.0)))
        case 1 => Seq[Any](null, 2L, t0 + i, CdrCodec.encode(strB, Seq(s"s$i")))
        case _ => Seq[Any](null, 3L, t0 + i, Array.tabulate(5)(j => (i * 5 + j).toByte))
      }
    }
    val tables = Seq(
      ("topics", topicsDdl, Seq(Seq[Any](null, "/imu", "sensor_msgs/msg/Imu", "cdr", ""),
        Seq[Any](null, "/chatter", "std_msgs/msg/String", "cdr", ""),
        Seq[Any](null, "/log", "std_msgs/msg/String", "json", ""))),
      ("messages", messagesDdl, rows))
    val defs = ("message_definitions", defsDdl,
      Seq(Seq[Any](null, "sensor_msgs/msg/Imu", "ros2msg", imuDef, "h1"),
        Seq[Any](null, "std_msgs/msg/String", "ros2msg", "string data", "h2")))
    Files.write(dir.resolve(name), SqliteFormat.writeDb(if (defined) tables :+ defs else tables))
    ()
  }

  private val xy = "float64 x\nfloat64 y\n"
  private val xyz = "float64 x\nfloat64 y\nfloat64 z\n"

  /** Drifted Imu definitions across a.db3 and b.db3, a pre-Humble
    * c.db3 carrying types it does not define (RawMessages), and a json
    * topic in every file (RawMessages).
    */
  private def load(): Path = {
    val dir = Files.createTempDirectory("graft_db3ref_load")
    write(dir, "a.db3", xy, 12, 100L)
    write(dir, "b.db3", xyz, 9, 104L)
    write(dir, "c.db3", xy, 6, 102L, defined = false)
    dir
  }

  private def outs(tag: String): (String, String) = {
    val base = Files.createTempDirectory(tag)
    (base.resolve("etl").toString, base.resolve("ref").toString)
  }

  test("Db3Etl matches the per-variant reference: drifted variants, undefined types, non-cdr topics") {
    val dir = load().toString
    val (etl, ref) = outs("graft_db3ref")
    val info = Db3Etl.run(spark, dir, etl)
    assert(info == Db3EtlReference.run(spark, dir, ref))
    assert(info.messages == 27 && info.topics == 9)
    assert(info.tables.keySet.count(_.startsWith("sensor_msgs_msg_Imu__")) == 2)
    // c.db3's 6 rows and the 4 + 3 json rows of a and b
    assert(spark.read.parquet(s"$etl/RawMessages.parquet").count() == 13)
    assertSameTables(etl, ref)
  }

  test("the genuine fixture, keepRawBlob = false and nativeTimestamp match the reference") {
    val genuine = Files.createTempDirectory("graft_db3ref_genuine")
    val in = getClass.getResourceAsStream("/db3/genuine_rosbag2.db3")
    try Files.write(genuine.resolve("a.db3"), in.readAllBytes()) finally in.close()
    val (e0, r0) = outs("graft_db3ref_gen")
    assert(Db3Etl.run(spark, genuine.toString, e0, nativeTimestamp = true) ==
      Db3EtlReference.run(spark, genuine.toString, r0, nativeTimestamp = true))
    assertSameTables(e0, r0)

    val dir = load().toString
    val (e1, r1) = outs("graft_db3ref_lean")
    assert(Db3Etl.run(spark, dir, e1, keepRawBlob = false) ==
      Db3EtlReference.run(spark, dir, r1, keepRawBlob = false))
    assertSameTables(e1, r1)
  }

  test("a runIncremental append matches the reference's appending writes") {
    val src = load()
    val dir = Files.createTempDirectory("graft_db3ref_inc")
    Seq("a.db3", "c.db3").foreach(f => Files.copy(src.resolve(f), dir.resolve(f)))
    val (etl, ref) = outs("graft_db3ref_incout")
    assert(Db3Etl.runIncremental(spark, dir.toString, etl).messages == 18)
    Db3EtlReference.run(spark, dir.toString, ref)
    Files.copy(src.resolve("b.db3"), dir.resolve("b.db3"))
    val b = Db3DataSource.files(dir.resolve("b.db3").toString)
    val info = Db3Etl.runIncremental(spark, dir.toString, etl)
    assert(info == Db3EtlReference.runFiles(spark, b, dir.getFileName.toString, ref,
      seqnoOffset = 18L, naming = BagEtl.readManifest(ref), append = true))
    assert(info.messages == 9 && info.tables.keySet.exists(_.startsWith("sensor_msgs_msg_Imu__")))
    assertSameTables(etl, ref)
    assert(BagEtl.readCommitRecord(etl).contains((26L, Seq.empty[String])))
  }
}
