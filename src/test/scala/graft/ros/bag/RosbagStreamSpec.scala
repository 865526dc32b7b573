package graft.ros.bag

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase
import graft.ros.{Fixtures, MsgDefParser, RosSchemaMapper}
import BagFormat._

/** Streaming bag tailing: readStream.format("rosbag") picks up chunks
  * appended after the first trigger, resuming from the checkpointed
  * chunk offset.
  */
class RosbagStreamSpec extends SparkTestBase {
  private val imuBundle = MsgDefParser.parse("sensor_msgs/Imu", Fixtures.imuDef)

  private def msgBytes(i: Int): Array[Byte] =
    RosSchemaMapper.encode(imuBundle, Seq(
      i.toLong, 1700000000 + i, 0, s"f$i",
      0.0, 0.0, 0.0, 1.0, Seq.fill(9)(0.0),
      0.0, 0.0, 0.0, Seq.fill(9)(0.0),
      0.0, 0.0, 0.0, Seq.fill(9)(0.0)))

  private val conn = BagConnection(0, "/imu", "sensor_msgs/Imu",
    Fixtures.imuMd5, Fixtures.imuDef, "")

  private def bagBytes(n: Int): Array[Byte] =
    writeBag(Seq(conn),
      (0 until n).map(i => WriteMessage(0, 1700000000 + i, 0, msgBytes(i))),
      messagesPerChunk = 2)

  test("stream tails a growing bag from the checkpointed chunk offset") {
    val dir = Files.createTempDirectory("bag_stream")
    val bagPath = dir.resolve("grow.bag")
    val ck = dir.resolve("ck").toString

    Files.write(bagPath, bagBytes(4))   // 2 chunks
    val stream = spark.readStream.format("rosbag").load(bagPath.toString)
      .select("time_sec", "connection_id")

    val out = dir.resolve("out").toString
    def runOnce(): Long = {
      val q = stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }

    assert(runOnce() == 4)              // both chunks
    // grow the bag: same prefix (chunks are immutable), 2 more chunks
    Files.write(bagPath, bagBytes(8))
    assert(runOnce() == 8)              // only chunks 3-4 appended (4+4)
    // no growth -> no new rows
    assert(runOnce() == 8)
  }

  test("directory stream ingests new bags AND new chunks of known bags") {
    val root = Files.createTempDirectory("bag_dir_stream")
    val bags = root.resolve("bags"); Files.createDirectory(bags)
    val ck = root.resolve("ck").toString
    val out = root.resolve("out").toString

    Files.write(bags.resolve("a.bag"), bagBytes(4))  // 2 chunks
    val stream = spark.readStream.format("rosbag").load(bags.toString)
      .select("bag_path", "time_sec")
    def runOnce(): Long = {
      val q = stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }

    assert(runOnce() == 4)
    // a NEW bag arrives and a known bag grows — one trigger sees both
    Files.write(bags.resolve("b.bag"), bagBytes(6))
    Files.write(bags.resolve("a.bag"), bagBytes(8))
    assert(runOnce() == 4 + 6 + 4)
    assert(spark.read.parquet(out).select("bag_path").distinct().count() == 2)
    // quiescent dir -> no new rows
    assert(runOnce() == 14)
  }

  test("dir stream output equals the batch read of the same directory") {
    val root = Files.createTempDirectory("bag_dir_equiv")
    val bags = root.resolve("bags"); Files.createDirectory(bags)
    Files.write(bags.resolve("x.bag"), bagBytes(4))
    Files.write(bags.resolve("y.bag"), bagBytes(6))
    val out = root.resolve("out").toString
    val q = spark.readStream.format("rosbag").load(bags.toString)
      .select("bag_path", "chunk_idx", "offset", "time_sec", "data_crc32")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", root.resolve("ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(out)
    val batch = spark.read.format("rosbag").load(bags.toString)
      .select("bag_path", "chunk_idx", "offset", "time_sec", "data_crc32")
    assert(streamed.count() == 10)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("dir stream tolerates a bag deleted after latestOffset offered it") {
    // The uploader delete/rename scenario: latestOffset listed the bag,
    // then it vanished before planInputPartitions opened it. Strict
    // scanIndex would throw FileNotFoundException — and since the
    // offset is already in the checkpoint, every restart replays the
    // batch and hits it again, permanently wedging the stream. The
    // plan must instead skip the vanished bag and read the survivors.
    val root = Files.createTempDirectory("bag_dir_del")
    val bags = root.resolve("bags"); Files.createDirectory(bags)
    Files.write(bags.resolve("keep.bag"), bagBytes(4))   // 2 chunks
    Files.write(bags.resolve("gone.bag"), bagBytes(2))   // 1 chunk
    val stream = new RosbagRead(bags.toString, None, false).stream(
      RosbagDataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    val latest = stream.latestOffset().asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(latest.files.size == 2)
    Files.delete(bags.resolve("gone.bag"))
    // replaying the committed-in-checkpoint range must not throw
    val parts = stream.planInputPartitions(stream.initialOffset(), latest)
    assert(parts.length == 2, "expected only keep.bag's chunks")
    assert(parts.map(_.asInstanceOf[RosbagInputPartition].path).distinct
      .forall(_.endsWith("keep.bag")))
  }

  test("a committed bag that transiently drops out of the listing keeps its offset entry") {
    // Delete + re-upload under the same name: if the served end simply
    // omitted the vanished bag, the next start would no longer contain
    // it and its reappearance would re-plan every chunk from 0,
    // duplicating rows. The end must stay a superset of start.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = Files.createTempDirectory("bag_dir_keep")
    val bags = root.resolve("bags"); Files.createDirectory(bags)
    Files.write(bags.resolve("a.bag"), bagBytes(4))     // 2 chunks
    val stream = new RosbagRead(bags.toString, None, false).stream(
      RosbagDataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    val first = stream.latestOffset(stream.initialOffset(),
      ReadLimit.allAvailable()).asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(first.files.size == 1 && first.files.values.head == Seq(2L))
    Files.delete(bags.resolve("a.bag"))
    val second = stream.latestOffset(first, ReadLimit.allAvailable())
      .asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(second == first, "committed entry must survive the dropout")
    // reappearance at the same size: nothing below the committed count re-plans
    Files.write(bags.resolve("a.bag"), bagBytes(4))
    val third = stream.latestOffset(second, ReadLimit.allAvailable())
      .asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(stream.planInputPartitions(second, third).isEmpty)
  }

  test("dir offset JSON round-trips, including escaped path characters") {
    val shape = graft.ros.ContainerSource.PerFile("bags")
    val off = graft.ros.ContainerSource.CountsOffset(Map(
      "file:/data/a.bag" -> Seq(3L), "file:/we\"ird\\path.bag" -> Seq(7L),
      // control chars MUST escape: the offset log is line-delimited,
      // so a raw newline would split the checkpoint entry
      "file:/new\nline\tandctl.bag" -> Seq(2L)))(shape)
    val json = off.json()
    assert(!json.contains('\n'))
    assert(graft.ros.ContainerSource.CountsOffset(shape.parse(json))(shape) == off)
    assert(shape.parse(graft.ros.ContainerSource.CountsOffset(Map.empty)(shape).json()).isEmpty)
  }
}
