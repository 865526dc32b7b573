package graft.ros.db3

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase
import graft.ros.mcap.{CdrCodec, Ros2Msg}

/** db3 streaming = at-rest FILE discovery: newly landed complete
  * recordings read exactly once; in-flight uploads (live sidecars,
  * truncated bytes) defer rather than refuse or wedge.
  */
class Db3StreamSpec extends SparkTestBase {

  private val strDef = "string data"
  private lazy val bundle = Ros2Msg.bundle("std_msgs/msg/String", strDef)

  private def db3Bytes(topic: String, baseTs: Long, n: Int): Array[Byte] =
    SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, topic, "std_msgs/msg/String", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
        (0 until n).map(i => Seq[Any](null, 1L, baseTs + i,
          CdrCodec.encode(bundle, Seq(s"$topic-$i")))))))

  private def land(dir: Path, name: String, topic: String, baseTs: Long,
      n: Int): Unit = {
    Files.write(dir.resolve(name), db3Bytes(topic, baseTs, n)); ()
  }

  test("discovery stream reads each landed file once; new files picked up; offsets round-trip") {
    val dir = Files.createTempDirectory("db3_stream")
    val ck = dir.resolve("ck").toString
    val out = dir.resolve("out").toString
    land(dir, "a.db3", "/a", 1000L, 3)

    val stream = spark.readStream.format("db3").load(dir.toString)
      .select("file_path", "topic", "timestamp")
    def runOnce(): Long = {
      val q = stream.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }
    assert(runOnce() === 3)
    land(dir, "b.db3", "/b", 2000L, 4)
    assert(runOnce() === 7)             // only b.db3's rows are new
    assert(runOnce() === 7)             // nothing new -> no rows
    val topics = spark.read.parquet(out).groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(topics === Map("/a" -> 3L, "/b" -> 4L))
    // offset JSON round-trips exactly (line-delimited offset log)
    val st = new Db3Read(dir.toString, None, false, true, 100000000L).stream(
      Db3DataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    val latest = st.latestOffset().asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(latest.files.size === 2)
    assert(st.deserializeOffset(latest.json()) === latest)
  }

  test("in-flight uploads defer: live -wal sidecar and truncated bytes; landed file reads") {
    val dir = Files.createTempDirectory("db3_stream_defer")
    val full = db3Bytes("/t", 5000L, 5)

    // truncated upload: header page count reaches past the bytes
    Files.write(dir.resolve("u.db3"), full.dropRight(700))
    // closed file with a live -wal: writer not done
    land(dir, "w.db3", "/w", 6000L, 2)
    Files.write(dir.resolve("w.db3-wal"), Array[Byte](1, 2, 3))

    val st = new Db3Read(dir.toString, None, false, true, 100000000L).stream(
      Db3DataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    assert(st.latestOffset().asInstanceOf[graft.ros.ContainerSource.CountsOffset].files.isEmpty,
      "neither in-flight file may be offered")

    // uploads complete: full bytes land, the wal is gone
    Files.write(dir.resolve("u.db3"), full)
    Files.delete(dir.resolve("w.db3-wal"))
    val latest = st.latestOffset().asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(latest.files.keySet.map(p => p.substring(p.lastIndexOf('/') + 1)) ===
      Set("u.db3", "w.db3"))
    val parts = st.planInputPartitions(st.initialOffset(), latest)
    assert(parts.nonEmpty)
    // an empty/missing prefix is an empty stream, not an error
    val ghost = new Db3Read(dir.resolve("nope").toString, None, false, true, 100000000L).stream(
      Db3DataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    assert(ghost.latestOffset().asInstanceOf[graft.ros.ContainerSource.CountsOffset].files.isEmpty)
  }

  test("a committed file transiently unofferable keeps its offset entry (no re-read)") {
    // A tool briefly opens the db with a live -wal AFTER the file's
    // batch committed: offer() defers it, but the served end must keep
    // the committed entry — omitting it would drop the file from the
    // next start and its re-offer would duplicate every row.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("db3_stream_keep")
    land(dir, "a.db3", "/a", 1000L, 3)
    val st = new Db3Read(dir.toString, None, false, true, 100000000L).stream(
      Db3DataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    val first = st.latestOffset(st.initialOffset(),
      ReadLimit.allAvailable()).asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(first.files.size === 1)
    Files.write(dir.resolve("a.db3-wal"), Array[Byte](1, 2, 3))
    val second = st.latestOffset(first, ReadLimit.allAvailable())
      .asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(second === first, "committed entry must survive the unofferable window")
    Files.delete(dir.resolve("a.db3-wal"))
    val third = st.latestOffset(second, ReadLimit.allAvailable())
      .asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(st.planInputPartitions(second, third).isEmpty,
      "an at-rest file is never re-planned after its one offer")
  }

  test("a file deleted after being offered skips instead of wedging the replay") {
    val dir = Files.createTempDirectory("db3_stream_del")
    land(dir, "a.db3", "/a", 1000L, 3)
    land(dir, "b.db3", "/b", 2000L, 3)
    val st = new Db3Read(dir.toString, None, false, true, 100000000L).stream(
      Db3DataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    val latest = st.latestOffset().asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(latest.files.size === 2)
    Files.delete(dir.resolve("b.db3"))
    val parts = st.planInputPartitions(st.initialOffset(), latest)
    assert(parts.nonEmpty)
    assert(parts.forall(_.asInstanceOf[Db3InputPartition].path.endsWith("a.db3")))
  }
}
