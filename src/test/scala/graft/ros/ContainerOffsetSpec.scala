package graft.ros

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.SparkTestBase

/** Checkpoint compatibility of the container streams: the JSON of every
  * offset shape is pinned, and each pinned text parses and re-serializes
  * byte-identically through the stream's own `deserializeOffset`. An
  * offset log written by an older build must resume: a pinned start at
  * the files' current counts plans nothing new.
  *
  * Streams are reached only through the public DSv2 surface (provider →
  * table → scan → stream), so the spec holds whatever classes implement
  * them.
  */
class ContainerOffsetSpec extends SparkTestBase {

  private def streamOf(provider: TableProvider, path: String,
      extra: Map[String, String] = Map.empty): MicroBatchStream = {
    val props = (extra + ("path" -> path)).asJava
    val opts = new CaseInsensitiveStringMap(props)
    val table = provider.getTable(provider.inferSchema(opts), Array.empty, props)
    val ck = java.nio.file.Files.createTempDirectory("graft_offset_ck").toString
    table.asInstanceOf[SupportsRead].newScanBuilder(opts).build()
      .toMicroBatchStream(ck)
  }

  private def roundTrips(s: MicroBatchStream, json: String): Unit =
    assert(s.deserializeOffset(json).json() === json)

  // a path that holds a quote, a backslash, a newline, a tab and a
  // control character: the offset log is line-delimited, so every one
  // of them must stay escaped
  private val oddJson = "file:/data/we\\\"ird\\\\p\\nath\\tx\\u0001"

  private def tmp(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  private def uri(f: java.io.File): String = "file:" + f.getAbsolutePath

  private def bag(n: Int): Array[Byte] = {
    import graft.ros.bag.BagFormat._
    val conn = BagConnection(0, "/t", "std_msgs/String",
      "992ce8a1687cec8c8bd883ec73ca41d1", "string data\n", "")
    writeBag(Seq(conn), (0 until n).map(i =>
      WriteMessage(0, 100 + i, 0, Array[Byte](1, 0, 0, 0, 'a'))), messagesPerChunk = 2)
  }

  test("rosbag single-file offset: {\"chunkCount\":n}") {
    val dir = tmp("graft_off_bag1")
    val f = new java.io.File(dir, "grow.bag")
    java.nio.file.Files.write(f.toPath, bag(4)) // 2 chunks
    val s = streamOf(new graft.ros.bag.RosbagDataSource, f.getAbsolutePath)
    assert(s.initialOffset().json() === """{"chunkCount":0}""")
    assert(s.latestOffset().json() === """{"chunkCount":2}""")
    roundTrips(s, """{"chunkCount":0}""")
    roundTrips(s, """{"chunkCount":7}""")
    val start = s.deserializeOffset("""{"chunkCount":2}""")
    val end = s.asInstanceOf[SupportsAdmissionControl].latestOffset(start, ReadLimit.allAvailable())
    assert(end.json() === """{"chunkCount":2}""")
    assert(s.planInputPartitions(start, end).isEmpty)
  }

  test("rosbag directory offset: {\"bags\":{path:n}}") {
    val dir = tmp("graft_off_bagdir")
    val f = new java.io.File(dir, "a.bag")
    java.nio.file.Files.write(f.toPath, bag(4)) // 2 chunks
    val s = streamOf(new graft.ros.bag.RosbagDataSource, dir.getAbsolutePath)
    assert(s.initialOffset().json() === """{"bags":{}}""")
    val live = s"""{"bags":{"${uri(f)}":2}}"""
    assert(s.latestOffset().json() === live)
    roundTrips(s, """{"bags":{}}""")
    roundTrips(s, s"""{"bags":{"file:/data/a.bag":3,"$oddJson":7}}""")
    val parsed = s.deserializeOffset(s"""{"bags":{"$oddJson":7}}""")
    assert(parsed.json().contains(oddJson) && !parsed.json().contains('\n'))
    val start = s.deserializeOffset(live)
    val end = s.asInstanceOf[SupportsAdmissionControl].latestOffset(start, ReadLimit.allAvailable())
    assert(end.json() === live)
    assert(s.planInputPartitions(start, end).isEmpty)
  }

  test("mcap offset: {\"files\":{path:[chunks,inline]}}") {
    import graft.ros.mcap.McapFormat._
    val dir = tmp("graft_off_mcap")
    val f = new java.io.File(dir, "a.mcap")
    val msgs = (0 until 6).map(i => McapMessage(1, i.toLong, 1000L + i, 1000L + i,
      Array[Byte](0, 1, 0, 0, i.toByte)))
    java.nio.file.Files.write(f.toPath, writeMcap(
      Seq(McapSchema(1, "std_msgs/msg/Byte", "ros2msg", "byte data\n".getBytes("UTF-8"))),
      Seq(McapChannel(1, 1, "/b", "cdr")), msgs, chunked = true, chunkGroups = 3))
    val s = streamOf(new graft.ros.mcap.McapDataSource, dir.getAbsolutePath)
    assert(s.initialOffset().json() === """{"files":{}}""")
    val live = s"""{"files":{"${uri(f)}":[3,0]}}"""
    assert(s.latestOffset().json() === live)
    roundTrips(s, """{"files":{}}""")
    roundTrips(s, s"""{"files":{"file:/data/a.mcap":[2,3],"$oddJson":[0,1]}}""")
    val start = s.deserializeOffset(live)
    val end = s.asInstanceOf[SupportsAdmissionControl].latestOffset(start, ReadLimit.allAvailable())
    assert(end.json() === live)
    assert(s.planInputPartitions(start, end).isEmpty)
  }

  test("db3 offset: {\"files\":{path:n}}") {
    val dir = tmp("graft_off_db3")
    val f = new java.io.File(dir, "a.db3")
    val rows = (0 until 20).map(i => Seq[Any](null, 1L, 1000L + i, Array[Byte](0, 1, 0, 0)))
    java.nio.file.Files.write(f.toPath, graft.ros.db3.SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/t", "std_msgs/msg/Byte", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows))))
    val s = streamOf(new graft.ros.db3.Db3DataSource, dir.getAbsolutePath)
    assert(s.initialOffset().json() === """{"files":{}}""")
    val subtrees = graft.ros.db3.Db3IO.scanMeta(uri(f)).subtrees.size
    val live = s"""{"files":{"${uri(f)}":$subtrees}}"""
    assert(s.latestOffset().json() === live)
    roundTrips(s, """{"files":{}}""")
    roundTrips(s, s"""{"files":{"file:/data/a.db3":4,"$oddJson":1}}""")
    val start = s.deserializeOffset(live)
    val end = s.asInstanceOf[SupportsAdmissionControl].latestOffset(start, ReadLimit.allAvailable())
    assert(end.json() === live)
    assert(s.planInputPartitions(start, end).isEmpty)
  }

  test("warc offsets: the legacy array and the {watermark, files} form") {
    import graft.warc.WarcFormat._
    val dir = tmp("graft_off_warc")
    val f = new java.io.File(dir, "a.warc.gz")
    java.nio.file.Files.write(f.toPath, writeWarc(Seq(WriteRecord("response",
      "https://ex.com/", httpResponseBlock("x".getBytes("UTF-8"), "text/plain"),
      contentType = "application/http; msgtype=response")), gzipPerRecord = true))
    val s = streamOf(new graft.warc.WarcDataSource, dir.getAbsolutePath)
    assert(s.initialOffset().json() === "[]")
    roundTrips(s, "[]")
    roundTrips(s, s"""["file:/data/a.warc.gz","$oddJson"]""")
    roundTrips(s, s"""{"watermark":"file:/data/a.warc.gz","files":["$oddJson"]}""")
    val ordered = streamOf(new graft.warc.WarcDataSource, dir.getAbsolutePath,
      Map("ordered_shards" -> "true"))
    roundTrips(ordered, s"""{"watermark":"$oddJson","files":[]}""")
    val live = s"""["${uri(f)}"]"""
    val start = s.deserializeOffset(live)
    val end = s.asInstanceOf[SupportsAdmissionControl].latestOffset(start, ReadLimit.allAvailable())
    assert(end.json() === live)
    assert(s.planInputPartitions(start, end).isEmpty)
  }
}
