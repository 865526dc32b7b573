package graft.ros

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.SparkTestBase

/** The shared read core (`ContainerSource`) on every format: one file
  * resolver (a file named twice reads once, list entries are qualified
  * like a load path), one filter kernel (uncomparable pairs keep rows,
  * integral columns compare as Long) and `In` on the time column pruning
  * units the way a range does.
  */
class ContainerSourceSpec extends SparkTestBase {

  private def tmp(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  private def write(dir: java.io.File, name: String, bytes: Array[Byte]): String = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  private def str(s: String): Array[Byte] = {
    val u = s.getBytes("UTF-8")
    java.nio.ByteBuffer.allocate(4 + u.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(u.length).put(u).array()
  }

  private def bag(n: Int, t0: Int): Array[Byte] = {
    import graft.ros.bag.BagFormat._
    val conn = BagConnection(0, "/t", "std_msgs/String",
      "992ce8a1687cec8c8bd883ec73ca41d1", "string data\n", "")
    writeBag(Seq(conn), (0 until n).map(i => WriteMessage(0, t0 + i, 0, str(s"m$i"))),
      messagesPerChunk = 2)
  }

  private def mcap(n: Int, t0: Long, chunked: Boolean = true): Array[Byte] = {
    import graft.ros.mcap.McapFormat._
    writeMcap(Seq(McapSchema(1, "std_msgs/msg/Byte", "ros2msg", "byte data\n".getBytes("UTF-8"))),
      Seq(McapChannel(1, 1, "/b", "cdr")),
      (0 until n).map(i => McapMessage(1, i.toLong, t0 + i, t0 + i, Array[Byte](0, 1, 0, 0, i.toByte))),
      chunked = chunked, chunkGroups = if (chunked) 3 else 1)
  }

  private def db3(n: Int): Array[Byte] =
    graft.ros.db3.SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/t", "std_msgs/msg/Byte", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
        (0 until n).map(i => Seq[Any](null, 1L, 1000L + i, Array[Byte](0, 1, 0, 0, i.toByte))))))

  private def warc(n: Int): Array[Byte] = {
    import graft.warc.WarcFormat._
    writeWarc((0 until n).map(i => WriteRecord("response", s"https://ex.com/$i",
      httpResponseBlock(s"d$i".getBytes("UTF-8"), "text/plain"),
      contentType = "application/http; msgtype=response")), gzipPerRecord = true)
  }

  /** A file named twice in the list option, by its directory and by
    * itself, or by two spellings, reads as often as when named once.
    */
  private def readsOnce(format: String, list: String, name: String, bytes: Array[Byte]): Unit = {
    val dir = tmp(s"graft_dup_$format")
    val f = write(dir, name, bytes)
    def count(spec: String) = spark.read.format(format).option(list, spec).load().count()
    val once = count(f)
    assert(once > 0)
    assert(count(f + "\n" + f) === once, "a file listed twice")
    assert(count(dir.getAbsolutePath + "\n" + f) === once, "a directory and its file")
    assert(count("file:" + f + "\n" + f) === once, "two spellings of one file")
  }

  test("rosbag: a bag named twice in option(\"bags\") reads once") {
    readsOnce("rosbag", "bags", "a.bag", bag(10, 100))
  }
  test("mcap: a file named twice in option(\"files\") reads once") {
    readsOnce("mcap", "files", "a.mcap", mcap(9, 1000L))
  }
  test("db3: a file named twice in option(\"files\") reads once") {
    readsOnce("db3", "files", "a.db3", db3(40))
  }
  test("warc: a shard named twice in option(\"files\") reads once") {
    readsOnce("warc", "files", "a.warc.gz", warc(5))
  }

  test("mcap list entries are qualified like a load path, so exact file_path filters keep them") {
    val dir = tmp("graft_mcap_qualified")
    val a = write(dir, "a.mcap", mcap(9, 1000L))
    val b = write(dir, "b.mcap", mcap(6, 2000L))
    val loaded = spark.read.format("mcap").load(dir.getAbsolutePath)
    val listed = spark.read.format("mcap").option("files", a + "\n" + b).load()
    def paths(df: org.apache.spark.sql.DataFrame) =
      df.select("file_path").distinct().collect().map(_.getString(0)).toSeq.sorted
    assert(paths(loaded) === Seq("file:" + a, "file:" + b))
    assert(paths(listed) === paths(loaded))
    assert(listed.filter(col("file_path") === "file:" + a).count() === 9)
    // and the channel dimension joins back on the same value
    val channels = graft.ros.mcap.McapTables.channels(spark, dir.getAbsolutePath)
    assert(listed.join(channels, Seq("file_path", "channel_id")).count() === 15)
  }

  test("a tailed single bag streams the bag_path a batch read reports") {
    val f = write(tmp("graft_tail_qualified"), "grow.bag", bag(4, 100))
    val st = new graft.ros.bag.RosbagRead(f, None, false)
      .stream(graft.ros.bag.RosbagDataSource.SpineSchema, Array.empty, -1)
    val parts = st.planInputPartitions(st.initialOffset(), st.latestOffset())
    val batch = spark.read.format("rosbag").load(f).select("bag_path").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(batch === Seq("file:" + f))
    assert(parts.map(_.asInstanceOf[graft.ros.bag.RosbagInputPartition].path).distinct.toSeq === batch)
  }

  test("pushed comparisons with unrecognized literal types keep rows, on every format's columns") {
    def keeps[R](cols: PartialFunction[String, ContainerSource.Col[R]], row: R)(f: Filter): Boolean =
      ContainerSource.compile(Array(f), cols)(row)
    // each format's row columns over one row: time 5, topic "/t"
    import graft.ros.bag.{BagFormat, RosbagInputPartition, RosbagPartitionReader}
    val conn = BagFormat.BagConnection(0, "/t", "T", "", "", "")
    val chunk = BagFormat.BagChunk(0L, "none", 0, 0L, 0)
    val bagKeeps = keeps(RosbagPartitionReader.cols(RosbagInputPartition("p", 0, chunk, Map(0 -> conn))),
      BagFormat.BagMessage(0, 5, 0, 0, Array.emptyByteArray)) _
    import graft.ros.mcap.{McapFormat, McapInputPartition, McapDataSource}
    val mcapKeeps = keeps(McapDataSource.cols(McapInputPartition("p", 0, None, Nil,
      Map(1 -> (("T", "ros2msg", ""))), Map(0 -> McapFormat.McapChannel(0, 1, "/t", "cdr")))),
      McapFormat.McapMessage(0, 0L, 5L, 5L, Array.emptyByteArray)) _
    val db3Keeps = keeps(graft.ros.db3.Db3DataSource.cols("p", Map(1L -> (("/t", "T", "cdr")))),
      (1L, Seq[Any](null, 1L, 5L, null))) _
    val formats = Seq(("rosbag", bagKeeps, "time_sec", "topic"), ("mcap", mcapKeeps, "log_time", "topic"),
      ("db3", db3Keeps, "timestamp", "topic"))
    formats.foreach { case (format, keep, time, name) =>
      // an uncomparable (value, literal) pair must KEEP the row for the
      // retained residual filter — a source-side drop is unrecoverable
      assert(keep(GreaterThan(time, "oops")), format)
      assert(keep(LessThan(time, new Object)), format)
      assert(keep(In(time, Array[Any]("x"))), format)
      assert(keep(EqualTo(name, 7)), format)
      assert(keep(In(name, Array[Any]("/t", 7))), format)
      // recognized pairs still filter exactly, integral columns as Long
      assert(!keep(GreaterThan(time, java.lang.Long.valueOf(9L))), format)
      assert(keep(LessThan(time, 4294967297L)), format)
      assert(!keep(GreaterThan(time, 4294967297L)), format)
      assert(keep(In(time, Array[Any](3, 5L))), format)
      assert(!keep(In(name, Array[Any]("/u"))), format)
    }
    val record = graft.warc.WarcFormat.WarcRecord(0, "response", "id", "d", "https://ex.com/",
      "application/http", Map.empty, Array.emptyByteArray)
    val warcKeeps = keeps(graft.warc.WarcFilters.header("p"), record) _
    assert(warcKeeps(EqualTo("warc_type", 7)) && warcKeeps(In("target_uri", Array[Any](1))))
    assert(!warcKeeps(EqualTo("warc_type", "request")))
  }

  private def planCount(provider: TableProvider, path: String, pushed: Filter*): Int = {
    val props = Map("path" -> path).asJava
    val o = new CaseInsensitiveStringMap(props)
    val sb = provider.getTable(provider.inferSchema(o), Array.empty, props)
      .asInstanceOf[SupportsRead].newScanBuilder(o)
    sb.asInstanceOf[SupportsPushDownFilters].pushFilters(pushed.toArray)
    sb.build().toBatch.planInputPartitions().length
  }

  test("an In on the time column prunes chunks like a range does") {
    val bagDir = tmp("graft_in_time_bag")
    write(bagDir, "a.bag", bag(8, 100)) // chunks [100,101] [102,103] [104,105] [106,107]
    val bags = new graft.ros.bag.RosbagDataSource
    assert(planCount(bags, bagDir.getAbsolutePath) === 4)
    assert(planCount(bags, bagDir.getAbsolutePath, In("time_sec", Array[Any](101, 106))) === 2)
    assert(planCount(bags, bagDir.getAbsolutePath, In("time_sec", Array[Any](99, 200))) === 0)
    assert(spark.read.format("rosbag").load(bagDir.getAbsolutePath)
      .filter(col("time_sec").isin(101, 106)).count() === 2)

    val mcapDir = tmp("graft_in_time_mcap")
    write(mcapDir, "a.mcap", mcap(9, 1000L)) // chunks [1000,1002] [1003,1005] [1006,1008]
    val mcaps = new graft.ros.mcap.McapDataSource
    assert(planCount(mcaps, mcapDir.getAbsolutePath) === 3)
    assert(planCount(mcaps, mcapDir.getAbsolutePath, In("log_time", Array[Any](1004L))) === 1)
    assert(spark.read.format("mcap").load(mcapDir.getAbsolutePath)
      .filter(col("log_time").isin(1004L, 1008L)).count() === 2)
  }
}
