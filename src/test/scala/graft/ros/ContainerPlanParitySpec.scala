package graft.ros

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.read.{InputPartition, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.SparkTestBase
import graft.ros.bag.{RosbagInputPartition, RosbagSeqnoPartition}
import graft.ros.db3.Db3InputPartition
import graft.ros.mcap.McapInputPartition
import graft.warc.{WarcInputPartition, WarcRangesPartition}

/** Plan parity of the four container sources: for every filter shape
  * each format prunes on (path equality/In, catalog equality/In, time
  * ranges, rosbag seqno bounds, typed reads, runtime filters), the
  * planned partitions are pinned unit by unit. Scans are built through
  * the public DSv2 surface, so the pins hold whatever classes plan them.
  *
  * A unit prints as `<file>#<chunk/subtree>`; a packed partition joins
  * its units with `+`; a seqno group prints its base and marks the
  * chunks it only reads for numbering with `~`.
  */
class ContainerPlanParitySpec extends SparkTestBase {

  private def name(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  private def units(p: InputPartition): Seq[String] = p match {
    case pp: PackedPartition => pp.parts.toSeq.flatMap(units)
    case r: RosbagInputPartition => Seq(s"${name(r.path)}#${r.chunkIdx}")
    case g: RosbagSeqnoPartition =>
      Seq(s"seq${g.base}:" + g.chunks.zip(g.emit).map { case (c, e) =>
        (if (e) "" else "~") + s"${name(c.path)}#${c.chunkIdx}" }.mkString(","))
    case m: McapInputPartition => Seq(s"${name(m.path)}#${m.chunkIdx}")
    case d: Db3InputPartition => Seq(s"${name(d.path)}#${d.subtree}")
    case w: WarcInputPartition => Seq(name(w.path))
    case w: WarcRangesPartition => Seq(s"${name(w.path)}@${w.ranges.map(_._1).mkString(",")}")
  }

  /** Plan a scan: pushed filters, then (optionally) a pruned column set
    * and runtime filters; each partition described by its units.
    */
  private def plan(provider: TableProvider, opts: Map[String, String],
      pushed: Seq[Filter] = Nil, runtime: Seq[Filter] = Nil,
      columns: Option[StructType => StructType] = None): String = {
    val props = opts.asJava
    val o = new CaseInsensitiveStringMap(props)
    val table = provider.getTable(provider.inferSchema(o), Array.empty, props)
    val sb = table.asInstanceOf[SupportsRead].newScanBuilder(o)
    sb.asInstanceOf[SupportsPushDownFilters].pushFilters(pushed.toArray)
    columns.foreach(c => sb.asInstanceOf[SupportsPushDownRequiredColumns]
      .pruneColumns(c(table.schema())))
    val scan = sb.build()
    if (runtime.nonEmpty)
      scan.asInstanceOf[SupportsRuntimeFiltering].filter(runtime.toArray)
    scan.toBatch.planInputPartitions().map(units(_).mkString("+")).mkString(" | ")
  }

  private def tmp(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  private def uri(dir: java.io.File, f: String): String =
    "file:" + new java.io.File(dir, f).getAbsolutePath

  private def check(cases: Seq[(String, String)], expected: Map[String, String]): Unit = {
    val got = cases.toMap
    cases.foreach { case (k, v) => info(s"$k -> $v") }
    assert(got.keySet === expected.keySet)
    cases.foreach { case (k, v) => assert(v === expected(k), k) }
  }

  // --- rosbag -------------------------------------------------------

  private lazy val bagDir: java.io.File = {
    import graft.ros.bag.BagFormat._
    val dir = tmp("graft_parity_bag")
    val strDef = "string data\n"
    val strMd5 = "992ce8a1687cec8c8bd883ec73ca41d1"
    val a = Seq(BagConnection(0, "/alpha", "std_msgs/String", strMd5, strDef, ""),
      BagConnection(1, "/beta", "std_msgs/Byte", "ad736a2e8818154c487bb80fe42ce43b",
        "byte data\n", ""))
    val b = Seq(BagConnection(0, "/gamma", "std_msgs/String", strMd5, strDef, ""))
    def str(s: String): Array[Byte] = {
      val u = s.getBytes("UTF-8")
      java.nio.ByteBuffer.allocate(4 + u.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(u.length).put(u).array()
    }
    java.nio.file.Files.write(new java.io.File(dir, "a.bag").toPath, writeBag(a,
      (0 until 8).map(i => if (i % 2 == 0) WriteMessage(0, 100 + i, 0, str(s"a$i"))
        else WriteMessage(1, 100 + i, 0, Array(i.toByte))), messagesPerChunk = 2))
    java.nio.file.Files.write(new java.io.File(dir, "b.bag").toPath, writeBag(b,
      (0 until 8).map(i => WriteMessage(0, 104 + i, 0, str(s"b$i"))), messagesPerChunk = 2))
    dir
  }

  test("rosbag: plans per filter shape") {
    val p = new graft.ros.bag.RosbagDataSource
    val dir = bagDir.getAbsolutePath
    val o = Map("path" -> dir)
    val typed = o + ("datatype" -> "std_msgs/String")
    val withSeqno = Some((s: StructType) => s.add(StructField("seqno", LongType, nullable = false)))
    val cases = Seq(
      "all" -> plan(p, o),
      "path eq" -> plan(p, o, Seq(EqualTo("bag_path", uri(bagDir, "b.bag")))),
      "path in" -> plan(p, o, Seq(In("bag_path", Array[Any](uri(bagDir, "a.bag"), "file:/none.bag")))),
      "topic eq" -> plan(p, o, Seq(EqualTo("topic", "/beta"))),
      "topic in" -> plan(p, o, Seq(In("topic", Array[Any]("/gamma", "/none")))),
      "datatype eq" -> plan(p, o, Seq(EqualTo("datatype", "std_msgs/Byte"))),
      "connection_id in" -> plan(p, o, Seq(In("connection_id", Array[Any](1, 5)))),
      "time range" -> plan(p, o, Seq(GreaterThanOrEqual("time_sec", 106), LessThan("time_sec", 108))),
      "time eq" -> plan(p, o, Seq(EqualTo("time_sec", 103))),
      "seqno all" -> plan(p, o, columns = withSeqno),
      "seqno bounds" -> plan(p, o, Seq(GreaterThanOrEqual("seqno", 10L)), columns = withSeqno),
      "seqno + path" -> plan(p, o, Seq(EqualTo("bag_path", uri(bagDir, "b.bag")),
        LessThan("seqno", 6L)), columns = withSeqno),
      "typed" -> plan(p, typed),
      "typed time" -> plan(p, typed, Seq(LessThanOrEqual("time_sec", 104))),
      "typed topic" -> plan(p, typed, Seq(EqualTo("topic", "/gamma"))),
      "runtime path" -> plan(p, o, runtime = Seq(In("bag_path", Array[Any](uri(bagDir, "a.bag"))))),
      "runtime topic" -> plan(p, o, runtime = Seq(In("topic", Array[Any]("/gamma")))))
    check(cases, Map(
      "all" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3 | b.bag#0 | b.bag#1 | b.bag#2 | b.bag#3",
      "path eq" -> "b.bag#0 | b.bag#1 | b.bag#2 | b.bag#3",
      "path in" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3",
      "topic eq" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3",
      "topic in" -> "b.bag#0 | b.bag#1 | b.bag#2 | b.bag#3",
      "datatype eq" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3",
      "connection_id in" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3",
      "time range" -> "a.bag#3 | b.bag#1",
      "time eq" -> "a.bag#1",
      "seqno all" -> "seq0:a.bag#0 | seq2:a.bag#1 | seq4:a.bag#2,b.bag#0 | seq8:a.bag#3,b.bag#1 | seq12:b.bag#2 | seq14:b.bag#3",
      "seqno bounds" -> "seq8:a.bag#3,b.bag#1 | seq12:b.bag#2 | seq14:b.bag#3",
      "seqno + path" -> "seq4:~a.bag#2,b.bag#0",
      "typed" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3 | b.bag#0 | b.bag#1 | b.bag#2 | b.bag#3",
      "typed time" -> "a.bag#0 | a.bag#1 | a.bag#2 | b.bag#0",
      "typed topic" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3 | b.bag#0 | b.bag#1 | b.bag#2 | b.bag#3",
      "runtime path" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3",
      "runtime topic" -> "b.bag#0 | b.bag#1 | b.bag#2 | b.bag#3"))
  }

  test("rosbag: packed plans under a zero chunk-open cost") {
    spark.conf.set("spark.graft.chunkOpenCostBytes", "0")
    try {
      val p = new graft.ros.bag.RosbagDataSource
      val o = Map("path" -> bagDir.getAbsolutePath)
      check(Seq("packed" -> plan(p, o),
        "packed time" -> plan(p, o, Seq(GreaterThan("time_sec", 105)))), Map(
        "packed" -> "a.bag#0 | a.bag#1 | a.bag#2 | a.bag#3+b.bag#0 | b.bag#1+b.bag#2 | b.bag#3",
        "packed time" -> "a.bag#3 | b.bag#1 | b.bag#2 | b.bag#3"))
    } finally spark.conf.unset("spark.graft.chunkOpenCostBytes")
  }

  // --- mcap ---------------------------------------------------------

  private lazy val mcapDir: java.io.File = {
    import graft.ros.mcap.McapFormat._
    val dir = tmp("graft_parity_mcap")
    val schemas = Seq(
      McapSchema(1, "std_msgs/msg/String", "ros2msg", "string data\n".getBytes("UTF-8")),
      McapSchema(2, "std_msgs/msg/Byte", "ros2msg", "byte data\n".getBytes("UTF-8")))
    def msgs(n: Int, t0: Long) = (0 until n).map(i => McapMessage(1 + i % 2, i.toLong,
      t0 + i, t0 + i, if (i % 2 == 0) Array[Byte](0, 1, 0, 0, 2, 0, 0, 0, 'x', 0)
        else Array[Byte](0, 1, 0, 0, i.toByte)))
    java.nio.file.Files.write(new java.io.File(dir, "a.mcap").toPath, writeMcap(schemas,
      Seq(McapChannel(1, 1, "/alpha", "cdr"), McapChannel(2, 2, "/beta", "cdr")),
      msgs(9, 1000L), chunked = true, chunkGroups = 3))
    java.nio.file.Files.write(new java.io.File(dir, "b.mcap").toPath, writeMcap(schemas,
      Seq(McapChannel(1, 1, "/gamma", "cdr"), McapChannel(2, 2, "/delta", "cdr")),
      msgs(4, 1006L), chunked = false))
    dir
  }

  test("mcap: plans per filter shape") {
    val p = new graft.ros.mcap.McapDataSource
    val o = Map("path" -> mcapDir.getAbsolutePath)
    val typed = o + ("schema_name" -> "std_msgs/msg/String")
    val cases = Seq(
      "all" -> plan(p, o),
      "path eq" -> plan(p, o, Seq(EqualTo("file_path", uri(mcapDir, "b.mcap")))),
      "path in" -> plan(p, o, Seq(In("file_path", Array[Any](uri(mcapDir, "a.mcap"))))),
      "topic eq" -> plan(p, o, Seq(EqualTo("topic", "/delta"))),
      "topic in" -> plan(p, o, Seq(In("topic", Array[Any]("/alpha", "/none")))),
      "schema_name eq" -> plan(p, o, Seq(EqualTo("schema_name", "std_msgs/msg/Byte"))),
      "channel_id eq" -> plan(p, o, Seq(EqualTo("channel_id", 7))),
      "time range" -> plan(p, o, Seq(GreaterThan("log_time", 1003L), LessThanOrEqual("log_time", 1005L))),
      "time eq" -> plan(p, o, Seq(EqualTo("log_time", 1007L))),
      "typed" -> plan(p, typed),
      "typed time" -> plan(p, typed, Seq(GreaterThanOrEqual("log_time", 1006L))),
      "typed topic" -> plan(p, typed, Seq(EqualTo("topic", "/gamma"))),
      "runtime path" -> plan(p, o, runtime = Seq(In("file_path", Array[Any](uri(mcapDir, "b.mcap"))))),
      "runtime topic" -> plan(p, o, runtime = Seq(In("topic", Array[Any]("/beta")))))
    check(cases, Map(
      "all" -> "a.mcap#0 | a.mcap#1 | a.mcap#2 | b.mcap#-1",
      "path eq" -> "b.mcap#-1",
      "path in" -> "a.mcap#0 | a.mcap#1 | a.mcap#2",
      "topic eq" -> "b.mcap#-1",
      "topic in" -> "a.mcap#0 | a.mcap#1 | a.mcap#2",
      "schema_name eq" -> "a.mcap#0 | a.mcap#1 | a.mcap#2 | b.mcap#-1",
      "channel_id eq" -> "",
      "time range" -> "a.mcap#1 | b.mcap#-1",
      "time eq" -> "a.mcap#2 | b.mcap#-1",
      "typed" -> "a.mcap#0 | a.mcap#1 | a.mcap#2 | b.mcap#-1",
      "typed time" -> "a.mcap#2 | b.mcap#-1",
      "typed topic" -> "b.mcap#-1",
      "runtime path" -> "b.mcap#-1",
      "runtime topic" -> "a.mcap#0 | a.mcap#1 | a.mcap#2"))
  }

  // --- db3 ----------------------------------------------------------

  private lazy val db3Dir: java.io.File = {
    val dir = tmp("graft_parity_db3")
    val in = getClass.getResourceAsStream("/db3/genuine_rosbag2.db3")
    try java.nio.file.Files.write(new java.io.File(dir, "a.db3").toPath, in.readAllBytes())
    finally in.close()
    val rows = (0 until 30).map(i => Seq[Any](null, 1L, 1700000000000000000L + i,
      Array[Byte](0, 1, 0, 0, i.toByte)))
    java.nio.file.Files.write(new java.io.File(dir, "b.db3").toPath, graft.ros.db3.SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/other", "std_msgs/msg/Byte", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows))))
    dir
  }

  test("db3: plans per filter shape") {
    val p = new graft.ros.db3.Db3DataSource
    val o = Map("path" -> db3Dir.getAbsolutePath)
    val t0 = 1700000000000000000L
    val cases = Seq(
      "all" -> plan(p, o),
      "path eq" -> plan(p, o, Seq(EqualTo("file_path", uri(db3Dir, "b.db3")))),
      "path in" -> plan(p, o, Seq(In("file_path", Array[Any](uri(db3Dir, "a.db3"))))),
      "topic eq" -> plan(p, o, Seq(EqualTo("topic", "/imu"))),
      "topic in" -> plan(p, o, Seq(In("topic", Array[Any]("/other", "/none")))),
      "type eq" -> plan(p, o, Seq(EqualTo("type", "std_msgs/msg/Byte"))),
      "topic_id in" -> plan(p, o, Seq(In("topic_id", Array[Any](3L)))),
      "time range" -> plan(p, o, Seq(GreaterThanOrEqual("timestamp", t0 + 1500L * 1000000L))),
      "time in" -> plan(p, o, Seq(In("timestamp", Array[Any](t0 + 1999L * 1000000L)))),
      "time unpruned" -> plan(p, o + ("timestamp_pruning" -> "false"),
        Seq(GreaterThanOrEqual("timestamp", t0 + 1500L * 1000000L))),
      "typed" -> plan(p, o + ("schema_name" -> "sensor_msgs/msg/Imu", "path" -> uri(db3Dir, "a.db3"))),
      "typed time" -> plan(p, o + ("schema_name" -> "sensor_msgs/msg/Imu", "path" -> uri(db3Dir, "a.db3")),
        Seq(LessThan("timestamp", t0 + 300L * 1000000L))),
      "runtime path" -> plan(p, o, runtime = Seq(In("file_path", Array[Any](uri(db3Dir, "b.db3"))))),
      "runtime topic" -> plan(p, o, runtime = Seq(In("topic", Array[Any]("/chatter")))))
    check(cases, Map(
      "all" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8 | a.db3#9 | a.db3#14 | a.db3#15 | a.db3#16 | a.db3#17 | a.db3#18 | a.db3#19 | a.db3#20 | a.db3#21 | a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28 | b.db3#3",
      "path eq" -> "b.db3#3",
      "path in" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8 | a.db3#9 | a.db3#14 | a.db3#15 | a.db3#16 | a.db3#17 | a.db3#18 | a.db3#19 | a.db3#20 | a.db3#21 | a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28",
      "topic eq" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8 | a.db3#9 | a.db3#14 | a.db3#15 | a.db3#16 | a.db3#17 | a.db3#18 | a.db3#19 | a.db3#20 | a.db3#21 | a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28",
      "topic in" -> "b.db3#3",
      "type eq" -> "b.db3#3",
      "topic_id in" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8 | a.db3#9 | a.db3#14 | a.db3#15 | a.db3#16 | a.db3#17 | a.db3#18 | a.db3#19 | a.db3#20 | a.db3#21 | a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28",
      "time range" -> "a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28",
      "time in" -> "a.db3#27 | a.db3#28",
      "time unpruned" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8 | a.db3#9 | a.db3#14 | a.db3#15 | a.db3#16 | a.db3#17 | a.db3#18 | a.db3#19 | a.db3#20 | a.db3#21 | a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28 | b.db3#3",
      "typed" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8 | a.db3#9 | a.db3#14 | a.db3#15 | a.db3#16 | a.db3#17 | a.db3#18 | a.db3#19 | a.db3#20 | a.db3#21 | a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28",
      "typed time" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8",
      "runtime path" -> "b.db3#3",
      "runtime topic" -> "a.db3#5 | a.db3#6 | a.db3#7 | a.db3#8 | a.db3#9 | a.db3#14 | a.db3#15 | a.db3#16 | a.db3#17 | a.db3#18 | a.db3#19 | a.db3#20 | a.db3#21 | a.db3#22 | a.db3#23 | a.db3#24 | a.db3#25 | a.db3#26 | a.db3#27 | a.db3#28"))
  }

  // --- warc ---------------------------------------------------------

  test("warc: plans per filter shape, plain and through the CDX sidecars") {
    import graft.warc.WarcFormat._
    val dir = tmp("graft_parity_warc")
    Seq("a", "b").foreach { s =>
      java.nio.file.Files.write(new java.io.File(dir, s"$s.warc.gz").toPath,
        writeWarc((0 until 3).map(i => WriteRecord("response", s"https://$s.com/$i",
          httpResponseBlock(s"$s$i".getBytes("UTF-8"), "text/plain"),
          contentType = "application/http; msgtype=response")), gzipPerRecord = true))
    }
    graft.warc.WarcCdx.buildSidecars(spark, dir.getAbsolutePath)
    val p = new graft.warc.WarcDataSource
    val o = Map("path" -> dir.getAbsolutePath)
    val cdx = o + ("cdx" -> "true")
    val cases = Seq(
      "all" -> plan(p, o),
      "path eq" -> plan(p, o, Seq(EqualTo("file_path", uri(dir, "b.warc.gz")))),
      "path in" -> plan(p, o, Seq(In("file_path", Array[Any](uri(dir, "a.warc.gz"))))),
      "type eq" -> plan(p, o, Seq(EqualTo("warc_type", "request"))),
      "cdx all" -> plan(p, cdx),
      "cdx uri eq" -> plan(p, cdx, Seq(EqualTo("target_uri", "https://b.com/1"))),
      "cdx uri in" -> plan(p, cdx, Seq(In("target_uri", Array[Any]("https://a.com/2", "https://b.com/0")))),
      "cdx uri + path" -> plan(p, cdx, Seq(In("target_uri", Array[Any]("https://a.com/2", "https://b.com/0")),
        EqualTo("file_path", uri(dir, "a.warc.gz")))))
    check(cases, Map(
      "all" -> "a.warc.gz | b.warc.gz",
      "path eq" -> "b.warc.gz",
      "path in" -> "a.warc.gz",
      "type eq" -> "a.warc.gz | b.warc.gz",
      "cdx all" -> "a.warc.gz@0,1,2 | b.warc.gz@0,1,2",
      "cdx uri eq" -> "b.warc.gz@1",
      "cdx uri in" -> "a.warc.gz@2 | b.warc.gz@0",
      "cdx uri + path" -> "a.warc.gz@2"))
  }
}
