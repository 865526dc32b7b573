package graft.ros.mcap

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import McapFormat._

class McapSpec extends SparkTestBase {

  private def fixtureMessages(n: Int): Seq[McapMessage] =
    (0 until n).map { i =>
      McapMessage(channelId = 1 + (i % 2), sequence = i.toLong,
        logTime = 1700000000000000000L + i * 1000000L,
        publishTime = 1700000000000000000L + i * 1000000L + 5,
        data = Array.tabulate(4 + i)(j => ((i * 31 + j) % 127).toByte))
    }

  private val fixtureSchemas = Seq(
    McapSchema(1, "sensor_msgs/msg/Imu", "ros2msg", "float64 x\n".getBytes("UTF-8")),
    McapSchema(2, "std_msgs/msg/String", "ros2msg", "string data\n".getBytes("UTF-8")))
  private val fixtureChannels = Seq(
    McapChannel(1, 1, "/imu", "cdr"),
    McapChannel(2, 2, "/chatter", "cdr"))

  private def writeTemp(bytes: Array[Byte], suffix: String = ".mcap"): String = {
    val f = java.io.File.createTempFile("graft_mcap", suffix)
    val out = new java.io.FileOutputStream(f)
    try out.write(bytes) finally out.close()
    f.getAbsolutePath
  }

  test("chunked mcap round-trips through the source (zstd, two chunks)") {
    val msgs = fixtureMessages(10)
    val path = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, msgs,
      compression = "zstd", chunked = true, chunkGroups = 2))
    val df = spark.read.format("mcap").load(path)
    val rows = df.orderBy("chunk_idx", "offset").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Int]("chunk_idx")).distinct.toSeq == Seq(0, 1))
    rows.zip(msgs).foreach { case (r, m) =>
      assert(r.getAs[Long]("log_time") == m.logTime)
      assert(r.getAs[Long]("publish_time") == m.publishTime)
      assert(r.getAs[Long]("sequence") == m.sequence)
      assert(r.getAs[Int]("channel_id") == m.channelId)
      assert(r.getAs[Array[Byte]]("data").toSeq == m.data.toSeq)
      assert(r.getAs[Int]("size") == m.data.length)
      assert(r.getAs[String]("topic") == (if (m.channelId == 1) "/imu" else "/chatter"))
      assert(r.getAs[String]("schema_name") ==
        (if (m.channelId == 1) "sensor_msgs/msg/Imu" else "std_msgs/msg/String"))
      assert(r.getAs[String]("schema_encoding") == "ros2msg")
      assert(r.getAs[String]("message_encoding") == "cdr")
      assert(r.getAs[Long]("data_crc32") ==
        graft.ros.bag.RosbagDataSource.crc32(m.data))
    }
  }

  test("all three compressions and the summary-less walk yield identical rows") {
    val msgs = fixtureMessages(8)
    def rowsOf(bytes: Array[Byte]): Seq[(Long, Long, String)] =
      spark.read.format("mcap").load(writeTemp(bytes))
        .select("log_time", "sequence", "data").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Array[Byte]](2).map("%02x".format(_)).mkString)).toSeq.sorted
    val none = rowsOf(writeMcap(fixtureSchemas, fixtureChannels, msgs, ""))
    val lz4 = rowsOf(writeMcap(fixtureSchemas, fixtureChannels, msgs, "lz4"))
    val zstd = rowsOf(writeMcap(fixtureSchemas, fixtureChannels, msgs, "zstd"))
    val noSum = rowsOf(writeMcap(fixtureSchemas, fixtureChannels, msgs, "zstd",
      withSummary = false))
    assert(none == lz4 && lz4 == zstd && zstd == noSum && none.length == 8)
  }

  test("unchunked standalone messages read via the inline segment partition") {
    val msgs = fixtureMessages(5)
    val path = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, msgs, chunked = false))
    val df = spark.read.format("mcap").load(path)
    val rows = df.orderBy("offset").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Int]("chunk_idx") == -1))
    assert(rows.map(_.getAs[Long]("sequence")).toSeq == (0L until 5L))
  }

  test("chunk time-range pruning drops whole chunks from the plan") {
    val msgs = fixtureMessages(10) // two chunks: logTime split at msg 5
    val path = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, msgs,
      chunked = true, chunkGroups = 2))
    val cut = msgs(5).logTime
    // plan directly: the second chunk's range is [cut, ...], the first
    // chunk ends before it
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val scan = new graft.ros.ContainerSource.ContainerScan(new McapRead(path, None, false),
      McapDataSource.SpineSchema, Array(GreaterThanOrEqual("log_time", cut)), -1)()
    assert(scan.planInputPartitions().length == 1, "first chunk must be pruned")
    // and through the full query path the rows are right
    val got = spark.read.format("mcap").load(path)
      .filter(col("log_time") >= cut).count()
    assert(got == 5)
  }

  test("topic filter and column pruning work through the query path") {
    val msgs = fixtureMessages(10)
    val path = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, msgs, "lz4"))
    val got = spark.read.format("mcap").load(path)
      .filter(col("topic") === "/imu").select("sequence")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == msgs.filter(_.channelId == 1).map(_.sequence).sorted)
  }

  test("channels dimension table lists (channel, schema) per file") {
    val msgs = fixtureMessages(4)
    val path = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, msgs))
    val ch = McapTables.channels(spark, path).collect()
      .map(r => (r.getAs[Int]("channel_id"), r.getAs[String]("topic"),
        r.getAs[String]("schema_name"))).toSet
    assert(ch == Set((1, "/imu", "sensor_msgs/msg/Imu"),
      (2, "/chatter", "std_msgs/msg/String")))
  }

  test("corrupt and truncated files fail loudly") {
    val good = writeMcap(fixtureSchemas, fixtureChannels, fixtureMessages(4))
    val badMagic = good.clone(); badMagic(0) = 0x00
    val e1 = intercept[Exception] {
      spark.read.format("mcap").load(writeTemp(badMagic)).count()
    }
    assert(e1.getMessage.contains("mcap") ||
      Option(e1.getCause).exists(_.getMessage.contains("mcap")))
    val truncated = good.take(good.length - 20)
    val e2 = intercept[Exception] {
      spark.read.format("mcap").load(writeTemp(truncated)).count()
    }
    assert(e2.getMessage.contains("magic") ||
      Option(e2.getCause).exists(_.getMessage.contains("magic")))
  }

  test("typed read flattens CDR payloads into columns") {
    val imuSchema =
      """std_msgs/msg/Header header
        |float64 ax
        |float64 ay
        |================================================================================
        |MSG: std_msgs/msg/Header
        |builtin_interfaces/Time stamp
        |string frame_id""".stripMargin
    val bundle = Ros2Msg.bundle("sensor_msgs/msg/Imu", imuSchema)
    val schemas = Seq(McapSchema(1, "sensor_msgs/msg/Imu", "ros2msg",
      imuSchema.getBytes("UTF-8")), fixtureSchemas(1))
    val channels = Seq(McapChannel(1, 1, "/imu", "cdr"), McapChannel(2, 2, "/chatter", "cdr"))
    val msgs = (0 until 6).map { i =>
      if (i % 3 == 2) // a /chatter message the typed read must skip
        McapMessage(2, i.toLong, 100L + i, 100L + i, Array[Byte](0, 1, 0, 0, 5, 0, 0, 0, 'h', 'i', 'x', 'y', 0))
      else
        McapMessage(1, i.toLong, 100L + i, 100L + i,
          CdrCodec.encode(bundle, Seq(10 + i, (20 + i).toLong, s"frame$i", 1.5 * i, -2.5 * i)))
    }
    val path = writeTemp(writeMcap(schemas, channels, msgs, "zstd"))
    val df = spark.read.format("mcap").option("schema_name", "sensor_msgs/msg/Imu").load(path)
    assert(df.schema.fieldNames.toSeq ==
      McapTypedRead.MetaFields.map(_.name) ++
        Seq("header_stamp_sec", "header_stamp_nanosec", "header_frame_id", "ax", "ay"))
    val rows = df.orderBy("offset").collect()
    assert(rows.length == 4) // chatter messages skipped
    rows.foreach { r =>
      val i = r.getAs[Long]("sequence").toInt
      assert(r.getAs[String]("topic") == "/imu")
      assert(r.getAs[Int]("header_stamp_sec") == 10 + i)
      assert(r.getAs[Long]("header_stamp_nanosec") == 20L + i)
      assert(r.getAs[String]("header_frame_id") == s"frame$i")
      assert(r.getAs[Double]("ax") == 1.5 * i && r.getAs[Double]("ay") == -2.5 * i)
    }
    // meta-only projection never decodes (chatter payloads would throw)
    assert(df.select("log_time").count() == 4)
    // pushed meta filter pre-decode
    assert(df.filter(col("log_time") >= 103L).count() == 2)
  }

  test("typed read fails loudly on schema drift across files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_drift").toFile
    def write(name: String, text: String): Unit = {
      val sch = Seq(McapSchema(1, "p/msg/T", "ros2msg", text.getBytes("UTF-8")))
      val chs = Seq(McapChannel(1, 1, "/t", "cdr"))
      val b = Ros2Msg.bundle("p/msg/T", text)
      val ms = Seq(McapMessage(1, 0, 1L, 1L, CdrCodec.encode(b,
        if (text.contains("int64")) Seq(1L) else Seq(1))))
      val out = new java.io.FileOutputStream(new java.io.File(dir, name))
      try out.write(writeMcap(sch, chs, ms)) finally out.close()
    }
    write("a.mcap", "int32 x")
    write("b.mcap", "int64 x")
    val e = intercept[Exception] {
      spark.read.format("mcap").option("schema_name", "p/msg/T")
        .load(dir.getAbsolutePath).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("variants")), msgs(e).mkString(" | "))
  }

  private val imuText = "float64 ax\nfloat64 ay"
  private val imuText2 = "float64 ax\nfloat64 ay\nfloat64 az" // drifted variant
  private val strText = "string data"
  /** A 2-channel (imu + chatter) fixture file for the ETL tests. */
  private def writeEtlFixture(dir: java.io.File, name: String, imuDef: String,
                              n: Int, t0: Long = 100L): Unit = {
    val schemas = Seq(McapSchema(1, "sensor_msgs/msg/Imu", "ros2msg", imuDef.getBytes("UTF-8")),
      McapSchema(2, "std_msgs/msg/String", "ros2msg", strText.getBytes("UTF-8")))
    val channels = Seq(McapChannel(1, 1, "/imu", "cdr"), McapChannel(2, 2, "/chatter", "cdr"))
    val ib = Ros2Msg.bundle("sensor_msgs/msg/Imu", imuDef)
    val sb = Ros2Msg.bundle("std_msgs/msg/String", strText)
    val msgs = (0 until n).map { i =>
      if (i % 2 == 0) McapMessage(1, i.toLong, t0 + i, t0 + i, CdrCodec.encode(ib,
        if (imuDef == imuText) Seq(1.0 * i, 2.0 * i) else Seq(1.0 * i, 2.0 * i, 3.0 * i)))
      else McapMessage(2, i.toLong, t0 + i, t0 + i, CdrCodec.encode(sb, Seq(s"m$i")))
    }
    val out = new java.io.FileOutputStream(new java.io.File(dir, name))
    try out.write(writeMcap(schemas, channels, msgs, "zstd")) finally out.close()
  }
  private def freshOut(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/out"

  test("typed read of ONE file carrying two same-name variants decodes only the selected md5") {
    // legal mcap: two schema ids registering the same name with
    // different definitions; channel 1 -> v1, channel 2 -> v2. A
    // name-only channel match would decode channel 2's payloads with
    // v1's bundle (silent garbage); the (name, md5) match must skip it.
    val t1 = "int32 x"
    val t2 = "int32 x\nint32 y"
    val sch = Seq(McapSchema(1, "p/msg/T", "ros2msg", t1.getBytes("UTF-8")),
      McapSchema(2, "p/msg/T", "ros2msg", t2.getBytes("UTF-8")))
    val chs = Seq(McapChannel(1, 1, "/a", "cdr"), McapChannel(2, 2, "/b", "cdr"))
    val b1 = Ros2Msg.bundle("p/msg/T", t1)
    val b2 = Ros2Msg.bundle("p/msg/T", t2)
    val ms = (0 until 6).map { i =>
      if (i % 2 == 0) McapMessage(1, i.toLong, 100L + i, 100L + i,
        CdrCodec.encode(b1, Seq(10 + i)))
      else McapMessage(2, i.toLong, 100L + i, 100L + i,
        CdrCodec.encode(b2, Seq(20 + i, 30 + i)))
    }
    val path = writeTemp(writeMcap(sch, chs, ms, "zstd"))
    val md5v1 = McapTypedRead.md5hex(t1.getBytes("UTF-8"))
    val df = spark.read.format("mcap")
      .option("schema_name", "p/msg/T").option("schema_md5", md5v1.take(8))
      .load(path)
    val rows = df.orderBy("offset").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val i = r.getAs[Long]("sequence").toInt
      assert(r.getAs[String]("topic") == "/a")
      assert(r.getAs[Int]("x") == 10 + i)
    }
  }

  test("McapEtl routes by schema: seqno spine + channels + per-type tables, drift namespaced") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_etl").toFile
    writeEtlFixture(dir, "a.mcap", imuText, 6)   // 3 imu + 3 chatter
    writeEtlFixture(dir, "b.mcap", imuText2, 4)  // 2 imu (drifted) + 2 chatter
    val outDir = freshOut("graft_mcap_etl_out")
    val info = McapEtl.run(spark, dir.getAbsolutePath, outDir)
    assert(info.messages == 10 && info.channels == 4)
    assert(info.sizeBytes > 0 && info.crcXor != 0L)
    // one String table (no drift), TWO namespaced Imu variant tables
    val names = info.tables.keySet
    assert(names.contains("std_msgs_msg_String"), s"$names")
    val imuTables = names.filter(_.startsWith("sensor_msgs_msg_Imu__"))
    assert(imuTables.size == 2, s"$names")
    assert(info.tables("std_msgs_msg_String") == 5)
    assert(imuTables.map(info.tables).toSeq.sorted == Seq(2L, 3L))
    // the drifted variant's table carries its extra column, and per-type
    // rows join back to the spine by seqno
    val withAz = imuTables.map(t => spark.read.parquet(s"$outDir/$t.parquet"))
      .filter(_.schema.fieldNames.contains("az"))
    assert(withAz.size == 1 && withAz.head.count() == 2)
    assert(withAz.head.columns.contains("seqno") && withAz.head.columns.contains("data"))
    // spine: meta-only, dense global seqno 0..9 in log_time order
    val spine = spark.read.parquet(s"$outDir/Messages.parquet")
    assert(spine.count() == 10 && !spine.schema.fieldNames.contains("data"))
    val ordered = spine.orderBy("seqno")
      .select("seqno", "log_time").collect()
    assert(ordered.map(_.getLong(0)).toSeq == (0L until 10L))
    assert(ordered.map(_.getLong(1)).toSeq == ordered.map(_.getLong(1)).sortBy(identity).toSeq)
    // Vertica DDL covers every table; manifest pins the naming
    val ddl = scala.io.Source.fromFile(s"$outDir/vertica_load_tables.sql").mkString
    (names + "RawMessages").foreach { t =>
      if (t != "RawMessages") assert(ddl.contains(s"CREATE TABLE $t"), t)
    }
    assert(new java.io.File(s"$outDir/_tables.json").exists())
    // all-ros2msg input: no RawMessages table
    assert(!new java.io.File(s"$outDir/RawMessages.parquet").exists())
  }

  test("McapEtl retains unrouted (untyped-encoding) payloads in RawMessages") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_raw").toFile
    val schemas = Seq(
      McapSchema(1, "std_msgs/msg/String", "ros2msg", strText.getBytes("UTF-8")),
      McapSchema(2, "foxglove.Log", "jsonschema", Array[Byte](1, 2, 3)))
    val channels = Seq(McapChannel(1, 1, "/chatter", "cdr"),
      McapChannel(2, 2, "/log", "json"))
    val sb = Ros2Msg.bundle("std_msgs/msg/String", strText)
    val msgs = (0 until 6).map { i =>
      if (i % 2 == 0) McapMessage(1, i.toLong, 100L + i, 100L + i,
        CdrCodec.encode(sb, Seq(s"m$i")))
      else McapMessage(2, i.toLong, 100L + i, 100L + i,
        Array.tabulate(8)(j => (i * 16 + j).toByte))
    }
    val out = new java.io.FileOutputStream(new java.io.File(dir, "a.mcap"))
    try out.write(writeMcap(schemas, channels, msgs, "lz4")) finally out.close()
    val outDir = freshOut("graft_mcap_raw_out")
    val info = McapEtl.run(spark, dir.getAbsolutePath, outDir)
    assert(info.messages == 6 && info.tables == Map("std_msgs_msg_String" -> 3L))
    val rawTab = spark.read.parquet(s"$outDir/RawMessages.parquet")
    val rows = rawTab.orderBy("seqno").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[String]("schema_encoding") == "jsonschema")
      assert(r.getAs[String]("topic") == "/log")
    }
    // byte-exact retention of the unrouted payloads
    val got = rows.map(_.getAs[Array[Byte]]("data").toSeq).toSet
    val want = msgs.filter(_.channelId == 2).map(_.data.toSeq).toSet
    assert(got == want)
    // and the DDL covers it
    val ddl = scala.io.Source.fromFile(s"$outDir/vertica_load_tables.sql").mkString
    assert(ddl.contains("CREATE TABLE RawMessages"))
  }

  // ---- typed protobuf channels (MCAP well-known protobuf profile) ----

  private def telemetryFixture(): (Array[Byte], ProtoDescriptor.ProtoSet, Seq[Seq[Any]]) = {
    import ProtoDescriptor._
    val descSet = ProtoSet(Map(
      "FDS" -> ProtoMsgDescr("FDS", Seq(ProtoField("file", 1, true, TMessage, "FDP"))),
      "FDP" -> ProtoMsgDescr("FDP", Seq(
        ProtoField("name", 1, false, TString, ""),
        ProtoField("package", 2, false, TString, ""),
        ProtoField("message_type", 4, true, TMessage, "DP"))),
      "DP" -> ProtoMsgDescr("DP", Seq(
        ProtoField("name", 1, false, TString, ""),
        ProtoField("field", 2, true, TMessage, "FLD"),
        ProtoField("nested_type", 3, true, TMessage, "DP"))),
      "FLD" -> ProtoMsgDescr("FLD", Seq(
        ProtoField("name", 1, false, TString, ""),
        ProtoField("number", 3, false, TInt32, ""),
        ProtoField("label", 4, false, TEnum, ""),
        ProtoField("type", 5, false, TEnum, ""),
        ProtoField("type_name", 6, false, TString, "")))))
    def fld(n: String, num: Int, lab: Int, t: Int, tn: String = "") =
      org.apache.spark.sql.Row(n, num, lab, t, tn)
    def m(n: String, fs: Seq[org.apache.spark.sql.Row]) =
      org.apache.spark.sql.Row(n, fs, Seq.empty[org.apache.spark.sql.Row])
    val fdsBytes = ProtoCodec.encode(descSet, "FDS", Seq(Seq(
      org.apache.spark.sql.Row("telemetry.proto", "graft.test", Seq(
        m("Pose", Seq(fld("x", 1, 1, TDouble), fld("y", 2, 1, TFloat))),
        m("Telemetry", Seq(
          fld("tag", 1, 1, TString),
          fld("stamp", 2, 1, TInt64),
          fld("pose", 3, 1, TMessage, ".graft.test.Pose"),
          fld("counts", 4, 3, TInt32))))))))
    val set = parseSet(fdsBytes)
    val vals = (0 until 4).map(i => Seq[Any](
      s"t$i", 1000L + i, i * 0.5, i * 0.25f, Seq(i, i + 1)))
    (fdsBytes, set, vals)
  }

  test("typed protobuf channel: flattened columns end-to-end through the source") {
    val (fdsBytes, set, vals) = telemetryFixture()
    val schemas = Seq(McapSchema(1, "graft.test.Telemetry", "protobuf", fdsBytes))
    val channels = Seq(McapChannel(1, 1, "/telemetry", "protobuf"))
    val msgs = vals.zipWithIndex.map { case (v, i) =>
      McapMessage(1, i.toLong, 100L + i, 100L + i,
        ProtoCodec.encode(set, "graft.test.Telemetry", v))
    }
    val path = writeTemp(writeMcap(schemas, channels, msgs, "zstd"))
    val df = spark.read.format("mcap").option("path", path)
      .option("schema_name", "graft.test.Telemetry").load()
    assert(df.schema.fieldNames.toSeq.drop(McapTypedRead.MetaFields.size) ===
      Seq("tag", "stamp", "pose_x", "pose_y", "counts"))
    val rows = df.orderBy("offset")
      .select("tag", "stamp", "pose_x", "pose_y", "counts").collect()
    assert(rows.length === 4)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) === s"t$i" && r.getLong(1) === 1000L + i)
      assert(r.getDouble(2) === i * 0.5 && r.getFloat(3) === i * 0.25f)
      assert(r.getSeq[Int](4) === Seq(i, i + 1))
    }
    // meta-only projection never touches the payload decode
    assert(spark.read.format("mcap").option("path", path)
      .option("schema_name", "graft.test.Telemetry").load()
      .select("topic").distinct().collect().map(_.getString(0)).toSeq
      === Seq("/telemetry"))
  }

  test("McapEtl routes protobuf channels to typed tables; no RawMessages") {
    val (fdsBytes, set, vals) = telemetryFixture()
    val schemas = Seq(
      McapSchema(1, "graft.test.Telemetry", "protobuf", fdsBytes),
      McapSchema(2, "std_msgs/msg/String", "ros2msg", strText.getBytes("UTF-8")))
    val channels = Seq(McapChannel(1, 1, "/telemetry", "protobuf"),
      McapChannel(2, 2, "/chatter", "cdr"))
    val sb = Ros2Msg.bundle("std_msgs/msg/String", strText)
    val msgs = (0 until 8).map { i =>
      if (i % 2 == 0) McapMessage(1, i.toLong, 100L + i, 100L + i,
        ProtoCodec.encode(set, "graft.test.Telemetry", vals(i / 2)))
      else McapMessage(2, i.toLong, 100L + i, 100L + i,
        CdrCodec.encode(sb, Seq(s"m$i")))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_pb").toFile
    val out = new java.io.FileOutputStream(new java.io.File(dir, "a.mcap"))
    try out.write(writeMcap(schemas, channels, msgs, "lz4")) finally out.close()
    val outDir = freshOut("graft_mcap_pb_out")
    val info = McapEtl.run(spark, dir.getAbsolutePath, outDir)
    assert(info.tables === Map("graft_test_Telemetry" -> 4L,
      "std_msgs_msg_String" -> 4L))
    // every channel routed: the retention table must not exist
    assert(!new java.io.File(s"$outDir/RawMessages.parquet").exists())
    val t = spark.read.parquet(s"$outDir/graft_test_Telemetry.parquet")
    val got = t.orderBy("seqno")
      .select("tag", "stamp", "pose_x", "pose_y", "counts").collect()
      .map(r => Seq[Any](r.getString(0), r.getLong(1), r.getDouble(2),
        r.getFloat(3), r.getSeq[Int](4)))
    assert(got.toSeq === vals)
    val ddl = scala.io.Source.fromFile(s"$outDir/vertica_load_tables.sql").mkString
    assert(ddl.contains("graft_test_Telemetry"))
  }

  test("unflattenable protobuf schema falls back to RawMessages instead of sinking the run") {
    import ProtoDescriptor._
    // a recursive type (think google.protobuf.Struct) cannot flatten
    val recFds = buildFds("t", Seq("Node" -> Seq(
      ProtoField("next", 1, repeated = false, TMessage, ".t.Node"),
      ProtoField("v", 2, repeated = false, TInt64, ""))))
    val schemas = Seq(
      McapSchema(1, "t.Node", "protobuf", recFds),
      McapSchema(2, "std_msgs/msg/String", "ros2msg", strText.getBytes("UTF-8")))
    val channels = Seq(McapChannel(1, 1, "/rec", "protobuf"),
      McapChannel(2, 2, "/chatter", "cdr"))
    val sb = Ros2Msg.bundle("std_msgs/msg/String", strText)
    val msgs = (0 until 6).map { i =>
      if (i % 2 == 0) McapMessage(1, i.toLong, 100L + i, 100L + i,
        Array.tabulate(6)(j => ((2 << 3) | 0).toByte)) // arbitrary bytes, retained not decoded
      else McapMessage(2, i.toLong, 100L + i, 100L + i,
        CdrCodec.encode(sb, Seq(s"m$i")))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_unflat").toFile
    val out = new java.io.FileOutputStream(new java.io.File(dir, "a.mcap"))
    try out.write(writeMcap(schemas, channels, msgs, "lz4")) finally out.close()
    val outDir = freshOut("graft_mcap_unflat_out")
    val info = McapEtl.run(spark, dir.getAbsolutePath, outDir)
    assert(info.tables === Map("std_msgs_msg_String" -> 3L))
    val raw = spark.read.parquet(s"$outDir/RawMessages.parquet")
      .orderBy("seqno").collect()
    assert(raw.length === 3)
    raw.foreach(r => assert(r.getAs[String]("topic") === "/rec"))
    val want = msgs.filter(_.channelId == 1).map(_.data.toSeq).toSet
    assert(raw.map(_.getAs[Array[Byte]]("data").toSeq).toSet === want,
      "byte-exact retention")
  }

  test("ros2idl schema encoding reads typed through the mcap source") {
    val idl = "module graft_msgs { module msg { struct Pose { double x; double y; }; }; };"
    val sb = Ros2Idl.bundle("graft_msgs/msg/Pose", idl)
    val schemas = Seq(McapSchema(1, "graft_msgs/msg/Pose", "ros2idl",
      idl.getBytes("UTF-8")))
    val channels = Seq(McapChannel(1, 1, "/pose", "cdr"))
    val msgs = (0 until 5).map(i => McapMessage(1, i.toLong, 100L + i, 100L + i,
      CdrCodec.encode(sb, Seq(i * 2.0, i * 3.0))))
    val path = writeTemp(writeMcap(schemas, channels, msgs, "zstd"))
    val typed = spark.read.format("mcap").option("path", path)
      .option("schema_name", "graft_msgs/msg/Pose").load()
    assert(typed.schema.fieldNames.toSeq.takeRight(2) === Seq("x", "y"))
    val got = typed.orderBy("offset").select("x", "y").collect()
    assert(got.zipWithIndex.forall { case (r, i) =>
      r.getDouble(0) == i * 2.0 && r.getDouble(1) == i * 3.0 })
  }

  test("McapEtl.runIncremental appends new files with continuing seqnos and stable naming") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_incr").toFile
    val outDir = freshOut("graft_mcap_incr_out")
    writeEtlFixture(dir, "a.mcap", imuText, 6, t0 = 100L)
    val first = McapEtl.runIncremental(spark, dir.getAbsolutePath, outDir)
    assert(first.messages == 6)
    // a drifted file arrives later: its Imu variant gets a NAMESPACED
    // table; the historical plain table is never renamed
    writeEtlFixture(dir, "b.mcap", imuText2, 4, t0 = 200L)
    val second = McapEtl.runIncremental(spark, dir.getAbsolutePath, outDir)
    assert(second.messages == 4, s"$second")
    assert(second.tables.keySet.exists(_.startsWith("sensor_msgs_msg_Imu__")))
    assert(spark.read.parquet(s"$outDir/sensor_msgs_msg_Imu.parquet").count() == 3)
    // spine: 10 rows, seqnos dense 0..9 across both increments
    val spine = spark.read.parquet(s"$outDir/Messages.parquet")
    assert(spine.count() == 10)
    assert(spine.select("seqno").collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    // third call: nothing new
    val third = McapEtl.runIncremental(spark, dir.getAbsolutePath, outDir)
    assert(third.messages == 0 && third.tables.isEmpty)
  }

  test("McapEtl maxMessages limits the conversion scope; nativeTimestamp adds NTZ micros") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_lim").toFile
    writeEtlFixture(dir, "a.mcap", imuText, 8, t0 = 1700000000123456789L)
    val outDir = freshOut("graft_mcap_lim_out")
    val info = McapEtl.run(spark, dir.getAbsolutePath, outDir,
      maxMessages = Some(3L), nativeTimestamp = true)
    assert(info.messages == 3)
    assert(info.tables.values.sum == 3)
    val spine = spark.read.parquet(s"$outDir/Messages.parquet")
    val r = spine.orderBy("seqno").head()
    // floor(nanos/1000) micros, rendered as NTZ
    val wantMicros = r.getAs[Long]("log_time") / 1000L
    val ts = r.getAs[java.time.LocalDateTime]("log_time_ts")
    val gotMicros = ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      ts.getNano / 1000L
    assert(gotMicros == wantMicros)
  }

  test("runtime filters re-plan partitions; channel catalog prunes files; stats report bytes") {
    // two files with DISJOINT topics: a topic filter (static or
    // runtime) must drop the other file's partitions entirely
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_rt").toFile
    def writeTopic(name: String, chan: String): Unit = {
      val schemas = Seq(McapSchema(1, "std_msgs/msg/String", "ros2msg",
        "string data\n".getBytes("UTF-8")))
      val channels = Seq(McapChannel(1, 1, chan, "cdr"))
      val msgs = (0 until 6).map(i => McapMessage(1, i.toLong,
        1700000000000000000L + i, 1700000000000000000L + i,
        Array[Byte](0, 1, 0, 0, 2, 0, 0, 0, 'x'.toByte, 0)))
      val out = new java.io.FileOutputStream(new java.io.File(dir, name))
      try out.write(writeMcap(schemas, channels, msgs, chunkGroups = 2)) finally out.close()
    }
    writeTopic("a.mcap", "/alpha"); writeTopic("b.mcap", "/beta")
    import org.apache.spark.sql.sources.{EqualTo, In}
    def scan(fs: org.apache.spark.sql.sources.Filter*) =
      new graft.ros.ContainerSource.ContainerScan(new McapRead(dir.getAbsolutePath, None, false),
        McapDataSource.SpineSchema, fs.toArray, -1)()
    val all = scan().planInputPartitions()
    // static topic filter: only /alpha's file plans
    val static = scan(EqualTo("topic", "/alpha")).planInputPartitions()
    assert(static.length < all.length && static.nonEmpty)
    assert(static.map(_.asInstanceOf[McapInputPartition].path).distinct
      .forall(_.endsWith("a.mcap")))
    // runtime filter (the DPP path): same pruning via filter() after build
    val rt = scan()
    assert(rt.filterAttributes().map(_.describe()).toSet ===
      Set("file_path", "topic", "channel_id"))
    rt.filter(Array[org.apache.spark.sql.sources.Filter](In("topic", Array[Any]("/beta"))))
    val pruned = rt.planInputPartitions()
    assert(pruned.length < all.length && pruned.nonEmpty)
    assert(pruned.map(_.asInstanceOf[McapInputPartition].path).distinct
      .forall(_.endsWith("b.mcap")))
    // reported statistics = the files' byte size (join-side sizing)
    val bytes = dir.listFiles().filter(_.getName.endsWith(".mcap")).map(_.length).sum
    assert(scan().estimateStatistics().sizeInBytes().getAsLong === bytes)
    // and the full query path is unaffected
    assert(spark.read.format("mcap").load(dir.getAbsolutePath)
      .filter(col("topic") === "/alpha").count() === 6)
  }

  test("count(*) and groupBy(topic).count() answer from summary Statistics (agg pushdown)") {
    val msgs = fixtureMessages(10)
    val path = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, msgs,
      chunkGroups = 2))
    val df = spark.read.format("mcap").load(path)
    assert(df.count() === 10)
    val agg = df.groupBy("topic").count()
    assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("/imu" -> 5L, "/chatter" -> 5L))
    // plan-visible: the metadata-agg scan served it — no chunk was read
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("metadataAgg=true"), plan)
    // per-schema grouping too
    val bySchema = df.groupBy("schema_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySchema === Map("sensor_msgs/msg/Imu" -> 5L, "std_msgs/msg/String" -> 5L))
    // a filter blocks the metadata path (counts can't see filters);
    // results stay exact through the normal scan
    val filtered = df.filter(col("sequence") < 4).groupBy("topic").count()
    assert(!filtered.queryExecution.executedPlan.toString.contains("metadataAgg"))
    assert(filtered.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("/imu" -> 2L, "/chatter" -> 2L))
    // a summary-less writer cannot push — normal scan, same answer
    val noSum = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, msgs,
      withSummary = false))
    val df2 = spark.read.format("mcap").load(noSum)
    val agg2 = df2.groupBy("topic").count()
    assert(agg2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("/imu" -> 5L, "/chatter" -> 5L))
    assert(!agg2.queryExecution.executedPlan.toString.contains("metadataAgg"))

    // ungrouped min/max(log_time) answers from the Statistics record's
    // message_start_time/message_end_time — no chunk decompressed
    val mm = df.agg(count(lit(1)).as("n"),
      min(col("log_time")).as("mn"), max(col("log_time")).as("mx"))
    assert(mm.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    val r = mm.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((10L, 1700000000000000000L, 1700000000000000000L + 9L * 1000000L)))
    // publish_time has no metadata range — refuse, normal scan answers
    val pub = df.agg(min(col("publish_time")))
    assert(!pub.queryExecution.executedPlan.toString.contains("metadataAgg"))
    assert(pub.collect().head.getLong(0) === 1700000000000000005L)
    // grouped min/max refuses (Statistics has only per-channel counts)
    val gmm = df.groupBy("topic").agg(min(col("log_time")))
    assert(!gmm.queryExecution.executedPlan.toString.contains("metadataAgg"))
    // the summary-less file refuses min/max like it refuses counts
    val mm2 = df2.agg(min(col("log_time")).as("mn"))
    assert(!mm2.queryExecution.executedPlan.toString.contains("metadataAgg"))
    assert(mm2.collect().head.getLong(0) === 1700000000000000000L)

    // a HALF-stamped Statistics record (counts present, start=0 under
    // a non-empty count — a nonconforming foreign writer) must refuse
    // min/max (a both-bounds gate), while counts still push
    val patched = writeMcap(fixtureSchemas, fixtureChannels, msgs,
      chunkGroups = 2)
    var pos = 8 // after the leading magic; records are op + u64 len
    var found = false
    while (!found && pos < patched.length - 8) {
      val op = patched(pos) & 0xFF
      val len = McapFormat.leLong(patched, pos + 1)
      if (op == McapFormat.OpStatistics) {
        java.util.Arrays.fill(patched, pos + 9 + 26, pos + 9 + 34, 0.toByte)
        found = true
      }
      pos += 9 + len.toInt
    }
    assert(found, "fixture has no Statistics record to patch")
    val df3 = spark.read.format("mcap").load(writeTemp(patched))
    val c3 = df3.groupBy().count()
    assert(c3.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    assert(c3.collect().head.getLong(0) === 10L)
    val mm3 = df3.agg(min(col("log_time")).as("mn"))
    assert(!mm3.queryExecution.executedPlan.toString.contains("metadataAgg"))
    assert(mm3.collect().head.getLong(0) === 1700000000000000000L)
  }

  test("count(*) pushdown over a file with an empty Statistics channel map returns 0, not null") {
    // ADVICE r10: zero count units used to emit ZERO partial rows, and
    // Spark's final SUM over an empty ungrouped input is NULL
    val path = writeTemp(writeMcap(fixtureSchemas, fixtureChannels, Seq.empty))
    val df = spark.read.format("mcap").load(path)
    val cnt = df.agg(count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    assert(cnt.collect().head.getLong(0) === 0L)
    assert(df.count() === 0L)
    // grouped count over the empty fleet: no groups, still pushed
    assert(df.groupBy("topic").count().collect().isEmpty)
    // ungrouped min over no messages: SQL null, via the per-file
    // (0, null, null) partial row
    assert(df.agg(min(col("log_time"))).collect().head.isNullAt(0))
  }

  test("a broadcast join against a selective dimension runtime-prunes the scan (DPP)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_dpp").toFile
    def writeTopic(name: String, chan: String): Unit = {
      val schemas = Seq(McapSchema(1, "std_msgs/msg/String", "ros2msg",
        "string data\n".getBytes("UTF-8")))
      val channels = Seq(McapChannel(1, 1, chan, "cdr"))
      val msgs = (0 until 6).map(i => McapMessage(1, i.toLong,
        1700000000000000000L + i, 1700000000000000000L + i,
        Array[Byte](0, 1, 0, 0, 2, 0, 0, 0, 'x'.toByte, 0)))
      val out = new java.io.FileOutputStream(new java.io.File(dir, name))
      try out.write(writeMcap(schemas, channels, msgs, chunkGroups = 2)) finally out.close()
    }
    writeTopic("a.mcap", "/alpha"); writeTopic("b.mcap", "/beta")
    import spark.implicits._
    // DPP requires a SELECTIVE predicate on the filtering side — and
    // the predicate must SURVIVE optimization, so the dimension is
    // parquet-backed (a filter over a local relation constant-folds
    // away and the rule sees no selective filter)
    val dimPath = new java.io.File(dir, "dim.parquet").getAbsolutePath
    Seq(("/alpha", 1), ("/beta", 2)).toDF("topic", "id")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("id") === 1)
    val joined = spark.read.format("mcap").load(dir.getAbsolutePath)
      .join(dim, "topic")
    assert(joined.collect().length === 6)
    // the FINALIZED plan (adaptive plans print the real tree only
    // after execution) carries a dynamic-pruning runtime filter on the
    // scan: PartitionPruning resolved our filterAttributes, inserted
    // the subquery, and BatchScanExec re-planned partitions when it
    // fired
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
  }

  test("directory load resolves *.mcap children; file_path pruning plans one file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcap_dir").toFile
    val m1 = fixtureMessages(3); val m2 = fixtureMessages(4)
    def writeTo(name: String, msgs: Seq[McapMessage]): Unit = {
      val out = new java.io.FileOutputStream(new java.io.File(dir, name))
      try out.write(writeMcap(fixtureSchemas, fixtureChannels, msgs)) finally out.close()
    }
    writeTo("a.mcap", m1); writeTo("b.mcap", m2)
    val df = spark.read.format("mcap").load(dir.getAbsolutePath)
    assert(df.count() == 7)
    val paths = df.select("file_path").distinct().collect().map(_.getString(0)).sorted
    assert(paths.length == 2 && paths.forall(_.startsWith("file:")))
    // file-level pruning: an exact file_path equality plans ONE file
    import org.apache.spark.sql.sources.EqualTo
    val scan = new graft.ros.ContainerSource.ContainerScan(new McapRead(dir.getAbsolutePath, None, false),
      McapDataSource.SpineSchema, Array(EqualTo("file_path", paths.head)), -1)()
    assert(scan.planInputPartitions().forall(
      _.asInstanceOf[McapInputPartition].path == paths.head))
    assert(df.filter(col("file_path") === paths.head).count() == 3)
  }
}
