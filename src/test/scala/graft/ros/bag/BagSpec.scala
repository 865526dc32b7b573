package graft.ros.bag

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ros.{Fixtures, MsgDefParser, RosSchemaMapper}
import BagFormat._

/** Bag container + DSv2 source + end-to-end ETL specs — the Spark
  * analog of the reference's gtest suite (rosbag2parquet_test.cpp:
  * write_read_bag :20-77 and two_messages_test :160-303).
  */
class BagSpec extends SparkTestBase {

  private val imuBundle = MsgDefParser.parse("sensor_msgs/Imu", Fixtures.imuDef)

  /** Build a serialized Imu message from scalar values (flattened order). */
  private def imuBytes(seq: Long, sec: Int, nsec: Int, frame: String, ax: Double): Array[Byte] = {
    val vals: Seq[Any] = Seq(
      seq, sec, nsec, frame,                  // header
      0.1, 0.2, 0.3, 0.4,                     // orientation quaternion
      Seq.tabulate(9)(_.toDouble),            // orientation_covariance
      1.0, 2.0, 3.0,                          // angular_velocity
      Seq.tabulate(9)(i => i * 2.0),
      ax, 9.8, -9.8,                          // linear_acceleration
      Seq.tabulate(9)(i => i * 3.0))
    RosSchemaMapper.encode(imuBundle, vals)
  }

  private def writeFixtureBag(nMessages: Int, messagesPerChunk: Int = 2,
                              compression: String = "none"): String = {
    val conn = BagConnection(0, "/imu_data", "sensor_msgs/Imu", Fixtures.imuMd5,
      Fixtures.imuDef, "/test_node")
    val msgs = (0 until nMessages).map { i =>
      WriteMessage(0, 1700000000 + i, i * 1000,
        imuBytes(seq = i.toLong, sec = 1700000000 + i, nsec = i * 1000,
          frame = s"frame$i", ax = i * 0.5))
    }
    val bytes = BagFormat.writeBag(Seq(conn), msgs, messagesPerChunk, compression)
    val p = Files.createTempFile("graft_test", ".bag")
    Files.write(p, bytes)
    p.toString
  }

  test("bag write/read round-trip: index, connections, messages") {
    val path = writeFixtureBag(5, messagesPerChunk = 2)
    val idx = RosbagIO.scanIndex(path)
    assert(idx.connections.size == 1)
    val c = idx.connections.head
    assert(c.topic == "/imu_data" && c.datatype == "sensor_msgs/Imu" &&
      c.callerid == "/test_node" && c.md5sum == Fixtures.imuMd5)
    assert(idx.chunks.size == 3)  // 2+2+1
    val all = idx.chunks.flatMap(ch =>
      BagFormat.chunkMessages(ch, RosbagIO.readChunkData(path, ch)))
    assert(all.size == 5)
    assert(all.map(_.timeSec) == (0 until 5).map(1700000000 + _))
  }

  for (codec <- Seq("bz2", "lz4")) {
    test(s"compressed ($codec) bag round-trip: chunks inflate, DSv2 + ETL read them") {
      val path = writeFixtureBag(5, messagesPerChunk = 2, compression = codec)
      val idx = RosbagIO.scanIndex(path)
      assert(idx.chunks.size == 3 && idx.chunks.forall(_.compression == codec))
      // connections for compressed bags come from the trailing index
      // section (inline chunk records are not inflated at scan time)
      assert(idx.connections.size == 1 && idx.connections.head.topic == "/imu_data")
      // the compressed payload really is smaller than the declared
      // uncompressed size for these repetitive fixtures (i.e. we are
      // actually decompressing, not reading 'none' bytes)
      assert(idx.chunks.head.dataLength < idx.chunks.head.uncompressedSize)
      val all = idx.chunks.flatMap(ch =>
        BagFormat.chunkMessages(ch, RosbagIO.readChunkData(path, ch)))
      assert(all.map(_.timeSec) == (0 until 5).map(1700000000 + _))
      // full stack: DSv2 scan with pushdown, then decode one blob back
      val df = spark.read.format("rosbag").load(path)
      assert(df.count() == 5)
      assert(df.filter(col("time_sec") >= 1700000003).count() == 2)
      val row = df.filter(col("time_sec") === 1700000002).select("data").head()
      val vals = RosSchemaMapper.decode(imuBundle, row.getAs[Array[Byte]](0))
      assert(vals(0) == 2L && vals(3) == "frame2")
    }
  }

  test("unknown chunk compression fails loudly on data access") {
    val chunk = BagChunk(0L, "zstd", 10, 0L, 10)
    val e = intercept[IllegalArgumentException] {
      BagFormat.chunkMessages(chunk, new Array[Byte](10))
    }
    assert(e.getMessage.contains("zstd"))
  }

  test("DSv2 rosbag source: scan, schema, pushdown") {
    val path = writeFixtureBag(6, messagesPerChunk = 2)
    val df = spark.read.format("rosbag").load(path)
    assert(df.schema.fieldNames.toSeq == Seq("bag_path", "chunk_idx", "offset",
      "time_sec", "time_nsec", "size", "connection_id", "topic", "datatype",
      "header_stamp_sec", "header_stamp_nsec", "data_crc32", "data"))
    assert(df.count() == 6)
    // the untyped scan is vectorized (RosbagMetaColumnarReader)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "spine scan did not plan columnar")
    // filter pushdown on time_sec halves the rows
    val half = df.filter(col("time_sec") >= 1700000003).count()
    assert(half == 3)
    // column pruning: projecting only time_sec must not break
    assert(df.select("time_sec").distinct().count() == 6)
    // blob round-trips: decode one message back (reference
    // rosbag2parquet_test.cpp:262-275's differential check)
    val row = df.filter(col("time_sec") === 1700000002).select("data").head()
    val vals = RosSchemaMapper.decode(imuBundle, row.getAs[Array[Byte]](0))
    assert(vals(0) == 2L && vals(3) == "frame2")
  }

  test("end-to-end ETL: Messages/Connections/per-type tables (two_messages_test analog)") {
    val path = writeFixtureBag(2, messagesPerChunk = 10)
    val out = Files.createTempDirectory("graft_etl").toString + "/out"
    val info = graft.ros.etl.BagEtl.run(spark, path, out)
    assert(info.count == 2)

    val messages = spark.read.parquet(s"$out/Messages.parquet")
    assert(messages.count() == 2)
    // seqno starts at 0 and moves forward (rosbag2parquet_test.cpp:213-218)
    val seqnos = messages.orderBy("time_sec").select("seqno").collect().map(_.getLong(0))
    assert(seqnos.toSeq == Seq(0L, 1L))

    val conns = spark.read.parquet(s"$out/Connections.parquet")
    assert(conns.count() == 1)
    assert(conns.head().getAs[String]("topic") == "/imu_data")

    val imu = spark.read.parquet(s"$out/sensor_msgs_Imu.parquet")
    assert(imu.count() == 2)
    // frame: seqno + flattened + connection_id + data (MessageTable.cpp:326-343)
    assert(imu.schema.fieldNames.head == "seqno")
    assert(imu.schema.fieldNames.takeRight(3).toSeq == Seq("connection_id", "bag_path", "data"))
    val r = imu.filter(col("seqno") === 1).head()
    assert(r.getAs[String]("header_frame_id") == "frame1")
    assert(r.getAs[Double]("linear_acceleration_x") == 0.5)
    // connection_id consistent across tables (rosbag2parquet_test.cpp:220-234)
    assert(r.getAs[Int]("connection_id") ==
      messages.head().getAs[Int]("connection_id"))
    // blob round-trip through the decoder
    val vals = RosSchemaMapper.decode(imuBundle, r.getAs[Array[Byte]]("data"))
    assert(vals(3) == "frame1")

    // DDL side-output exists and mentions the table (utils.h:99-136)
    val ddl = Files.readString(Paths.get(s"$out/vertica_load_tables.sql"))
    assert(ddl.contains("CREATE TABLE sensor_msgs_Imu"))
    assert(ddl.contains("header_frame_id VARCHAR(65000)"))

    // output-dir versioning (main.cpp:38-54)
    assert(graft.ros.etl.BagEtl.versionedOutputDir(out) == s"$out.1")
  }

  test("single-pass ETL produces tables identical to per-type scans") {
    // two datatypes + compressed chunks: one scan decompresses each chunk
    // once and routes it to both tables
    import graft.ros.etl.EtlBench
    val imgBundle = MsgDefParser.parse("sensor_msgs/CompressedImage",
      EtlBench.compressedImageDef)
    val conns = Seq(
      BagConnection(0, "/cam", "sensor_msgs/CompressedImage", "md5img",
        EtlBench.compressedImageDef, "/cam"),
      BagConnection(1, "/imu_data", "sensor_msgs/Imu", Fixtures.imuMd5,
        Fixtures.imuDef, "/imu"))
    val msgs = (0 until 12).flatMap { i =>
      val img = RosSchemaMapper.encode(imgBundle, Seq(
        i.toLong, 1700000000 + i, 0, "cam", "jpeg", Array.fill(64)(i.toByte)))
      Seq(WriteMessage(0, 1700000000 + i, 0, img),
          WriteMessage(1, 1700000000 + i, 1, imuBytes(i.toLong, 1700000000 + i, 1,
            s"frame$i", i * 0.5)))
    }
    val bag = Files.createTempFile("graft_staged", ".bag")
    Files.write(bag, BagFormat.writeBag(conns, msgs, messagesPerChunk = 4,
      compression = "lz4"))
    val base = Files.createTempDirectory("graft_staged").toString
    graft.ros.etl.BagEtlReference.run(spark, bag.toString, s"$base/scan")
    graft.ros.etl.BagEtl.run(spark, bag.toString, s"$base/staged")

    for (t <- Seq("Messages", "sensor_msgs_Imu", "sensor_msgs_CompressedImage")) {
      val a = spark.read.parquet(s"$base/scan/$t.parquet")
      val b = spark.read.parquet(s"$base/staged/$t.parquet")
      assert(a.schema.map(f => (f.name, f.dataType)) ==
             b.schema.map(f => (f.name, f.dataType)), s"$t schema")
      val key = a.columns.head   // seqno
      val rowsA = a.orderBy(key).collect()
      val rowsB = b.orderBy(key).collect()
      assert(rowsA.length == rowsB.length, s"$t rows")
      rowsA.zip(rowsB).foreach { case (ra, rb) =>
        ra.toSeq.zip(rb.toSeq).zip(a.columns).foreach {
          case ((x: Array[Byte], y: Array[Byte]), c) =>
            assert(java.util.Arrays.equals(x, y), s"$t.$c")
          case ((x, y), c) => assert(x == y, s"$t.$c")
        }
      }
    }
    // staging dirs are cleaned up
    assert(!Files.exists(Paths.get(s"$base/staged/_spine")) &&
      !Files.exists(Paths.get(s"$base/staged/_temporary")))
  }

  test("decodeRows re-materializes blobs into typed columns (SURVEY 7.7)") {
    val path = writeFixtureBag(3, messagesPerChunk = 10)
    val out = Files.createTempDirectory("graft_rem").toString + "/out"
    graft.ros.etl.BagEtl.run(spark, path, out)
    // take only (seqno, connection_id, bag_path, data) — as a downstream
    // consumer holding raw blobs would — and decode back to typed columns
    val blobs = spark.read.parquet(s"$out/sensor_msgs_Imu.parquet")
      .select("seqno", "connection_id", "bag_path", "data")
    val typed = graft.ros.etl.BagEtl.decodeRows(spark, blobs, imuBundle)
    assert(typed.count() == 3)
    assert(typed.filter(col("seqno") === 2).head()
      .getAs[String]("header_frame_id") == "frame2")
  }

  test("keepRawBlob=false drops the duplicate blob column") {
    val path = writeFixtureBag(2, messagesPerChunk = 10)
    val out = Files.createTempDirectory("graft_lean").toString + "/out"
    graft.ros.etl.BagEtl.run(spark, path, out, keepRawBlob = false)
    val imu = spark.read.parquet(s"$out/sensor_msgs_Imu.parquet")
    assert(!imu.schema.fieldNames.contains("data"))
    assert(imu.schema.fieldNames.takeRight(2).toSeq == Seq("connection_id", "bag_path"))
    assert(imu.filter(col("seqno") === 1).head()
      .getAs[String]("header_frame_id") == "frame1")
  }

  test("header_stamp columns: sensor time from the wire prefix, null for headerless types") {
    // Imu (Header first field) with header stamp DIFFERENT from bag
    // receipt time, plus a headerless Vector3 connection.
    val vecDef = "float64 x\nfloat64 y\nfloat64 z\n"
    val vecBundle = MsgDefParser.parse("geometry_msgs/Vector3", vecDef)
    val connImu = BagConnection(0, "/imu", "sensor_msgs/Imu", Fixtures.imuMd5,
      Fixtures.imuDef, "")
    val connVec = BagConnection(1, "/vec", "geometry_msgs/Vector3",
      "cc153912f1453b708d221682bc23d9ac", vecDef, "")
    val msgs = Seq(
      // receipt 2000000000, header stamp 1500000000.42 — sensor lag
      WriteMessage(0, 2000000000, 7, imuBytes(5, 1500000000, 42, "f", 1.0)),
      WriteMessage(1, 2000000001, 0,
        RosSchemaMapper.encode(vecBundle, Seq(1.0, 2.0, 3.0))))
    val bytes = BagFormat.writeBag(Seq(connImu, connVec), msgs, messagesPerChunk = 10)
    val p = Files.createTempFile("graft_hdr", ".bag"); Files.write(p, bytes)

    val df = spark.read.format("rosbag").load(p.toString)
    val imuRow = df.filter(col("connection_id") === 0)
      .select("header_stamp_sec", "header_stamp_nsec", "time_sec").head()
    assert(imuRow.getInt(0) == 1500000000 && imuRow.getInt(1) == 42)
    assert(imuRow.getInt(2) == 2000000000)  // receipt time untouched
    val vecRow = df.filter(col("connection_id") === 1)
      .select("header_stamp_sec", "header_stamp_nsec").head()
    assert(vecRow.isNullAt(0) && vecRow.isNullAt(1))

    // ETL carries the stamp into the Messages spine
    val out = Files.createTempDirectory("graft_hdr_etl").toString + "/out"
    graft.ros.etl.BagEtl.run(spark, p.toString, out)
    val m = spark.read.parquet(s"$out/Messages.parquet").orderBy("seqno").collect()
    assert(m(0).getAs[Int]("header_stamp_sec") == 1500000000)
    assert(m(1).isNullAt(m(1).fieldIndex("header_stamp_sec")))
  }

  test("blobSideTable externalizes big blobs into <type>_blobs.parquet keyed by seqno") {
    val path = writeFixtureBag(3, messagesPerChunk = 10)
    val out = Files.createTempDirectory("graft_blobs").toString + "/out"
    // Imu blobs are ~300 bytes; a 100-byte threshold externalizes all
    graft.ros.etl.BagEtl.run(spark, path, out,
      blobSideTable = true, blobThreshold = 100)

    val imu = spark.read.parquet(s"$out/sensor_msgs_Imu.parquet")
    assert(imu.schema.fieldNames.contains("data_externalized"))
    assert(imu.filter(col("data").isNotNull).count() == 0)  // slim main
    assert(imu.filter(col("data_externalized")).count() == 3)

    val side = spark.read.parquet(s"$out/sensor_msgs_Imu_blobs.parquet")
    assert(side.schema.fieldNames.toSeq == Seq("seqno", "data"))
    assert(side.count() == 3)

    // join back on seqno and decode — the round trip is lossless
    val r = imu.drop("data").join(side, "seqno")
      .filter(col("seqno") === 2).head()
    val vals = RosSchemaMapper.decode(imuBundle, r.getAs[Array[Byte]]("data"))
    assert(vals(3) == "frame2")

    val ddl = Files.readString(Paths.get(s"$out/vertica_load_tables.sql"))
    assert(ddl.contains("CREATE TABLE sensor_msgs_Imu_blobs"))

    // a threshold above the blob size keeps everything inline
    val out2 = Files.createTempDirectory("graft_blobs2").toString + "/out"
    graft.ros.etl.BagEtl.run(spark, path, out2,
      blobSideTable = true, blobThreshold = 1 << 20)
    val imu2 = spark.read.parquet(s"$out2/sensor_msgs_Imu.parquet")
    assert(imu2.filter(col("data").isNotNull).count() == 3)
    assert(spark.read.parquet(s"$out2/sensor_msgs_Imu_blobs.parquet").count() == 0)

    intercept[IllegalArgumentException] {
      graft.ros.etl.BagEtl.run(spark, path, out + "_x",
        keepRawBlob = false, blobSideTable = true)
    }
  }

  test("data_crc32: per-message CRC32 + per-file xor (reference TODO rosbag2parquet.cpp:28)") {
    val path = writeFixtureBag(4, messagesPerChunk = 2)
    val df = spark.read.format("rosbag").load(path)
    // the column matches java.util.zip.CRC32 of the raw bytes, row by row
    val rows = df.select("data_crc32", "data").collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val c = new java.util.zip.CRC32()
      c.update(r.getAs[Array[Byte]]("data"))
      assert(r.getLong(0) == c.getValue)
    }
    // ETL carries it into Messages; Info.crcXor is the xor of all of them
    val out = Files.createTempDirectory("graft_crc").toString + "/out"
    val info = graft.ros.etl.BagEtl.run(spark, path, out)
    val fromSpine = spark.read.parquet(s"$out/Messages.parquet")
      .select("data_crc32").collect().map(_.getLong(0))
    assert(fromSpine.sorted.toSeq == rows.map(_.getLong(0)).sorted.toSeq)
    assert(info.crcXor == fromSpine.reduce(_ ^ _))
    // a flipped payload byte changes the per-message CRC (and so the file xor)
    val corrupted = rows.head.getAs[Array[Byte]]("data").clone()
    corrupted(20) = (corrupted(20) ^ 0xFF).toByte
    val c2 = new java.util.zip.CRC32(); c2.update(corrupted)
    assert(c2.getValue != rows.head.getLong(0))
  }

  test("nativeTimestamp emits a parquet TIMESTAMP alongside sec/nsec (TODO rosbag2parquet.cpp:31)") {
    val path = writeFixtureBag(2, messagesPerChunk = 10)
    val out = Files.createTempDirectory("graft_ts").toString + "/out"
    // run under a NON-UTC session: the stored NTZ value must be the
    // bag's recorded UTC wall clock regardless of writer timezone
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try graft.ros.etl.BagEtl.run(spark, path, out, nativeTimestamp = true)
    finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    val m = spark.read.parquet(s"$out/Messages.parquet").orderBy("seqno")
    assert(m.schema("time").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // sec/nsec pair is retained (load-time compatibility) and `time`
    // floors to micros: msg 1 has time_nsec = 1000 → 1 micro
    val r = m.collect()(1)
    assert(r.getAs[Int]("time_sec") == 1700000001 && r.getAs[Int]("time_nsec") == 1000)
    assert(r.getAs[java.time.LocalDateTime]("time") ==
      java.time.LocalDateTime.ofEpochSecond(1700000001L, 1000, java.time.ZoneOffset.UTC))
  }

  test("corrupt and truncated bags fail loudly or degrade to the tail-scan semantics") {
    // not a bag at all / shorter than the magic
    val junk = Files.createTempFile("graft_junk", ".bag")
    Files.write(junk, "#ROSBAG".getBytes)   // truncated magic
    val e1 = intercept[IllegalArgumentException] {
      BagFormat.scanIndex(() => Files.newInputStream(junk))
    }
    assert(e1.getMessage.contains("not a ROS bag"))

    val good = writeFixtureBag(4, messagesPerChunk = 2)
    val bytes = Files.readAllBytes(Paths.get(good))

    // a flipped length prefix must say "corrupt bag", not NegativeArraySize/OOM.
    // The first record starts right after the 13-byte magic; forge its hlen.
    val corrupt = bytes.clone()
    corrupt(13) = 0xFF.toByte; corrupt(14) = 0xFF.toByte
    corrupt(15) = 0xFF.toByte; corrupt(16) = 0xFF.toByte
    val cPath = Files.createTempFile("graft_corrupt", ".bag")
    Files.write(cPath, corrupt)
    val e2 = intercept[IllegalArgumentException] {
      BagFormat.scanIndex(() => Files.newInputStream(cPath))
    }
    assert(e2.getMessage.contains("corrupt bag"))

    // truncation mid-record = a bag still being written: the scan keeps
    // every complete record instead of failing (tailing semantics)
    val trunc = Files.createTempFile("graft_trunc", ".bag")
    Files.write(trunc, bytes.take(bytes.length - 7))
    val idx = BagFormat.scanIndex(() => Files.newInputStream(trunc))
    assert(idx.connections.nonEmpty)
  }

  test("seqno is merge-time order across chunks, not storage order") {
    // two connections, interleaved timestamps, one chunk each
    val conn0 = BagConnection(0, "/a", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "")
    val conn1 = BagConnection(1, "/b", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "")
    val msgs = Seq(
      WriteMessage(0, 100, 0, imuBytes(0, 100, 0, "a0", 0)),
      WriteMessage(0, 300, 0, imuBytes(1, 300, 0, "a1", 0)),
      WriteMessage(1, 200, 0, imuBytes(2, 200, 0, "b0", 0)),
      WriteMessage(1, 400, 0, imuBytes(3, 400, 0, "b1", 0)))
    val bytes = BagFormat.writeBag(Seq(conn0, conn1), msgs, messagesPerChunk = 2)
    val p = Files.createTempFile("graft_test2", ".bag"); Files.write(p, bytes)
    val out = Files.createTempDirectory("graft_etl2").toString + "/out"
    graft.ros.etl.BagEtl.run(spark, p.toString, out)
    val m = spark.read.parquet(s"$out/Messages.parquet")
      .orderBy("seqno").select("time_sec").collect().map(_.getInt(0))
    assert(m.toSeq == Seq(100, 200, 300, 400))
  }

  test("maxMessages = n keeps the first n messages in merge-time order, on both seqno paths") {
    // two overlapping chunks (times 100,300 | 200,400): one ~6 KB
    // overlap group, so a 2 KB partition budget forces the Seqno fallback
    val conn = BagConnection(0, "/a", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "")
    val msgs = Seq(100, 300, 200, 400).zipWithIndex.map { case (t, i) =>
      WriteMessage(0, t, 0, imuBytes(i.toLong, t, 0, s"m$i", 0)) }
    val p = Files.createTempFile("graft_maxmsgs", ".bag")
    Files.write(p, BagFormat.writeBag(Seq(conn), msgs, messagesPerChunk = 2))
    def firstThree(conf: Seq[(String, String)]): Unit = {
      val out = Files.createTempDirectory("graft_maxmsgs").toString + "/out"
      val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val info = try graft.ros.etl.BagEtl.run(spark, p.toString, out, maxMessages = Some(3L))
        finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      assert(info.count == 3)
      Seq("Messages" -> "time_sec", "sensor_msgs_Imu" -> "header_stamp_sec").foreach {
        case (t, time) =>
        val r = spark.read.parquet(s"$out/$t.parquet").orderBy("seqno")
          .select("seqno", time).collect().map(x => (x.getLong(0), x.getInt(1)))
        assert(r.toSeq == Seq((0L, 100), (1L, 200), (2L, 300)), s"$t under $conf")
      }
    }
    firstThree(Nil)
    firstThree(Seq("spark.sql.files.maxPartitionBytes" -> "2048",
      "spark.graft.chunkOpenCostBytes" -> "0"))
  }

  test("multi-bag directory: pruned spine, md5-namespaced tables, per-bag ETL equivalence") {
    // three bags in one dir; bag c's test_msgs/Point definition drifted
    // (SURVEY §7.4.3: a fleet with a mid-life message-definition change)
    val dir = Files.createTempDirectory("graft_multibag")
    val ptDefV1 = "float64 x\nfloat64 y\n"
    val ptDefV2 = "float64 x\nfloat64 y\nfloat64 z\n"
    def ptBytes(d: String, vals: Seq[Any]) =
      RosSchemaMapper.encode(MsgDefParser.parse("test_msgs/Point", d), vals)
    def writeBagFile(name: String, ptDef: String, md5: String, base: Int,
                     withZ: Boolean): String = {
      val connImu = BagConnection(0, "/imu_data", "sensor_msgs/Imu",
        Fixtures.imuMd5, Fixtures.imuDef, "/n")
      val connPt = BagConnection(1, "/pt", "test_msgs/Point", md5, ptDef, "/n")
      val msgs = (0 until 4).map { i =>
        if (i % 2 == 0)
          WriteMessage(0, base + i, 0, imuBytes(i.toLong, base + i, 0, s"f$i", i * 0.5))
        else WriteMessage(1, base + i, 0, ptBytes(ptDef,
          if (withZ) Seq(i * 1.0, i * 2.0, i * 3.0) else Seq(i * 1.0, i * 2.0)))
      }
      val p = dir.resolve(name)
      Files.write(p, BagFormat.writeBag(Seq(connImu, connPt), msgs, messagesPerChunk = 2))
      p.toString
    }
    val bagA = writeBagFile("a.bag", ptDefV1, "md5v1", 1700000000, withZ = false)
    val bagB = writeBagFile("b.bag", ptDefV1, "md5v1", 1700000100, withZ = false)
    val bagC = writeBagFile("c.bag", ptDefV2, "md5v2", 1700000200, withZ = true)

    // one consistent spine over the dir, one partition per (bag, chunk)
    val spine = spark.read.format("rosbag").load(dir.toString)
    assert(spine.count() == 12)
    assert(spine.select("bag_path").distinct().count() == 3)
    // bag_path equality prunes WHOLE bags at planning time: same
    // partition count as loading that single bag directly
    val one = spine.filter(col("bag_path") === spark.read.format("rosbag")
      .load(bagB).select("bag_path").head().getString(0))
    assert(one.count() == 4)
    assert(one.rdd.getNumPartitions ==
      spark.read.format("rosbag").load(bagB).rdd.getNumPartitions)

    // typed read over a drifted datatype must not silently pick a def
    val err = intercept[Exception] {
      spark.read.format("rosbag").option("datatype", "test_msgs/Point")
        .load(dir.toString)
    }
    assert(err.getMessage.contains("variants"))
    val v1 = spark.read.format("rosbag").option("datatype", "test_msgs/Point")
      .option("md5", "md5v1").load(dir.toString)
    assert(v1.count() == 4 && !v1.columns.contains("z"))
    val v2 = spark.read.format("rosbag").option("datatype", "test_msgs/Point")
      .option("md5", "md5v2").load(dir.toString)
    assert(v2.count() == 2 && v2.columns.contains("z"))

    // ETL over the dir: dense global seqno, per-(datatype, md5)
    // namespaced tables for the drifted type
    val out = Files.createTempDirectory("graft_mb_out").toString + "/out"
    graft.ros.etl.BagEtl.run(spark, dir.toString, out)
    val names = new java.io.File(out).listFiles.map(_.getName).toSet
    assert(names.contains("sensor_msgs_Imu.parquet"))
    assert(names.contains("test_msgs_Point__md5v1.parquet"))
    assert(names.contains("test_msgs_Point__md5v2.parquet"))
    val messages = spark.read.parquet(s"$out/Messages.parquet")
    assert(messages.count() == 12)
    assert(messages.agg(min("seqno"), max("seqno")).head() == Row(0L, 11L))
    assert(spark.read.parquet(s"$out/test_msgs_Point__md5v2.parquet")
      .columns.contains("z"))

    // dir ETL == per-bag ETLs unioned, modulo the global seqno
    val dirImu = spark.read.parquet(s"$out/sensor_msgs_Imu.parquet").drop("seqno")
    val perBag = Seq(bagA, bagB, bagC).map { b =>
      val o = Files.createTempDirectory("graft_sb_out").toString + "/out"
      graft.ros.etl.BagEtl.run(spark, b, o)
      spark.read.parquet(s"$o/sensor_msgs_Imu.parquet").drop("seqno")
    }.reduce(_ unionByName _)
    assert(dirImu.exceptAll(perBag).isEmpty && perBag.exceptAll(dirImu).isEmpty)
  }

  test("incremental ETL: new bags append with continued seqnos and stable naming") {
    val dir = Files.createTempDirectory("graft_incr")
    val ptDefV1 = "float64 x\nfloat64 y\n"
    val ptDefV2 = "float64 x\nfloat64 y\nfloat64 z\n"
    def ptBytes(d: String, vals: Seq[Any]) =
      RosSchemaMapper.encode(MsgDefParser.parse("test_msgs/Point", d), vals)
    def writeBagFile(name: String, ptDef: String, md5: String, base: Int,
                     withZ: Boolean): Unit = {
      val connImu = BagConnection(0, "/imu_data", "sensor_msgs/Imu",
        Fixtures.imuMd5, Fixtures.imuDef, "/n")
      val connPt = BagConnection(1, "/pt", "test_msgs/Point", md5, ptDef, "/n")
      val msgs = (0 until 4).map { i =>
        if (i % 2 == 0)
          WriteMessage(0, base + i, 0, imuBytes(i.toLong, base + i, 0, s"f$i", i * 0.5))
        else WriteMessage(1, base + i, 0, ptBytes(ptDef,
          if (withZ) Seq(i * 1.0, i * 2.0, i * 3.0) else Seq(i * 1.0, i * 2.0)))
      }
      Files.write(dir.resolve(name),
        BagFormat.writeBag(Seq(connImu, connPt), msgs, messagesPerChunk = 2))
      ()
    }
    import graft.ros.etl.BagEtl
    val out = Files.createTempDirectory("graft_incr_out").toString + "/out"

    writeBagFile("a.bag", ptDefV1, "md5v1", 1700000000, withZ = false)
    // bootstrap through runIncremental on a PRE-CREATED empty dir: the
    // tables must land in `out` itself (a versioned-dir redirect to
    // out.1 would mean incremental mode never engages afterwards)
    Files.createDirectories(Paths.get(out))
    val full = BagEtl.runIncremental(spark, dir.toString, out)
    assert(full.count == 4)
    assert(Files.exists(Paths.get(s"$out/Messages.parquet")))
    assert(!Files.exists(Paths.get(s"$out.1")))

    // two new bags arrive: one same-variant, one with a DRIFTED Point
    writeBagFile("b.bag", ptDefV1, "md5v1", 1700000100, withZ = false)
    writeBagFile("c.bag", ptDefV2, "md5v2", 1700000200, withZ = true)
    val inc = BagEtl.runIncremental(spark, dir.toString, out)
    assert(inc.count == 8)  // only b + c converted

    // spine: all 12 rows, seqno dense and unique across increments
    val m = spark.read.parquet(s"$out/Messages.parquet")
    assert(m.count() == 12)
    assert(m.select("seqno").distinct().count() == 12)
    assert(m.agg(min("seqno"), max("seqno")).head() == Row(0L, 11L))
    // a.bag's rows were not rewritten: its seqnos are still 0..3
    assert(m.filter(col("bag_path").endsWith("a.bag"))
      .agg(max("seqno")).head().getLong(0) == 3L)

    // naming stable: v1 keeps the historical plain table (a+b rows),
    // the new variant lands namespaced; imu accumulates all bags
    assert(spark.read.parquet(s"$out/test_msgs_Point.parquet").count() == 4)
    assert(spark.read.parquet(s"$out/test_msgs_Point__md5v2.parquet").count() == 2)
    assert(spark.read.parquet(s"$out/sensor_msgs_Imu.parquet").count() == 6)
    assert(spark.read.parquet(s"$out/Connections.parquet").count() == 6)

    // DDL has exactly one CREATE per table across increments
    val ddl = new String(Files.readAllBytes(Paths.get(s"$out/vertica_load_tables.sql")))
    assert("CREATE TABLE test_msgs_Point ".r.findAllIn(ddl).size == 1)
    assert("CREATE TABLE sensor_msgs_Imu ".r.findAllIn(ddl).size == 1)
    assert("CREATE TABLE test_msgs_Point__md5v2 ".r.findAllIn(ddl).size == 1)

    // quiescent dir: a no-op increment changes nothing
    val none = BagEtl.runIncremental(spark, dir.toString, out)
    assert(none.count == 0)
    assert(spark.read.parquet(s"$out/Messages.parquet").count() == 12)
  }

  test("incremental ETL converts a zero-message bag exactly once (done-set covers Connections)") {
    import graft.ros.etl.BagEtl
    val dir = Files.createTempDirectory("graft_zero")
    // normal bag + a bag holding a CONNECTION but no messages (a real
    // shape: a recorder subscribed to a topic that never published).
    // The done-set must commit it via Connections.bag_path — a
    // Messages-only done-set re-converts it every increment and the
    // duplicate Connections rows multiply every msg↔conn join.
    Files.write(dir.resolve("a.bag"), BagFormat.writeBag(
      Seq(BagConnection(0, "/imu_data", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/n")),
      (0 until 3).map(i => WriteMessage(0, 1700000000 + i, 0,
        imuBytes(i.toLong, 1700000000 + i, 0, s"f$i", i * 0.5))),
      messagesPerChunk = 2))
    Files.write(dir.resolve("empty.bag"), BagFormat.writeBag(
      Seq(BagConnection(0, "/silent", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/n")),
      Seq.empty, messagesPerChunk = 2))
    val out = Files.createTempDirectory("graft_zero_out").toString + "/out"
    Files.createDirectories(Paths.get(out))
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    val conns1 = spark.read.parquet(s"$out/Connections.parquet")
    assert(conns1.count() == 2)
    assert(conns1.filter(col("topic") === "/silent").count() == 1)
    // re-run on the unchanged dir: NOTHING is re-converted — the
    // zero-message bag is committed, Connections rows stay unique
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 0)
    val conns2 = spark.read.parquet(s"$out/Connections.parquet")
    assert(conns2.count() == 2, "zero-message bag was re-converted: duplicate Connections rows")
    // and a genuinely new bag still appends
    Files.write(dir.resolve("b.bag"), BagFormat.writeBag(
      Seq(BagConnection(0, "/imu_data", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/n")),
      Seq(WriteMessage(0, 1700000100, 0, imuBytes(9L, 1700000100, 0, "f9", 0.9))),
      messagesPerChunk = 2))
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 1)
    assert(spark.read.parquet(s"$out/Connections.parquet").count() == 3)
    assert(spark.read.parquet(s"$out/Messages.parquet").count() == 4)
  }

  test("compact: N increments' small files rewrite to target size with identical rows") {
    import graft.ros.etl.BagEtl
    val dir = Files.createTempDirectory("graft_cpt")
    def addBag(name: String, base: Int): Unit = {
      Files.write(dir.resolve(name), BagFormat.writeBag(
        Seq(BagConnection(0, "/imu_data", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/n")),
        (0 until 4).map(i => WriteMessage(0, base + i, 0,
          imuBytes(i.toLong, base + i, 0, s"f$i", i * 0.5))),
        messagesPerChunk = 2))
      ()
    }
    val out = Files.createTempDirectory("graft_cpt_out").toString + "/out"
    Files.createDirectories(Paths.get(out))
    // four increments → ≥4 files per table (each append adds its own)
    (0 until 4).foreach { k =>
      addBag(s"inc$k.bag", 1700000000 + k * 100)
      assert(BagEtl.runIncremental(spark, dir.toString, out).count == 4)
    }
    def parts(t: String) = Paths.get(s"$out/$t.parquet").toFile.listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(parts("Messages") >= 4, "fixture should have accumulated small files")
    val beforeM = spark.read.parquet(s"$out/Messages.parquet").cache()
    val beforeI = spark.read.parquet(s"$out/sensor_msgs_Imu.parquet").cache()
    beforeM.count(); beforeI.count()

    val stats = BagEtl.compact(spark, out)   // default 128MB target → 1 file each
    assert(stats.exists(s => s.table == "Messages.parquet" && s.rewritten))
    // the commit record (Connections) is compacted last
    assert(stats.last.table == "Connections.parquet")
    assert(parts("Messages") == 1 && parts("sensor_msgs_Imu") == 1)

    // rows identical both ways, seqnos still dense and unique
    val afterM = spark.read.parquet(s"$out/Messages.parquet")
    val afterI = spark.read.parquet(s"$out/sensor_msgs_Imu.parquet")
    assert(afterM.exceptAll(beforeM).isEmpty && beforeM.exceptAll(afterM).isEmpty)
    assert(afterI.exceptAll(beforeI).isEmpty && beforeI.exceptAll(afterI).isEmpty)
    assert(afterM.select("seqno").distinct().count() == 16)

    // idempotent: a second compact rewrites nothing
    assert(BagEtl.compact(spark, out).forall(!_.rewritten))

    // a subsequent increment still appends correctly after compaction
    addBag("inc4.bag", 1700000400)
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 4)
    val m5 = spark.read.parquet(s"$out/Messages.parquet")
    assert(m5.count() == 20 && m5.agg(max("seqno")).head().getLong(0) == 19L)
    assert(spark.read.parquet(s"$out/Connections.parquet").count() == 5)
    beforeM.unpersist(); beforeI.unpersist()
    ()
  }

  test("compact recovery: a table stranded in trash by a crash is restored") {
    import graft.ros.etl.BagEtl
    val dir = Files.createTempDirectory("graft_cptr")
    Files.write(dir.resolve("a.bag"), BagFormat.writeBag(
      Seq(BagConnection(0, "/imu_data", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/n")),
      (0 until 3).map(i => WriteMessage(0, 1700000000 + i, 0,
        imuBytes(i.toLong, 1700000000 + i, 0, s"f$i", i * 0.5))),
      messagesPerChunk = 2))
    val out = Files.createTempDirectory("graft_cptr_out").toString + "/out"
    Files.createDirectories(Paths.get(out))
    BagEtl.runIncremental(spark, dir.toString, out)
    // simulate a crash between swap renames: live table moved to trash,
    // replacement never swapped in
    val trash = Paths.get(s"$out/.compact_trash")
    Files.createDirectories(trash)
    Files.move(Paths.get(s"$out/Messages.parquet"), trash.resolve("Messages.parquet"))
    assert(!Files.exists(Paths.get(s"$out/Messages.parquet")))
    BagEtl.compact(spark, out)
    assert(spark.read.parquet(s"$out/Messages.parquet").count() == 3,
      "recovery preamble must restore the stranded table")
    assert(!Files.exists(trash))
  }

  test("compact refuses a streaming-sink table dir (_spark_metadata)") {
    import graft.ros.etl.BagEtl
    val out = Files.createTempDirectory("graft_cpts").toString
    Files.createDirectories(Paths.get(s"$out/sink.parquet/_spark_metadata"))
    val e = intercept[IllegalArgumentException] { BagEtl.compact(spark, out) }
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("count(*) and groupBy(topic).count() answer from chunk-info counts (agg pushdown)") {
    val dir = Files.createTempDirectory("graft_bag_agg").toFile
    val strDef = "string data"
    val strBundle = MsgDefParser.parse("std_msgs/String", strDef)
    val conns = Seq(
      BagConnection(0, "/a", "std_msgs/String", "m1", strDef, "c"),
      BagConnection(1, "/b", "std_msgs/String", "m1", strDef, "c"))
    val msgs = (0 until 9).map { i =>
      WriteMessage(i % 2, 1700000000 + i, 0,
        RosSchemaMapper.encode(strBundle, Seq(s"v$i")))
    }
    Files.write(new java.io.File(dir, "x.bag").toPath,
      BagFormat.writeBag(conns, msgs, messagesPerChunk = 4))
    val df = spark.read.format("rosbag").load(dir.getAbsolutePath)
    assert(df.count() === 9)
    val agg = df.groupBy("topic").count()
    assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("/a" -> 5L, "/b" -> 4L))
    // plan-visible: served from chunk-info counts, no chunk read
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("metadataAgg=true"), plan)
    // grouping by connection_id and bag_path both push
    val byConn = df.groupBy("connection_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byConn === Map(0 -> 5L, 1 -> 4L))
    // a filter blocks the metadata path; the normal scan answers
    val filtered = df.filter(col("connection_id") === 0).count()
    assert(filtered === 5)

    // ungrouped min/max(time_sec) answers from chunk-info start/end
    // times — the full "rosbag info" scalar block from metadata
    val mm = df.agg(count(lit(1)).as("n"),
      min(col("time_sec")).as("mn"), max(col("time_sec")).as("mx"))
    val mmPlan = mm.queryExecution.executedPlan.toString
    assert(mmPlan.contains("metadataAgg=true"), mmPlan)
    val r = mm.collect().head
    assert((r.getLong(0), r.getInt(1), r.getInt(2)) ===
      ((9L, 1700000000, 1700000008)))
    // time_nsec's extreme is NOT the extreme message's nsec — refuse
    val nsec = df.agg(min(col("time_nsec")))
    assert(!nsec.queryExecution.executedPlan.toString.contains("metadataAgg"))
    assert(nsec.collect().head.getInt(0) === 0)
    // grouped min/max has no per-connection range metadata — refuse
    val grouped = df.groupBy("topic").agg(min(col("time_sec")).as("mn"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("metadataAgg"))
    assert(grouped.collect().map(x => x.getString(0) -> x.getInt(1)).toMap ===
      Map("/a" -> 1700000000, "/b" -> 1700000001))
  }

  test("count(*) pushdown over a fleet with zero count units returns 0, not null") {
    // ADVICE r10: a bag with a connection but no chunks contributes no
    // count units; zero partial rows made Spark's final SUM null
    val dir = Files.createTempDirectory("graft_bag_zero_agg").toFile
    Files.write(new java.io.File(dir, "e.bag").toPath, BagFormat.writeBag(
      Seq(BagConnection(0, "/silent", "std_msgs/String", "m1", "string data", "c")),
      Seq.empty, messagesPerChunk = 2))
    val df = spark.read.format("rosbag").load(dir.getAbsolutePath)
    val cnt = df.agg(count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    assert(cnt.collect().head.getLong(0) === 0L)
    assert(df.count() === 0L)
    // grouped count: no groups, still pushed
    assert(df.groupBy("topic").count().collect().isEmpty)
  }

  test("runtime filters prune bags via the connection catalog; stats report bytes") {
    // two bags with disjoint topics — a topic filter (static or
    // runtime via the DPP path) must drop the other bag's chunks
    val dir = Files.createTempDirectory("graft_bag_rt").toFile
    def writeTopic(name: String, topic: String): Unit = {
      val conn = BagConnection(0, topic, "sensor_msgs/Imu", Fixtures.imuMd5,
        Fixtures.imuDef, "/n")
      val msgs = (0 until 4).map { i =>
        WriteMessage(0, 1700000000 + i, 0, imuBytes(i.toLong, 1700000000 + i,
          0, s"f$i", i * 1.0))
      }
      Files.write(new java.io.File(dir, name).toPath,
        BagFormat.writeBag(Seq(conn), msgs, messagesPerChunk = 2))
      ()
    }
    writeTopic("a.bag", "/alpha"); writeTopic("b.bag", "/beta")
    import org.apache.spark.sql.sources.{EqualTo, In}
    def scan(fs: org.apache.spark.sql.sources.Filter*) =
      new graft.ros.ContainerSource.ContainerScan(new RosbagRead(dir.getAbsolutePath, None, false),
        RosbagDataSource.SpineSchema, fs.toArray, -1)()
    val all = scan().planInputPartitions()
    val static = scan(EqualTo("topic", "/alpha")).planInputPartitions()
    assert(static.nonEmpty && static.length < all.length)
    assert(static.map(_.asInstanceOf[RosbagInputPartition].path).distinct
      .forall(_.endsWith("a.bag")))
    val rt = scan()
    assert(rt.filterAttributes().map(_.describe()).toSet ===
      Set("bag_path", "topic", "datatype", "connection_id"))
    rt.filter(Array[org.apache.spark.sql.sources.Filter](In("topic", Array[Any]("/beta"))))
    val pruned = rt.planInputPartitions()
    assert(pruned.nonEmpty && pruned.length < all.length)
    assert(pruned.map(_.asInstanceOf[RosbagInputPartition].path).distinct
      .forall(_.endsWith("b.bag")))
    val bytes = dir.listFiles().filter(_.getName.endsWith(".bag")).map(_.length).sum
    assert(scan().estimateStatistics().sizeInBytes().getAsLong === bytes)
    assert(spark.read.format("rosbag").load(dir.getAbsolutePath)
      .filter(col("topic") === "/alpha").count() === 4)
  }

  test("bagsSpec rejects a bag path containing a newline instead of splitting it") {
    val e = intercept[IllegalArgumentException] {
      graft.ros.ContainerSource.filesSpec(Seq("/ok/a.bag", "/bad/with\nnewline.bag"))
    }
    assert(e.getMessage.contains("newline"))
    assert(graft.ros.ContainerSource.filesSpec(Seq("/a.bag", "/b.bag")) == "/a.bag\n/b.bag")
  }
}
