package graft.ros

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.ros.mcap.{CdrCodec, McapFormat, McapStreamingWriter, Ros2Msg}
import graft.ros.db3.SqliteFormat

/** Fleet-scale convert: a mixed directory normalizes into ONE target
  * container format, payload byte-exact, timestamps re-encoded per
  * target convention, transforms applied in between.
  */
class ConvertSpec extends SparkTestBase {

  private val strDef = "string data"

  private lazy val mixedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_convert").toFile
    import graft.ros.bag.BagFormat
    val r1 = MsgDefParser.parse("std_msgs/String", strDef)
    java.nio.file.Files.write(new java.io.File(dir, "a.bag").toPath,
      BagFormat.writeBag(
        // genuine md5, as real recorders write: the sinks now preserve
        // each file's own (md5, definition) truth per connection
        Seq(BagFormat.BagConnection(0, "/bag_topic", "std_msgs/String",
          RosMd5.compute("std_msgs/String", strDef), strDef, "c")),
        (0 until 5).map(i => BagFormat.WriteMessage(0, 100 + i, 500,
          RosSchemaMapper.encode(r1, Seq(s"b$i"))))))
    val r2 = Ros2Msg.bundle("std_msgs/msg/String", strDef)
    java.nio.file.Files.write(new java.io.File(dir, "b.mcap").toPath,
      McapFormat.writeMcap(
        Seq(McapFormat.McapSchema(1, "std_msgs/msg/String", "ros2msg",
          strDef.getBytes("UTF-8"))),
        Seq(McapFormat.McapChannel(1, 1, "/mcap_topic", "cdr")),
        (0 until 4).map { i =>
          val t = 200000000000L + i * 1000000000L
          McapFormat.McapMessage(1, i.toLong, t, t, CdrCodec.encode(r2, Seq(s"m$i")))
        }))
    java.nio.file.Files.write(new java.io.File(dir, "c.db3").toPath,
      SqliteFormat.writeDb(Seq(
        ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
          Seq(Seq[Any](null, "/db3_topic", "std_msgs/msg/String", "cdr", ""))),
        ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
          (0 until 3).map(i => Seq[Any](null, 1L, 300000000000L + i * 1000000000L,
            CdrCodec.encode(r2, Seq(s"d$i"))))),
        ("message_definitions", "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
          Seq(Seq[Any](null, "std_msgs/msg/String", "ros2msg", strDef, ""))))))
    dir.getAbsolutePath
  }

  private def out(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_convert_$tag").toString + "/export"

  test("mixed directory -> one mcap archive: counts, bytes and ns timestamps survive") {
    val o = out("mcap")
    Convert.run(spark, mixedDir, o, "mcap", partitions = 2)
    val back = spark.read.format("mcap").load(o)
    assert(back.count() === 12)
    val spine = MixedRead.spine(spark, mixedDir)
    val a = spine.select(col("topic"), col("type"), col("timestamp"), col("data"))
    val b = back.select(col("topic"), col("schema_name").as("type"),
      col("log_time").as("timestamp"), col("data"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "payloads, topics, types and ns timestamps must survive the convert")
    // each source dialect's wire encoding labels the output channels —
    // a typed consumer dispatches on it (cdr payloads from mcap/db3,
    // ros1 from the bag)
    val encs = back.select(col("topic"), col("message_encoding"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(encs === Map("/bag_topic" -> "ros1", "/mcap_topic" -> "cdr",
      "/db3_topic" -> "cdr"))
    // mcap's own sequence counter and publish clock survive the
    // round-trip (the spine carries them; bag/db3 rows default)
    val seqs = back.filter(col("topic") === "/mcap_topic")
      .select("sequence", "publish_time", "log_time").collect()
    assert(seqs.map(_.getLong(0)).sorted.toSeq === (0L until 4L))
    assert(seqs.forall(r => r.getLong(1) === r.getLong(2)),
      "fixture publish_time = log_time must survive, not be zeroed")
  }

  test("transform in the middle: filter + target rosbag's (sec, nsec) convention") {
    val o = out("bag")
    // the mcap rows are cdr — embedding them in a .bag needs the
    // explicit foreign-encoding opt-in (guard test below)
    Convert.run(spark, mixedDir, o, "rosbag", partitions = 1,
      transform = _.filter(col("container") =!= "db3"),
      options = Map("allow_foreign_encoding" -> "true"))
    val back = spark.read.format("rosbag").load(o)
    assert(back.count() === 9) // 5 bag + 4 mcap, db3 filtered out
    // ns -> (sec, nsec): the mcap rows' 200e9.. land at time_sec 200..
    val secs = back.groupBy("topic").agg(min(col("time_sec"))).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(secs === Map("/bag_topic" -> 100, "/mcap_topic" -> 200))
    val aBytes = MixedRead.spine(spark, mixedDir)
      .filter(col("container") =!= "db3")
      .agg(sum(length(col("data")))).head().getLong(0)
    assert(back.agg(sum(length(col("data")))).head().getLong(0) === aBytes)
  }

  test("runStream: files landing mid-stream normalize into one growing archive, exactly-once") {
    val in = java.nio.file.Files.createTempDirectory("graft_convstream_in").toString
    def land(name: String): Unit = {
      java.nio.file.Files.copy(
        new java.io.File(mixedDir, name).toPath,
        new java.io.File(in, name).toPath)
      ()
    }
    val o = out("stream")
    val ck = java.nio.file.Files.createTempDirectory("graft_convstream_ck").toString
    land("a.bag")
    assert(Convert.runStream(spark, in, o, "mcap", ck).awaitTermination(120000),
      "first drain must terminate inside the timeout")
    assert(spark.read.format("mcap").load(o).count() === 5)
    // more fleet uploads arrive — all three formats now present
    land("b.mcap"); land("c.db3")
    assert(Convert.runStream(spark, in, o, "mcap", ck).awaitTermination(120000),
      "second drain must terminate inside the timeout")
    val back = spark.read.format("mcap").load(o)
    assert(back.count() === 12)
    // the resumed stream re-planned nothing: the archive equals a
    // batch convert of the full directory, no duplicates
    val a = MixedRead.spine(spark, in)
      .select(col("topic"), col("type"), col("timestamp"), col("data"))
    val b = back.select(col("topic"), col("schema_name").as("type"),
      col("log_time").as("timestamp"), col("data"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("-> db3: rolled sqlite files plus metadata.yaml (a rosbag2 bag dir)") {
    val o = out("db3")
    Convert.run(spark, mixedDir, o, "db3", partitions = 1,
      options = Map("rows_per_file" -> "5"))
    val back = spark.read.format("db3").load(o)
    assert(back.count() === 12)
    assert(new java.io.File(o, "metadata.yaml").exists())
    val grouped = back.groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped === Map("/bag_topic" -> 5L, "/mcap_topic" -> 4L, "/db3_topic" -> 3L))
  }

  test("target_file_mb sizes the output from the SOURCE bytes when partitions is unset") {
    // the sizing formula itself: ceil, floor at 1, loud Int clamp
    assert(Convert.partitionsFor(500000L, 1) === 1)
    assert(Convert.partitionsFor(1000000L, 1) === 1)
    assert(Convert.partitionsFor(1000001L, 1) === 2)
    assert(Convert.partitionsFor(2600000L, 1) === 3)
    assert(Convert.partitionsFor(0L, 7) === 1)
    val big = intercept[IllegalArgumentException] {
      Convert.partitionsFor(Long.MaxValue / 2, 1)
    }
    assert(big.getMessage.contains("target_file_mb"))

    // end-to-end multi-file case: a ~2.5 MB source against a 1 MB
    // target must land in ceil(bytes/1MB) range-disjoint files
    val dir = java.nio.file.Files.createTempDirectory("graft_conv_sized").toFile
    val r2 = Ros2Msg.bundle("std_msgs/msg/String", strDef)
    val fill = "x" * 1000
    java.nio.file.Files.write(new java.io.File(dir, "big.mcap").toPath,
      McapFormat.writeMcap(
        Seq(McapFormat.McapSchema(1, "std_msgs/msg/String", "ros2msg",
          strDef.getBytes("UTF-8"))),
        Seq(McapFormat.McapChannel(1, 1, "/big", "cdr")),
        (0 until 2500).map { i =>
          val t = 100000000000L + i * 1000000L
          McapFormat.McapMessage(1, i.toLong, t, t,
            CdrCodec.encode(r2, Seq(s"$fill-$i")))
        }, compression = "")) // uncompressed: on-disk bytes ≈ payload bytes
    val srcBytes = new java.io.File(dir, "big.mcap").length()
    val expected = ((srcBytes + 999999L) / 1000000L).toInt
    assert(expected >= 2, s"fixture must exceed the 1 MB target, got $srcBytes B")
    val o = out("sized")
    Convert.run(spark, dir.getAbsolutePath, o, "mcap",
      options = Map("target_file_mb" -> "1"))
    val files = new java.io.File(o).listFiles()
      .filter(f => f.getName.endsWith(".mcap") && !f.getName.startsWith(".")
        && f.getName != "attachments.mcap")
    assert(files.length === expected,
      s"expected $expected sized files, got ${files.length}")
    assert(spark.read.format("mcap").load(o).count() === 2500)
    // time layout holds under auto-sizing: file ranges are disjoint
    val ranges = files.toSeq.map { f =>
      val st = graft.ros.mcap.McapIO.scanIndex(f.getPath).stats.get
      (st.messageStartTime, st.messageEndTime)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"sized files must be disjoint: $ranges")
      case _ => ()
    }

    val ex = intercept[Exception] {
      Convert.run(spark, dir.getAbsolutePath, out("sized_bad"), "mcap",
        options = Map("target_file_mb" -> "0"))
    }
    assert(causeMessages(ex).contains("target_file_mb"))
    val exParse = intercept[Exception] {
      Convert.run(spark, dir.getAbsolutePath, out("sized_nan"), "mcap",
        options = Map("target_file_mb" -> "512mb"))
    }
    assert(causeMessages(exParse).contains("target_file_mb"))
    // streaming refuses the option loudly instead of ignoring it
    val exStream = intercept[Exception] {
      Convert.runStream(spark, dir.getAbsolutePath, out("sized_stream"),
        "mcap", java.nio.file.Files.createTempDirectory("ck").toString,
        options = Map("target_file_mb" -> "1"))
    }
    assert(causeMessages(exStream).contains("batch Convert.run only"))
  }

  test("foreign-encoding guard: cdr payloads into a .bag fail loudly without the opt-in") {
    val o = out("guard")
    val ex = intercept[Exception] {
      Convert.run(spark, mixedDir, o, "rosbag", partitions = 1,
        transform = _.filter(col("container") === "mcap"))
    }
    val all = causeMessages(ex)
    assert(all.contains("allow_foreign_encoding"),
      s"expected the foreign-encoding guard, got: $all")
    // ros1-only inputs pass with no opt-in
    val o2 = out("guard_ok")
    Convert.run(spark, mixedDir, o2, "rosbag", partitions = 1,
      transform = _.filter(col("container") === "rosbag"))
    assert(spark.read.format("rosbag").load(o2).count() === 5)
  }

  test("time layout (default): disjoint file ranges and chunk pruning on the converted archive") {
    val oT = out("laytime")
    val oR = out("layrr")
    Convert.run(spark, mixedDir, oT, "mcap", partitions = 2,
      options = Map("chunk_bytes" -> "256"))
    Convert.run(spark, mixedDir, oR, "mcap", partitions = 2,
      options = Map("chunk_bytes" -> "256"), layout = "roundrobin")
    def fileRanges(o: String): Seq[(Long, Long)] =
      new java.io.File(o).listFiles().toSeq
        .filter(f => f.getName.endsWith(".mcap") && !f.getName.startsWith("."))
        .map { f =>
          val st = graft.ros.mcap.McapIO.scanIndex(f.getPath).stats.get
          (st.messageStartTime, st.messageEndTime)
        }.sortBy(_._1)
    // time layout: the two files cover DISJOINT time ranges, and each
    // file's chunks are internally disjoint too (sorted within the
    // partition) — the layout the sinks' chunk indexes can prune
    val rT = fileRanges(oT)
    assert(rT.size === 2)
    assert(rT(0)._2 < rT(1)._1, s"time-layout files must be disjoint: $rT")
    new java.io.File(oT).listFiles()
      .filter(f => f.getName.endsWith(".mcap") && !f.getName.startsWith("."))
      .foreach { f =>
        val chunks = graft.ros.mcap.McapIO.scanIndex(f.getPath).chunks
          .sortBy(_.messageStartTime)
        chunks.sliding(2).foreach {
          case Seq(a, b) => assert(a.messageEndTime <= b.messageStartTime,
            s"chunks must be time-disjoint in ${f.getName}")
          case _ => ()
        }
      }
    // round-robin: every output file spans the whole corpus range
    val rR = fileRanges(oR)
    assert(rR.size === 2)
    assert(rR(0)._2 > rR(1)._1, s"round-robin files overlap by construction: $rR")
    // and pruning FIRES on the time layout: a db3-era time filter
    // plans strictly fewer chunk partitions than the full read
    def parts(o: String, cut: Boolean): Int = {
      val df = spark.read.format("mcap").load(o)
      (if (cut) df.filter(col("log_time") >= 300000000000L) else df)
        .rdd.getNumPartitions
    }
    assert(parts(oT, cut = true) < parts(oT, cut = false),
      "time-range read of a time-laid-out convert must prune chunks")
    assert(spark.read.format("mcap").load(oT)
      .filter(col("log_time") >= 300000000000L).count() === 3)
  }

  test("definitions auto-carry: typed re-reads of converted output need no manual options") {
    // bag -> bag: connection records (md5 + msg text) travel
    val oBag = out("defs_bag")
    Convert.run(spark, mixedDir, oBag, "rosbag", partitions = 1,
      transform = _.filter(col("container") === "rosbag"))
    val bagTyped = spark.read.format("rosbag")
      .option("datatype", "std_msgs/String").load(oBag)
    assert(bagTyped.select("data_field").collect().map(_.getString(0)).toSet
      === (0 until 5).map(i => s"b$i").toSet)

    // mcap -> mcap: Schema records travel
    val oM = out("defs_mcap")
    Convert.run(spark, mixedDir, oM, "mcap", partitions = 1,
      transform = _.filter(col("container") === "mcap"))
    val mcapTyped = spark.read.format("mcap")
      .option("schema_name", "std_msgs/msg/String").load(oM)
    assert(mcapTyped.select("data_field").collect().map(_.getString(0)).toSet
      === (0 until 4).map(i => s"m$i").toSet)

    // bag -> mcap: ros1msg defs travel AND the mcap typed reader
    // decodes the ros1-serialized channels — the normalized archive's
    // ros1-era recordings stay typed-readable
    val oB2M = out("defs_b2m")
    Convert.run(spark, mixedDir, oB2M, "mcap", partitions = 1,
      transform = _.filter(col("container") === "rosbag"))
    val b2m = spark.read.format("mcap")
      .option("schema_name", "std_msgs/String").load(oB2M)
    assert(b2m.select("data_field").collect().map(_.getString(0)).toSet
      === (0 until 5).map(i => s"b$i").toSet)

    // db3 -> mcap: ros2msg defs cross containers within the dialect
    val oX = out("defs_x")
    Convert.run(spark, mixedDir, oX, "mcap", partitions = 1,
      transform = _.filter(col("container") === "db3"))
    val xTyped = spark.read.format("mcap")
      .option("schema_name", "std_msgs/msg/String").load(oX)
    assert(xTyped.select("data_field").collect().map(_.getString(0)).toSet
      === (0 until 3).map(i => s"d$i").toSet)
  }

  test("mcap profile auto-conforms to the sources: mixed dialects -> no-profile, cdr-only -> ros2") {
    def profileOf(o: String): String = {
      val f = new java.io.File(o).listFiles()
        .filter(x => x.getName.endsWith(".mcap") && !x.getName.startsWith("."))
        .head
      McapFormat.headerOf(java.nio.file.Files.readAllBytes(f.toPath))._1
    }
    // the mixed dir carries ros1 + cdr payloads: a "ros2" profile
    // would violate the profile's cdr-only channel requirement
    val oMixed = out("prof_mixed")
    Convert.run(spark, mixedDir, oMixed, "mcap", partitions = 1)
    assert(profileOf(oMixed) === "")
    // a cdr-only source keeps the conformant ros2 profile
    val oCdr = out("prof_cdr")
    Convert.run(spark, mixedDir + "/c.db3", oCdr, "mcap", partitions = 1)
    assert(profileOf(oCdr) === "ros2")
  }

  test("source mcap attachments/metadata carry into the converted archive") {
    // a fleet dir whose mcap recording carries a calibration blob —
    // normalizing the fleet must not silently drop it
    val dir = java.nio.file.Files.createTempDirectory("graft_conv_att").toFile
    val r2 = Ros2Msg.bundle("std_msgs/msg/String", strDef)
    val fos = new java.io.FileOutputStream(new java.io.File(dir, "a.mcap"))
    val w = new McapStreamingWriter(fos, "zstd", 1 << 20,
      Map("std_msgs/msg/String" -> Seq(("ros2msg", strDef.getBytes("UTF-8")))))
    (0 until 3).foreach { i =>
      w.write("/t", "std_msgs/msg/String", "", "cdr", i.toLong,
        500000000000L + i, 500000000000L + i, CdrCodec.encode(r2, Seq(s"a$i")))
    }
    val blob = (0 until 512).map(i => (i % 7).toByte).toArray
    w.writeAttachment(500L, 499L, "cam.calib", "application/octet-stream", blob)
    w.writeMetadata("run", Seq("site" -> "p3"))
    w.finish(); fos.close()

    val o = out("att")
    Convert.run(spark, dir.getAbsolutePath, o, "mcap", partitions = 1)
    assert(spark.read.format("mcap").load(o).count() === 3)
    val at = spark.read.format("mcap").option("table", "attachments").load(o)
    val row = at.collect() match { case Array(r) => r }
    assert(row.getAs[String]("name") === "cam.calib")
    assert(java.util.Arrays.equals(row.getAs[Array[Byte]]("data"), blob))
    val md = spark.read.format("mcap").option("table", "metadata").load(o)
    assert(md.collect().map(r => (r.getString(1), r.getString(2),
      r.getString(3))).toSeq === Seq(("run", "site", "p3")))

    // append-mode re-run: messages accumulate (append semantics), the
    // attachment dimension merges by identity — nothing duplicates
    Convert.run(spark, dir.getAbsolutePath, o, "mcap", partitions = 1)
    assert(spark.read.format("mcap").load(o).count() === 6)
    assert(spark.read.format("mcap").option("table", "attachments")
      .load(o).count() === 1)

    // the opt-out leaves no attachments file
    val o2 = out("att_off")
    Convert.run(spark, dir.getAbsolutePath, o2, "mcap", partitions = 1,
      options = Map("carry_attachments" -> "false"))
    assert(spark.read.format("mcap").option("table", "attachments")
      .load(o2).count() === 0)
    assert(!new java.io.File(o2, "attachments.mcap").exists())
  }

  test("runStream carries start-time attachments; a restart re-merges without duplicates") {
    val in = java.nio.file.Files.createTempDirectory("graft_convstr_att").toFile
    val r2 = Ros2Msg.bundle("std_msgs/msg/String", strDef)
    val fos = new java.io.FileOutputStream(new java.io.File(in, "a.mcap"))
    val w = new McapStreamingWriter(fos, "zstd", 1 << 20,
      Map("std_msgs/msg/String" -> Seq(("ros2msg", strDef.getBytes("UTF-8")))))
    (0 until 3).foreach { i =>
      w.write("/t", "std_msgs/msg/String", "", "cdr", i.toLong,
        900000000000L + i, 900000000000L + i, CdrCodec.encode(r2, Seq(s"s$i")))
    }
    w.writeAttachment(900L, 899L, "imu.calib", "text/plain",
      "bias=0.01".getBytes("UTF-8"))
    w.finish(); fos.close()

    val o = out("str_att")
    val ck = java.nio.file.Files.createTempDirectory("graft_convstr_ck").toString
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "mcap", ck)
      .awaitTermination(120000))
    def attachments() = spark.read.format("mcap")
      .option("table", "attachments").load(o)
    assert(attachments().count() === 1)
    assert(new String(attachments().head().getAs[Array[Byte]]("data"),
      "UTF-8") === "bias=0.01")
    // restart: the identity merge keeps the carry idempotent
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "mcap", ck)
      .awaitTermination(120000))
    assert(attachments().count() === 1)
    assert(spark.read.format("mcap").load(o).count() === 3)
  }

  test("a type name defined in two dialects keeps BOTH schema variants in the convert") {
    import graft.ros.mcap.{McapIO, McapPayload, McapTypedRead}
    val dir = java.nio.file.Files.createTempDirectory("graft_conv_dual").toFile
    // bag: pkg/T under ros1msg with field `a`
    import graft.ros.bag.BagFormat
    val ros1 = MsgDefParser.parse("pkg/T", "string a")
    java.nio.file.Files.write(new java.io.File(dir, "a.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/legacy", "pkg/T", "m", "string a", "c")),
        (0 until 2).map(i => BagFormat.WriteMessage(0, 100 + i, 0,
          RosSchemaMapper.encode(ros1, Seq(s"r$i"))))))
    // db3: the SAME name under ros2msg with field `b`
    val ros2 = Ros2Msg.bundle("pkg/T", "string b")
    java.nio.file.Files.write(new java.io.File(dir, "c.db3").toPath,
      SqliteFormat.writeDb(Seq(
        ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
          Seq(Seq[Any](null, "/modern", "pkg/T", "cdr", ""))),
        ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
          (0 until 3).map(i => Seq[Any](null, 1L, 200000000000L + i,
            CdrCodec.encode(ros2, Seq(s"c$i"))))),
        ("message_definitions", "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
          Seq(Seq[Any](null, "pkg/T", "ros2msg", "string b", ""))))))

    val o = out("dual")
    Convert.run(spark, dir.getAbsolutePath, o, "mcap", partitions = 1)
    val f = new java.io.File(o).listFiles()
      .filter(x => x.getName.endsWith(".mcap") && !x.getName.startsWith(".")).head
    val idx = McapIO.scanIndex(f.getPath)
    // both dialects' definitions survive as separate Schema records...
    assert(idx.schemas.values.filter(_.name == "pkg/T")
      .map(_.encoding).toSet === Set("ros1msg", "ros2msg"))
    // ...and every channel points at the schema of ITS dialect
    idx.channels.values.foreach { c =>
      val s = idx.schemas(c.schemaId)
      assert(McapPayload.messageEncodingFor(s.encoding) === c.messageEncoding,
        s"channel ${c.topic} mislabeled: ${s.encoding} vs ${c.messageEncoding}")
    }
    // typed reads disambiguate by definition md5 and decode per dialect
    def typed(defText: String) = spark.read.format("mcap")
      .option("schema_name", "pkg/T")
      .option("schema_md5",
        McapTypedRead.md5hex(defText.getBytes("UTF-8")).take(8))
      .load(o)
    assert(typed("string b").select("b").collect()
      .map(_.getString(0)).toSet === Set("c0", "c1", "c2"))
    assert(typed("string a").select("a").collect()
      .map(_.getString(0)).toSet === Set("r0", "r1"))
  }

  test("explicit cross-dialect defs fail loudly; foreign_defs=skip carries the subset") {
    // naming the mixed dir as a db3 defs source harvests the bag's
    // ros1msg definition too — a translation the engine refuses
    val o = out("defs_strict")
    val ex = intercept[Exception] {
      Convert.run(spark, mixedDir, o, "db3", partitions = 1,
        options = Map("schema_defs_from" -> mixedDir))
    }
    assert(causeMessages(ex).contains("foreign_defs=skip"))
    // foreign_defs=error WITHOUT a defs path makes even the automatic
    // harvest strict — the auto-wire must not override the user's policy
    val oStrict = out("defs_strict_auto")
    val ex2 = intercept[Exception] {
      Convert.run(spark, mixedDir, oStrict, "db3", partitions = 1,
        options = Map("foreign_defs" -> "error"))
    }
    assert(causeMessages(ex2).contains("foreign_defs=skip"))
    // the auto-wire (no explicit option) skips the foreign subset and
    // the ros2 definitions still land: typed db3 read decodes
    val o2 = out("defs_skip")
    Convert.run(spark, mixedDir, o2, "db3", partitions = 1,
      transform = _.filter(col("container") === "db3"))
    val typed = spark.read.format("db3")
      .option("path", o2).option("schema_name", "std_msgs/msg/String").load()
    assert(typed.select("data_field").collect().map(_.getString(0)).toSet
      === (0 until 3).map(i => s"d$i").toSet)
  }

  test("runStream: types and attachments landing mid-stream bind without a restart") {
    val in = java.nio.file.Files.createTempDirectory("graft_convstr_mid").toFile
    def mcapWith(name: String, tpe: String, defText: String,
        topic: String, vals: Seq[String], t0: Long): Unit = {
      val b = Ros2Msg.bundle(tpe, defText)
      java.nio.file.Files.write(new java.io.File(in, name).toPath,
        McapFormat.writeMcap(
          Seq(McapFormat.McapSchema(1, tpe, "ros2msg", defText.getBytes("UTF-8"))),
          Seq(McapFormat.McapChannel(1, 1, topic, "cdr")),
          vals.zipWithIndex.map { case (v, i) =>
            McapFormat.McapMessage(1, i.toLong, t0 + i, t0 + i,
              CdrCodec.encode(b, Seq(v)))
          }))
      ()
    }
    mcapWith("a.mcap", "graft_msgs/msg/TA", strDef, "/ta",
      Seq("a0", "a1"), 100000000000L)
    val o = out("mid")
    val ck = java.nio.file.Files.createTempDirectory("graft_convstr_midck").toString
    val q = Convert.runStream(spark, in.getAbsolutePath, o, "mcap", ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
    try {
      q.processAllAvailable()
      // a NEW TYPE lands mid-stream: its definition was not in the
      // start-time harvest — the write tasks late-bind it from the
      // row's source file, so the export typed-decodes with NO restart
      mcapWith("b.mcap", "graft_msgs/msg/TB", strDef, "/tb",
        Seq("t0", "t1"), 200000000000L)
      q.processAllAvailable()
      val typed = spark.read.format("mcap").option("path", o)
        .option("schema_name", "graft_msgs/msg/TB").load()
      assert(typed.select("data_field").collect().map(_.getString(0)).toSet
        === Set("t0", "t1"),
        "a mid-stream type must export with its real definition")
      // an ATTACHMENT lands mid-stream: the per-trigger listener
      // merges it into attachments.mcap — again no restart
      attachmentOnlyMcap(in, "cal.mcap", "mid.calib", Array[Byte](3, 1, 4))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def attCount(): Long = spark.read.format("mcap")
        .option("table", "attachments").load(o).count()
      while (attCount() == 0 && System.nanoTime() < deadline)
        Thread.sleep(250)
      assert(attCount() === 1,
        "a mid-stream attachment must merge after the next trigger")
    } finally q.stop()
  }

  test("runStream to db3: a type landing mid-stream exports with its definition") {
    val in = java.nio.file.Files.createTempDirectory("graft_convdb3_mid").toFile
    def mcapWith(name: String, tpe: String, topic: String,
        vals: Seq[String], t0: Long): Unit = {
      val b = Ros2Msg.bundle(tpe, strDef)
      java.nio.file.Files.write(new java.io.File(in, name).toPath,
        McapFormat.writeMcap(
          Seq(McapFormat.McapSchema(1, tpe, "ros2msg", strDef.getBytes("UTF-8"))),
          Seq(McapFormat.McapChannel(1, 1, topic, "cdr")),
          vals.zipWithIndex.map { case (v, i) =>
            McapFormat.McapMessage(1, i.toLong, t0 + i, t0 + i,
              CdrCodec.encode(b, Seq(v)))
          }))
      ()
    }
    mcapWith("a.mcap", "graft_msgs/msg/DA", "/da", Seq("a0"), 100000000000L)
    val o = out("db3mid")
    val ck = java.nio.file.Files.createTempDirectory("graft_convdb3_ck").toString
    val q = Convert.runStream(spark, in.getAbsolutePath, o, "db3", ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
    try {
      q.processAllAvailable()
      // the NEW type's definition was not in the start-time harvest —
      // the writer late-binds it from the row's source file
      mcapWith("b.mcap", "graft_msgs/msg/DB", "/db", Seq("b0", "b1"),
        200000000000L)
      q.processAllAvailable()
      val typed = spark.read.format("db3").option("path", o)
        .option("schema_name", "graft_msgs/msg/DB").load()
      assert(typed.select("data_field").collect().map(_.getString(0)).toSet
        === Set("b0", "b1"),
        "a mid-stream type must export with its real definition")
    } finally q.stop()
  }

  // ---- attachment carry: O(new work) appends, identity, sidecars ----

  private def attachmentOnlyMcap(dir: java.io.File, fileName: String,
      name: String, data: Array[Byte], meta: Option[(String, Seq[(String, String)])] = None): java.io.File = {
    val f = new java.io.File(dir, fileName)
    val fos = new java.io.FileOutputStream(f)
    val w = new McapStreamingWriter(fos, "", 1 << 20)
    w.writeAttachment(700L, 699L, name, "application/octet-stream", data)
    meta.foreach { case (n, kv) => w.writeMetadata(n, kv) }
    w.finish(); fos.close()
    f
  }

  test("attachment-carry appends are O(new work): unchanged re-runs never touch the archive") {
    val in = java.nio.file.Files.createTempDirectory("graft_att_onw").toFile
    attachmentOnlyMcap(in, "a.mcap", "cal.a", Array[Byte](1, 2, 3),
      meta = Some(("run", Seq("site" -> "x"))))
    val o = out("att_onw")
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1)
    val fin = new java.io.File(o, "attachments.mcap")
    assert(fin.exists())
    val (m0, l0) = (fin.lastModified, fin.length)
    Thread.sleep(20)
    // same sources: the ledger fast path returns without reading a body
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1)
    assert(fin.lastModified === m0 && fin.length === l0,
      "a no-new-source re-run must perform zero writes on attachments.mcap")
    // a NEW file whose records are all already merged: ledger grows,
    // archive still untouched
    java.nio.file.Files.copy(new java.io.File(in, "a.mcap").toPath,
      new java.io.File(in, "a_copy.mcap").toPath)
    Thread.sleep(20)
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1)
    assert(fin.lastModified === m0 && fin.length === l0,
      "already-merged identities from a new file must not rewrite the archive")
    // ledger lost: identities re-derive from the archive itself — the
    // run reads, but still does not rewrite
    assert(new java.io.File(o, ".attachments.idx").delete())
    Thread.sleep(20)
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1)
    assert(fin.lastModified === m0 && fin.length === l0,
      "without the ledger the archive's own records are the identity truth")
    // a genuinely new attachment DOES merge — and the prior records stay
    attachmentOnlyMcap(in, "b.mcap", "cal.b", Array[Byte](9, 9))
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1)
    val at = spark.read.format("mcap").option("table", "attachments").load(o)
    assert(at.select("name").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("cal.a", "cal.b"))
    assert(spark.read.format("mcap").option("table", "metadata").load(o)
      .count() === 1)
  }

  test("the same logical attachment from crc'd and crc-less sources merges to one copy") {
    val in = java.nio.file.Files.createTempDirectory("graft_att_crc").toFile
    val blob = Array[Byte](5, 4, 3, 2, 1)
    attachmentOnlyMcap(in, "a.mcap", "cal.same", blob)
    val b = attachmentOnlyMcap(in, "b.mcap", "cal.same", blob)
    // zero out b's stored attachment crc (spec: 0 = not computed) —
    // the identity merge must not key on crc PRESENCE
    val (off, len) = graft.ros.mcap.McapIO
      .scanIndex(b.getAbsolutePath).attachmentRefs.head
    val raf = new java.io.RandomAccessFile(b, "rw")
    try { raf.seek(off + len - 4); raf.write(Array[Byte](0, 0, 0, 0)) }
    finally raf.close()
    val o = out("att_crc")
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1)
    val at = spark.read.format("mcap").option("table", "attachments").load(o)
    assert(at.count() === 1,
      "crc'd and crc-less copies of one logical attachment must dedupe")
    assert(at.head().getAs[Array[Byte]]("data").toSeq === blob.toSeq)
  }

  test("non-mcap targets keep attachments in a sidecar attachments.mcap") {
    val in = java.nio.file.Files.createTempDirectory("graft_att_side").toFile
    import graft.ros.bag.BagFormat
    val r1 = MsgDefParser.parse("std_msgs/String", strDef)
    java.nio.file.Files.write(new java.io.File(in, "m.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/t", "std_msgs/String", "m", strDef, "c")),
        (0 until 3).map(i => BagFormat.WriteMessage(0, 50 + i, 0,
          RosSchemaMapper.encode(r1, Seq(s"x$i"))))))
    attachmentOnlyMcap(in, "cal.mcap", "lidar.calib", Array[Byte](7, 7, 7))
    val o = out("att_side")
    Convert.run(spark, in.getAbsolutePath, o, "rosbag", partitions = 1)
    // the bag archive reads back; the calibration survived as a sidecar
    assert(spark.read.format("rosbag").option("bags", o + "/*.bag").load()
      .count() === 3)
    val at = spark.read.format("mcap").option("table", "attachments").load(o)
    assert(at.select("name").collect().map(_.getString(0)).toSeq ===
      Seq("lidar.calib"))
    // the sidecar carries zero messages — a spine read of the output
    // dir sees only the bag rows
    assert(MixedRead.spine(spark, o).count() === 3)
  }

  test("compact collapses an epoch-file archive: row identity, fewer files, pruning, stream resumes") {
    val in = java.nio.file.Files.createTempDirectory("graft_compact_in").toFile
    def land(name: String): Unit = {
      java.nio.file.Files.copy(new java.io.File(mixedDir, name).toPath,
        new java.io.File(in, name).toPath)
      ()
    }
    val o = out("compact")
    val ck = java.nio.file.Files.createTempDirectory("graft_compact_ck").toString
    land("a.bag")
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "mcap", ck,
      options = Map("chunk_bytes" -> "256")).awaitTermination(120000))
    land("b.mcap"); land("c.db3")
    attachmentOnlyMcap(in, "cal.mcap", "keep.calib", Array[Byte](1, 2))
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "mcap", ck,
      options = Map("chunk_bytes" -> "256")).awaitTermination(120000))
    def msgFiles(): Seq[String] = new java.io.File(o).listFiles().toSeq
      .map(_.getName)
      .filter(n => n.endsWith(".mcap") && !n.startsWith(".") &&
        n != "attachments.mcap")
    val nBefore = msgFiles().size
    assert(nBefore >= 2, s"epoch files expected, got ${msgFiles()}")
    def snapshot(): Set[(String, String, String, Long, Long, Long, Seq[Byte])] =
      spark.read.format("mcap").load(o)
        .select("topic", "schema_name", "message_encoding", "sequence",
          "log_time", "publish_time", "data")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5),
          r.getAs[Array[Byte]](6).toSeq)).toSet
    val before = snapshot()
    assert(before.size === 12)
    // a relationally-written attachment (att-*.mcap) shares the dir —
    // compaction must leave attachment CARRIERS alone, not fold their
    // zero messages into the rewrite and delete the calibrations
    import spark.implicits._
    graft.ros.mcap.McapExport.prepareAttachments(
      Seq(("rel.calib", "k=1")).toDF("n", "b"),
      name = col("n"), data = encode(col("b"), "UTF-8"))
      .write.format("mcap").option("table", "attachments")
      .mode("append").save(o)

    Convert.compact(spark, o, partitions = 1,
      options = Map("chunk_bytes" -> "256"))
    assert(msgFiles().count(_.startsWith("compact-")) === 1,
      "compaction must collapse the epoch files")
    assert(msgFiles().count(_.startsWith("att-")) === 1,
      "relational attachment files must survive compaction")
    assert(snapshot() === before, "row identity must survive compaction")
    assert(!new java.io.File(o, ".compact.journal").exists())
    // the attachment sidecar, the relational write and the ledger all
    // stay untouched
    assert(spark.read.format("mcap").option("table", "attachments").load(o)
      .select("name").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("keep.calib", "rel.calib"))
    // definitions still travel: typed reads decode the compacted file
    val typed = spark.read.format("mcap").option("path", o)
      .option("schema_name", "std_msgs/msg/String").load()
    assert(typed.select("data_field").collect().map(_.getString(0)).toSet ===
      ((0 until 4).map(i => s"m$i") ++ (0 until 3).map(i => s"d$i")).toSet)
    // time pruning fires on the compacted layout (chunk grain)
    val full = spark.read.format("mcap").load(o)
    val cut = full.filter(col("log_time") >= 300000000000L)
    assert(cut.rdd.getNumPartitions < full.rdd.getNumPartitions,
      "a time-range read of the compacted archive must prune chunks")
    assert(cut.count() === 3)
    // the standing normalizer RESUMES on its checkpoint: a new upload
    // lands and exactly its rows append — no replays of compacted data
    java.nio.file.Files.copy(new java.io.File(mixedDir, "a.bag").toPath,
      new java.io.File(in, "a2.bag").toPath)
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "mcap", ck,
      options = Map("chunk_bytes" -> "256")).awaitTermination(120000))
    assert(spark.read.format("mcap").load(o).count() === 17)
  }

  test("compact: rosbag-target archives collapse with connections + typed reads intact") {
    val o = out("compact_bag")
    Convert.run(spark, mixedDir, o, "rosbag", partitions = 3,
      transform = _.filter(col("container") === "rosbag"))
    def bagFiles(): Seq[String] = new java.io.File(o).listFiles().toSeq
      .map(_.getName).filter(n => n.endsWith(".bag") && !n.startsWith("."))
    val nBefore = bagFiles().size
    assert(nBefore >= 2, s"need multiple files to collapse, got ${bagFiles()}")
    def snapshot(): Set[(String, String, Int, Int, Seq[Byte])] =
      spark.read.format("rosbag").load(o)
        .select("topic", "datatype", "time_sec", "time_nsec", "data")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getInt(3), r.getAs[Array[Byte]](4).toSeq)).toSet
    val before = snapshot()
    assert(before.size === 5)
    Convert.compact(spark, o, partitions = 1)
    assert(bagFiles().size === 1 && bagFiles().head.startsWith("compact-"),
      s"compaction must collapse the bag files: ${bagFiles()}")
    assert(snapshot() === before, "row identity must survive compaction")
    assert(!new java.io.File(o, ".compact.journal").exists())
    // connections carry their definitions + GENUINE md5s through the
    // rewrite (late-bound per row from the pre-compact files)
    val conns = graft.ros.bag.RosbagIO.scanIndexes(
      bagFiles().map(n => new java.io.File(o, n).getAbsolutePath))
      .flatMap(_._2.connections)
    assert(conns.nonEmpty && conns.forall(c => c.msgDef.trim.nonEmpty &&
      c.md5sum == RosMd5.compute(c.datatype, c.msgDef)),
      s"compacted connections must keep genuine defs/md5s: $conns")
    val typed = spark.read.format("rosbag")
      .option("datatype", "std_msgs/String").load(o)
    assert(typed.select("data_field").collect().map(_.getString(0)).toSet
      === (0 until 5).map(i => s"b$i").toSet)
  }

  test("compact: db3-target archives regenerate metadata.yaml and keep the epoch ledger") {
    val in = java.nio.file.Files.createTempDirectory("graft_compact_db3in").toFile
    def land(src: String, as: String): Unit = {
      java.nio.file.Files.copy(new java.io.File(mixedDir, src).toPath,
        new java.io.File(in, as).toPath)
      ()
    }
    val o = out("compact_db3")
    val ck = java.nio.file.Files.createTempDirectory("graft_compact_db3ck").toString
    land("c.db3", "c.db3")
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "db3", ck)
      .awaitTermination(120000))
    land("b.mcap", "b.mcap")
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "db3", ck)
      .awaitTermination(120000))
    def db3Files(): Seq[String] = new java.io.File(o).listFiles().toSeq
      .map(_.getName).filter(n => n.endsWith(".db3") && !n.startsWith("."))
    assert(db3Files().size >= 2, s"epoch files expected: ${db3Files()}")
    def snapshot(): Set[(String, String, String, Long, Seq[Byte])] =
      spark.read.format("db3").load(o)
        .select("topic", "type", "serialization_format", "timestamp", "data")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getAs[Array[Byte]](4).toSeq)).toSet
    val before = snapshot()
    assert(before.size === 7)
    // a STALE divergence sidecar (naming pre-compact part files) must
    // not survive the swap pointing at deleted files
    java.nio.file.Files.write(new java.io.File(o, "_divergent.json").toPath,
      """{"fake/Type":["part-0-e1.db3"]}""".getBytes("UTF-8"))
    Convert.compact(spark, o, partitions = 1)
    assert(db3Files().size === 1 && db3Files().head.startsWith("compact-"),
      s"compaction must collapse the db3 files: ${db3Files()}")
    assert(!new java.io.File(o, "_divergent.json").exists(),
      "a stale sidecar naming deleted part files must go with them " +
        "(a fresh one is promoted only when the rewrite still diverges)")
    assert(snapshot() === before, "row identity must survive compaction")
    // metadata.yaml regenerated IN the swap: lists exactly the new
    // generation, stats intact — rosbag2 tooling keeps working
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(o, "metadata.yaml").toPath), "UTF-8")
    assert(yaml.contains(db3Files().head), s"yaml must list the compacted file: $yaml")
    assert(!yaml.linesIterator.exists(_.trim.startsWith("- \"part-")),
      s"yaml must not list deleted files: $yaml")
    assert(yaml.contains("message_count: 7"), yaml)
    // typed decode still works: definitions late-bound from the
    // pre-compact files landed in the compacted message_definitions
    val typed = spark.read.format("db3")
      .option("schema_name", "std_msgs/msg/String").load(o)
    assert(typed.select("data_field").collect().map(_.getString(0)).toSet
      === ((0 until 3).map(i => s"d$i") ++ (0 until 4).map(i => s"m$i")).toSet)
    // the streaming LEDGER survived the regeneration: the standing
    // normalizer resumes and exactly the new rows append (no replay
    // of compacted epochs, counts stay exact)
    land("c.db3", "c2.db3")
    assert(Convert.runStream(spark, in.getAbsolutePath, o, "db3", ck)
      .awaitTermination(120000))
    assert(spark.read.format("db3").load(o).count() === 10)
    val yaml2 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(o, "metadata.yaml").toPath), "UTF-8")
    assert(yaml2.contains("message_count: 10"),
      s"post-compact epochs must merge exactly: $yaml2")
  }

  test("a pending compact journal masks listings to ONE consistent generation") {
    import graft.ros.bag.BagFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_cj_mask").toFile
    val d = MsgDefParser.parse("graft_msgs/M", "int64 v")
    def bagOf(name: String, v: Long): Unit = {
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        BagFormat.writeBag(
          Seq(BagFormat.BagConnection(0, "/m", "graft_msgs/M", "*", "int64 v", "c")),
          Seq(BagFormat.WriteMessage(0, v.toInt, 0,
            RosSchemaMapper.encode(d, Seq[Any](v))))))
      ()
    }
    bagOf("old1.bag", 1L); bagOf("old2.bag", 2L)
    def names(): Set[String] =
      graft.ros.bag.RosbagDataSource.files(dir.getAbsolutePath)
        .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    def globNames(): Set[String] =
      graft.ros.bag.RosbagDataSource.files(dir.getAbsolutePath + "/*.bag")
        .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(names() === Set("old1.bag", "old2.bag"))
    val stage = new java.io.File(dir, ".compact-x")
    stage.mkdirs()
    bagOf(".compact-x/s1.bag", 10L); bagOf(".compact-x/s2.bag", 20L)
    val plan = Seq(
      "MV\t.compact-x/s1.bag\tcompact-x-s1.bag",
      "MV\t.compact-x/s2.bag\tcompact-x-s2.bag",
      "RM\told1.bag", "RM\told2.bag")
    val fs = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
      .getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    def promote(n: String): Unit = {
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(stage.getAbsolutePath, n),
        new org.apache.hadoop.fs.Path(dir.getAbsolutePath, s"compact-x-$n")))
      ()
    }
    // PHASE A: promotion incomplete (one staged source consumed, one
    // not) — the old generation is still whole; serve it, hide the new
    CompactJournal.write(fs, dir.getAbsolutePath, plan)
    promote("s1.bag")
    assert(names() === Set("old1.bag", "old2.bag"),
      "mid-promotion reads must serve the (complete) old generation")
    assert(globNames() === Set("old1.bag", "old2.bag"),
      "a GLOB over the same archive must serve the same view")
    // PHASE B: promotion complete, deletes pending — both generations
    // on disk (up to 2x every message); serve the new, hide the old
    promote("s2.bag")
    assert(names() === Set("compact-x-s1.bag", "compact-x-s2.bag"),
      "post-promotion reads must serve the new generation only")
    assert(globNames() === Set("compact-x-s1.bag", "compact-x-s2.bag"),
      "the glob view flips with the listing view")
    // MixedRead.resolve applies the same mask
    assert(MixedRead.resolve(dir.getAbsolutePath)("rosbag")
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
      === Set("compact-x-s1.bag", "compact-x-s2.bag"))
    // no journal: the masked names serve again (nothing pending)
    fs.delete(CompactJournal.journalPath(dir.getAbsolutePath), false)
    assert(names() === Set("old1.bag", "old2.bag",
      "compact-x-s1.bag", "compact-x-s2.bag"))
  }

  test("journal phase detection survives MV targets that pre-exist (db3 metadata.yaml)") {
    // db3 compacts rename the staged metadata.yaml OVER the old one:
    // target-presence would call the swap 'promoted' while the staged
    // metadata still waits, serving NEW data files under OLD metadata.
    // Source-absence is the exact test.
    val dir = java.nio.file.Files.createTempDirectory("graft_cj_meta").toFile
    def touch(rel: String): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, rel.getBytes("UTF-8"))
      ()
    }
    touch("old1.db3"); touch("metadata.yaml")
    touch(".compact-x/s1.db3"); touch(".compact-x/metadata.yaml")
    val fs = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
      .getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val plan = Seq(
      "MV\t.compact-x/s1.db3\tcompact-x-s1.db3",
      "MV\t.compact-x/metadata.yaml\tmetadata.yaml",
      "RM\told1.db3")
    CompactJournal.write(fs, dir.getAbsolutePath, plan)
    val p = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
    // data file promoted, metadata.yaml MV still pending — its TARGET
    // exists (the stale old copy), but its staged SOURCE does too:
    // the view must stay on the old generation
    assert(fs.rename(new org.apache.hadoop.fs.Path(p, ".compact-x/s1.db3"),
      new org.apache.hadoop.fs.Path(p, "compact-x-s1.db3")))
    assert(CompactJournal.maskedNames(fs, p)
      === Set("compact-x-s1.db3", "metadata.yaml"),
      "a pre-existing MV target must not flip the view to promoted")
    // the metadata promote completes (delete-dst-then-rename, as
    // CompactJournal.execute does): every staged source consumed
    fs.delete(new org.apache.hadoop.fs.Path(p, "metadata.yaml"), false)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(p, ".compact-x/metadata.yaml"),
      new org.apache.hadoop.fs.Path(p, "metadata.yaml")))
    assert(CompactJournal.maskedNames(fs, p) === Set("old1.db3"),
      "all sources consumed = promoted; hide the pending deletes")
  }

  // ---- typed cross-dialect transcode ----

  private def profileOf(o: String): String = {
    val f = new java.io.File(o).listFiles()
      .filter(x => x.getName.endsWith(".mcap") && !x.getName.startsWith("."))
      .head
    McapFormat.headerOf(java.nio.file.Files.readAllBytes(f.toPath))._1
  }

  private val sampleDef =
    """Header header
      |time stamp
      |byte b
      |float64 v
      |string note
      |uint8[] blob
      |================================================================================
      |MSG: std_msgs/Header
      |uint32 seq
      |time stamp
      |string frame_id""".stripMargin

  private lazy val richBagDir: String = {
    import graft.ros.bag.BagFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_tc_bag").toFile
    val b1 = MsgDefParser.parse("graft_msgs/Sample", sampleDef)
    java.nio.file.Files.write(new java.io.File(dir, "rich.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/samples", "graft_msgs/Sample", "*",
          sampleDef, "c")),
        (0 until 5).map { i =>
          BagFormat.WriteMessage(0, 100 + i, 0,
            RosSchemaMapper.encode(b1, Seq[Any](
              i.toLong, i, 2 * i, s"f$i",      // header: seq, stamp, frame_id
              10 + i, 20 + i,                  // stamp
              -i, i * 1.5, s"n$i",             // byte, float64, string
              Array[Byte](i.toByte, (i + 1).toByte))))
        }))
    dir.getAbsolutePath
  }

  test("transcode: a ros1 bag normalizes into a genuine ros2-profile mcap, typed-readable") {
    val o = out("tc_strict")
    Convert.run(spark, richBagDir, o, "mcap", partitions = 1,
      options = Map("transcode" -> "strict"))
    // every channel is CDR under the renamed type; the header claims ros2
    val back = spark.read.format("mcap").load(o)
    assert(back.select("message_encoding").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("cdr"))
    assert(back.select("schema_name").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("graft_msgs/msg/Sample"))
    assert(profileOf(o) === "ros2")
    // the TRANSLATED definition travels in the archive: a typed read
    // needs no options and decodes every field — values identical to
    // what the ros1 encoder wrote (time → builtin_interfaces/Time
    // renames nsec → nanosec; uint32 widens to long)
    val typed = spark.read.format("mcap").option("path", o)
      .option("schema_name", "graft_msgs/msg/Sample").load()
      .orderBy(col("header_seq"))
    val rows = typed.select("header_seq", "header_stamp_sec",
      "header_stamp_nanosec", "header_frame_id", "stamp_sec",
      "stamp_nanosec", "b", "v", "note", "blob").collect()
    assert(rows.length === 5)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong)
      assert(r.getInt(1) === i && r.getLong(2) === 2L * i)
      assert(r.getString(3) === s"f$i")
      assert(r.getInt(4) === 10 + i && r.getLong(5) === 20L + i)
      assert(r.getInt(6) === -i, "ROS1 byte is signed int8")
      assert(r.getDouble(7) === i * 1.5)
      assert(r.getString(8) === s"n$i")
      assert(r.getAs[Array[Byte]](9).toSeq === Seq(i.toByte, (i + 1).toByte))
    }
  }

  test("transcode=auto on a mixed dir: all dialects land cdr and one typed read merges them") {
    val o = out("tc_auto")
    Convert.run(spark, mixedDir, o, "mcap", partitions = 2,
      options = Map("transcode" -> "auto"))
    val back = spark.read.format("mcap").load(o)
    assert(back.select("message_encoding").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("cdr"),
      "the bag rows re-encode; mcap/db3 rows were already cdr")
    assert(profileOf(o) === "ros2",
      "with every ros1 definition translated the archive is conformant ros2")
    // std_msgs/String from all three eras merges under ONE typed read
    val typed = spark.read.format("mcap").option("path", o)
      .option("schema_name", "std_msgs/msg/String").load()
    assert(typed.select("data_field").collect().map(_.getString(0)).toSet ===
      ((0 until 5).map(i => s"b$i") ++ (0 until 4).map(i => s"m$i") ++
        (0 until 3).map(i => s"d$i")).toSet)
  }

  test("transcode: divergent same-named definitions decode under their OWN file's definition") {
    import graft.ros.bag.BagFormat
    val in = java.nio.file.Files.createTempDirectory("graft_tc_evo").toFile
    // schema evolution across a fleet: two bags define graft_msgs/Evo
    // with different field lists — each file's rows must transcode
    // under that file's definition, never the other's
    val defV1 = "int64 a"
    val defV2 = "int64 a\nstring b"
    val b1 = MsgDefParser.parse("graft_msgs/Evo", defV1)
    val b2 = MsgDefParser.parse("graft_msgs/Evo", defV2)
    java.nio.file.Files.write(new java.io.File(in, "old.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/evo", "graft_msgs/Evo", "m1", defV1, "c")),
        Seq(BagFormat.WriteMessage(0, 10, 0,
          RosSchemaMapper.encode(b1, Seq[Any](1L))))))
    java.nio.file.Files.write(new java.io.File(in, "new.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/evo", "graft_msgs/Evo", "m2", defV2, "c")),
        Seq(BagFormat.WriteMessage(0, 20, 0,
          RosSchemaMapper.encode(b2, Seq[Any](2L, "evolved"))))))
    val o = out("tc_evo")
    // before per-file resolution this CRASHED: the plan's single
    // per-name definition misdecoded the other file's payload (strict
    // buffer-consumption check)
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1,
      options = Map("transcode" -> "strict"))
    val rows = spark.read.format("mcap").load(o)
      .select("log_time", "data").collect().sortBy(_.getLong(0))
    val e1 = Transcode.translate("graft_msgs/Evo", defV1)
    val e2 = Transcode.translate("graft_msgs/Evo", defV2)
    assert(CdrCodec.decode(Ros2Msg.bundle(e1.dstName, e1.dstDef),
      rows(0).getAs[Array[Byte]](1)) === Seq(1L))
    assert(CdrCodec.decode(Ros2Msg.bundle(e2.dstName, e2.dstDef),
      rows(1).getAs[Array[Byte]](1)) === Seq(2L, "evolved"))
    // the archive's OWN Schema records carry both variants (same
    // name, distinct ids), each channel pointing at the definition
    // its payloads were transcoded with — typed reads disambiguate
    // via the existing schema_md5 contract
    val schemaDefs = new java.io.File(o).listFiles()
      .filter(f => f.getName.endsWith(".mcap") && !f.getName.startsWith("."))
      .flatMap(f => graft.ros.mcap.McapIO.scanIndex(f.getPath).schemas.values)
      .filter(_.name == "graft_msgs/msg/Evo")
      .map(s => new String(s.data, "UTF-8")).toSet
    assert(schemaDefs === Set(e1.dstDef, e2.dstDef),
      "divergent definitions must BOTH land as Schema records")
    def typed(defText: String) = spark.read.format("mcap")
      .option("path", o).option("schema_name", "graft_msgs/msg/Evo")
      .option("schema_md5",
        graft.ros.mcap.McapTypedRead.md5hex(defText.getBytes("UTF-8")).take(8))
      .load()
    assert(typed(e1.dstDef).select("a").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    assert(typed(e2.dstDef).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "evolved")))
  }

  test("a SINGLE file defining one type divergently refuses strictly, embeds under auto") {
    import graft.ros.bag.BagFormat
    val in = java.nio.file.Files.createTempDirectory("graft_tc_onediv").toFile
    val defV1 = "int64 a"
    val defV2 = "int64 a\nstring b"
    val b1 = MsgDefParser.parse("graft_msgs/Evo", defV1)
    val b2 = MsgDefParser.parse("graft_msgs/Evo", defV2)
    // one bag, two same-name connections with DIVERGENT layouts: rows
    // cannot be attributed per definition at (file, type) grain — the
    // plan-level single def must never be used as a fallback here
    java.nio.file.Files.write(new java.io.File(in, "both.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/a", "graft_msgs/Evo",
          RosMd5.compute("graft_msgs/Evo", defV1), defV1, "c"),
          BagFormat.BagConnection(1, "/b", "graft_msgs/Evo",
            RosMd5.compute("graft_msgs/Evo", defV2), defV2, "c")),
        Seq(BagFormat.WriteMessage(0, 10, 0,
          RosSchemaMapper.encode(b1, Seq[Any](1L))),
          BagFormat.WriteMessage(1, 20, 0,
            RosSchemaMapper.encode(b2, Seq[Any](2L, "x"))))))
    val strictOut = out("onediv_strict")
    val ex = intercept[Exception] {
      Convert.run(spark, in.getAbsolutePath, strictOut, "mcap",
        partitions = 1, options = Map("transcode" -> "strict"))
    }
    assert(causeMessages(ex).contains("DIVERGENTLY"))
    // ...and strict fails at PLAN time, before a byte lands
    val strictFiles = Option(new java.io.File(strictOut).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
    assert(!strictFiles.exists(_.getName.endsWith(".mcap")),
      s"strict must refuse before writing: $strictFiles")
    // auto: byte-embed, payloads intact under their original encoding
    val o = out("onediv_auto")
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1,
      options = Map("transcode" -> "auto"))
    val back = spark.read.format("mcap").load(o)
    assert(back.select("message_encoding").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("ros1"))
    assert(back.count() === 2)
    // profile HONESTY: the divergent type's rows stayed ros1, so the
    // auto profile must NOT overclaim "ros2" (the plan counts
    // within-file divergence as a failure)
    assert(profileOf(o) === "",
      "a ros2-profile header over non-cdr channels is non-conformant")
  }

  test("a user-pinned defs channel overrides per-file resolution on the re-encode path") {
    import graft.ros.bag.BagFormat
    val staleDef = "int64 a"
    val pinDef = "int64 area"   // wire-identical, the DEFINITIVE spelling
    val tpe = "graft_msgs/Pin"
    val in = java.nio.file.Files.createTempDirectory("graft_tc_pin_in").toFile
    java.nio.file.Files.write(new java.io.File(in, "rows.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/p", tpe,
          RosMd5.compute(tpe, staleDef), staleDef, "c")),
        Seq(BagFormat.WriteMessage(0, 10, 0, RosSchemaMapper.encode(
          MsgDefParser.parse(tpe, staleDef), Seq[Any](7L))))))
    val pin = java.nio.file.Files.createTempDirectory("graft_tc_pin_defs").toFile
    java.nio.file.Files.write(new java.io.File(pin, "defs.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/p", tpe,
          RosMd5.compute(tpe, pinDef), pinDef, "c")),
        Seq(BagFormat.WriteMessage(0, 10, 0, RosSchemaMapper.encode(
          MsgDefParser.parse(tpe, pinDef), Seq[Any](1L))))))
    def schemaTextOf(o: String): String = {
      val f = new java.io.File(o).listFiles()
        .filter(x => x.getName.endsWith(".mcap") && !x.getName.startsWith("."))
        .head
      mcap.McapIO.scanIndex(f.getAbsolutePath).schemas.values
        .find(_.name == "graft_msgs/msg/Pin").map(s =>
          new String(s.data, "UTF-8")).getOrElse("")
    }
    // explicit schema_defs_from = channel-first by the sinks' contract:
    // the transcode re-encodes under the PINNED definition, not the
    // row's file's stale one
    val oPin = out("tc_pin_channel")
    Convert.run(spark, in.getAbsolutePath, oPin, "mcap", partitions = 1,
      options = Map("transcode" -> "strict",
        "schema_defs_from" -> pin.getAbsolutePath))
    assert(schemaTextOf(oPin).contains("int64 area"),
      "the pinned channel's definition must win on the re-encode path")
    val typed = spark.read.format("mcap")
      .option("schema_name", "graft_msgs/msg/Pin").load(oPin)
    assert(typed.select("area").collect().map(_.getLong(0)).toSeq === Seq(7L))
    // defs_priority=file restores per-file truth even with the pin
    val oFile = out("tc_pin_file")
    Convert.run(spark, in.getAbsolutePath, oFile, "mcap", partitions = 1,
      options = Map("transcode" -> "strict",
        "schema_defs_from" -> pin.getAbsolutePath,
        "defs_priority" -> "file"))
    assert(schemaTextOf(oFile).contains("int64 a") &&
      !schemaTextOf(oFile).contains("int64 area"),
      "defs_priority=file must keep the row's own file authoritative")
  }

  test("a pinned channel RESOLVES plan-time divergence: strict passes, profile stays honest") {
    import graft.ros.bag.BagFormat
    val tpe = "graft_msgs/Pin2"
    val defA = "int64 a"
    val defB = "int64 area" // wire-identical text variant of the same layout
    val in = java.nio.file.Files.createTempDirectory("graft_tc_pindiv").toFile
    // ONE file defines the type DIVERGENTLY (two text variants) — a
    // plan-time failure no per-file resolution can attribute
    java.nio.file.Files.write(new java.io.File(in, "rows.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/p", tpe,
          RosMd5.compute(tpe, defA), defA, "c"),
          BagFormat.BagConnection(1, "/p", tpe,
            RosMd5.compute(tpe, defB), defB, "c")),
        Seq(BagFormat.WriteMessage(0, 10, 0, RosSchemaMapper.encode(
          MsgDefParser.parse(tpe, defA), Seq[Any](7L))),
          BagFormat.WriteMessage(1, 11, 0, RosSchemaMapper.encode(
            MsgDefParser.parse(tpe, defB), Seq[Any](9L))))))
    // without a pin, strict refuses at plan time
    val ex = intercept[Exception] {
      Convert.run(spark, in.getAbsolutePath, out("tc_pindiv_none"), "mcap",
        partitions = 1, options = Map("transcode" -> "strict"))
    }
    assert(causeMessages(ex).contains("DIVERGENTLY"))
    // a user-pinned definitive channel is exactly the fix for this
    // archive: the pin resolves the name BEFORE per-file resolution,
    // so strict must not refuse and the profile counts it translated
    val pin = java.nio.file.Files.createTempDirectory("graft_tc_pindiv_d").toFile
    java.nio.file.Files.write(new java.io.File(pin, "defs.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/p", tpe,
          RosMd5.compute(tpe, defB), defB, "c")),
        Seq(BagFormat.WriteMessage(0, 10, 0, RosSchemaMapper.encode(
          MsgDefParser.parse(tpe, defB), Seq[Any](1L))))))
    val o = out("tc_pindiv")
    Convert.run(spark, in.getAbsolutePath, o, "mcap", partitions = 1,
      options = Map("transcode" -> "strict",
        "schema_defs_from" -> pin.getAbsolutePath))
    val back = spark.read.format("mcap").load(o)
    assert(back.select("message_encoding").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("cdr"))
    val f = new java.io.File(o).listFiles()
      .filter(x => x.getName.endsWith(".mcap") && !x.getName.startsWith("."))
      .head
    assert(McapFormat.headerOf(
      java.nio.file.Files.readAllBytes(f.toPath))._1 === "ros2",
      "a pin-resolved divergence leaves no untranslated channel — the " +
        "profile claim must count it")
    val typed = spark.read.format("mcap")
      .option("schema_name", "graft_msgs/msg/Pin2").load(o)
    assert(typed.select("area").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(7L, 9L), "both divergent-text cohorts decode under the pin")
  }

  test("transcode to rosbag keeps divergent same-named definitions as separate connections") {
    import graft.ros.bag.BagFormat
    val in = java.nio.file.Files.createTempDirectory("graft_tc_evobag").toFile
    val defV1 = "int64 a"
    val defV2 = "int64 a\nstring b"
    def mcapOf(name: String, defText: String, v: Seq[Any], t: Long): Unit = {
      val b = Ros2Msg.bundle("graft_msgs/msg/Evo", defText)
      java.nio.file.Files.write(new java.io.File(in, name).toPath,
        McapFormat.writeMcap(
          Seq(McapFormat.McapSchema(1, "graft_msgs/msg/Evo", "ros2msg",
            defText.getBytes("UTF-8"))),
          Seq(McapFormat.McapChannel(1, 1, "/evo", "cdr")),
          Seq(McapFormat.McapMessage(1, 0L, t, t, CdrCodec.encode(b, v)))))
      ()
    }
    mcapOf("old.mcap", defV1, Seq[Any](1L), 10L)
    mcapOf("new.mcap", defV2, Seq[Any](2L, "evolved"), 20L)
    val o = out("tc_evobag")
    Convert.run(spark, in.getAbsolutePath, o, "rosbag", partitions = 1,
      options = Map("transcode" -> "strict"))
    val conns = graft.ros.bag.RosbagIO.scanIndexes(
      new java.io.File(o).listFiles().filter(_.getName.endsWith(".bag"))
        .map(_.getAbsolutePath).toSeq).flatMap(_._2.connections)
    assert(conns.length === 2, "divergent definitions need two connections")
    assert(conns.map(_.msgDef).toSet === Set(defV1, defV2))
    assert(conns.map(c => c.md5sum ->
      RosMd5.compute(c.datatype, c.msgDef)).forall(p => p._1 == p._2),
      "each connection advertises the md5 of ITS definition")
    // typed reads disambiguate per the drifted-datatype md5 contract
    def typed(defText: String) = spark.read.format("rosbag")
      .option("bags", o + "/*.bag").option("datatype", "graft_msgs/Evo")
      .option("md5", RosMd5.compute("graft_msgs/Evo", defText).take(8))
      .load()
    assert(typed(defV1).select("a").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    assert(typed(defV2).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "evolved")))
  }

  test("a crashed attachment publish recovers even when sources rotated away") {
    val o = out("att_recover")
    // build an archive with one attachment, then simulate the crash
    // window: fin was stepped aside, the new generation never landed
    val in1 = java.nio.file.Files.createTempDirectory("graft_att_rot1").toFile
    attachmentOnlyMcap(in1, "a.mcap", "cal.rot", Array[Byte](9))
    Convert.run(spark, in1.getAbsolutePath, o, "mcap", partitions = 1)
    val fin = new java.io.File(o, "attachments.mcap")
    assert(fin.renameTo(new java.io.File(o, ".attachments.mcap.bak")))
    // the upload prefix ROTATED: the new source dir carries no side
    // records at all — recovery must still restore the backup
    val in2 = java.nio.file.Files.createTempDirectory("graft_att_rot2").toFile
    java.nio.file.Files.copy(new java.io.File(mixedDir, "b.mcap").toPath,
      new java.io.File(in2, "b.mcap").toPath)
    assert(Convert.carryAttachments(in2.getAbsolutePath, o) === 0L)
    assert(fin.exists(), "the backup is the archive — it must come back")
    assert(spark.read.format("mcap").option("table", "attachments").load(o)
      .count() === 1)
  }

  test("transcode to rosbag: cdr rows re-encode as ros1 with GENUINE md5 connections") {
    val o = out("tc_bag")
    // the mixed dir holds ros1 + cdr rows; with transcode the cdr
    // rows (mcap + db3) re-encode as ros1 serialization — the
    // foreign-encoding refusal becomes a fallback, no opt-in needed
    Convert.run(spark, mixedDir, o, "rosbag", partitions = 1,
      options = Map("transcode" -> "strict"))
    val back = spark.read.format("rosbag").option("bags", o + "/*.bag").load()
    assert(back.count() === 12)
    // one typed read decodes ALL eras: bag rows were std_msgs/String
    // already, the transcoded rows renamed std_msgs/msg/String ->
    // std_msgs/String
    val typed = spark.read.format("rosbag").option("bags", o + "/*.bag")
      .option("datatype", "std_msgs/String").load()
    assert(typed.select("data_field").collect().map(_.getString(0)).toSet ===
      ((0 until 5).map(i => s"b$i") ++ (0 until 4).map(i => s"m$i") ++
        (0 until 3).map(i => s"d$i")).toSet)
    // the connection records carry the REAL genmsg checksum — for
    // "string data" that is std_msgs/String's famous md5, which real
    // rosbag tooling validates on play
    val conns = graft.ros.bag.RosbagIO.scanIndexes(
      new java.io.File(o).listFiles().filter(_.getName.endsWith(".bag"))
        .map(_.getAbsolutePath).toSeq).flatMap(_._2.connections)
    assert(conns.nonEmpty)
    conns.foreach { c =>
      assert(c.datatype === "std_msgs/String")
      assert(c.md5sum === "992ce8a1687cec8c8bd883ec73ca41d1",
        "transcoded connections must carry the genuine genmsg md5")
      assert(c.msgDef === strDef)
    }
  }

  test("transcode to db3: a ros1 bag lands as a typed-readable rosbag2 dir") {
    val o = out("tc_db3")
    Convert.run(spark, richBagDir, o, "db3", partitions = 1,
      options = Map("transcode" -> "strict"))
    val back = spark.read.format("db3").load(o)
    assert(back.select("serialization_format").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("cdr"))
    // the translated ros2msg definition landed in message_definitions
    // via the inline channel — the typed db3 read needs no options
    val typed = spark.read.format("db3").option("path", o)
      .option("schema_name", "graft_msgs/msg/Sample").load()
      .orderBy(col("header_seq"))
    val rows = typed.select("header_seq", "stamp_sec", "stamp_nanosec",
      "b", "v", "note").collect()
    assert(rows.length === 5)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong)
      assert(r.getInt(1) === 10 + i && r.getLong(2) === 20L + i)
      assert(r.getInt(3) === -i && r.getDouble(4) === i * 1.5)
      assert(r.getString(5) === s"n$i")
    }
  }

  test("bag-sink harvests compute genuine md5s for checksum-less ros1 definitions") {
    // an mcap carrying a ros1msg Schema record (a bag→mcap convert's
    // output) has no md5 — re-exporting to a bag must COMPUTE it, not
    // write "*"
    val dir = java.nio.file.Files.createTempDirectory("graft_md5_rt").toFile
    val fos = new java.io.FileOutputStream(new java.io.File(dir, "a.mcap"))
    val w = new McapStreamingWriter(fos, "", 1 << 20,
      Map("std_msgs/String" -> Seq(("ros1msg", strDef.getBytes("UTF-8")))),
      profile = "")
    val r1 = MsgDefParser.parse("std_msgs/String", strDef)
    w.write("/t", "std_msgs/String", "", "ros1", 0L, 1000L, 1000L,
      RosSchemaMapper.encode(r1, Seq("hello")))
    w.finish(); fos.close()
    val o = out("md5_rt")
    Convert.run(spark, dir.getAbsolutePath, o, "rosbag", partitions = 1,
      options = Map("allow_foreign_encoding" -> "true"))
    val conns = graft.ros.bag.RosbagIO.scanIndexes(
      new java.io.File(o).listFiles().filter(_.getName.endsWith(".bag"))
        .map(_.getAbsolutePath).toSeq).flatMap(_._2.connections)
    assert(conns.map(_.md5sum).distinct.toSeq ===
      Seq("992ce8a1687cec8c8bd883ec73ca41d1"),
      "a checksum-less harvested definition must export with the computed md5")
  }

  test("transcode=strict fails loudly on untranslatable definitions; auto byte-embeds them") {
    import graft.ros.bag.BagFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_tc_bad").toFile
    java.nio.file.Files.write(new java.io.File(dir, "bad.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/junk", "graft_msgs/Bad", "*",
          "not a definition", "c")),
        Seq(BagFormat.WriteMessage(0, 1, 0, Array[Byte](1, 2, 3)))))
    val ex = intercept[Exception] {
      Convert.run(spark, dir.getAbsolutePath, out("tc_bad"), "mcap",
        partitions = 1, options = Map("transcode" -> "strict"))
    }
    assert(causeMessages(ex).contains("transcode=auto"))
    val o = out("tc_bad_auto")
    Convert.run(spark, dir.getAbsolutePath, o, "mcap", partitions = 1,
      options = Map("transcode" -> "auto"))
    val back = spark.read.format("mcap").load(o)
    assert(back.select("message_encoding").collect().map(_.getString(0)).toSeq
      === Seq("ros1"), "untranslatable rows byte-embed under auto")
    assert(profileOf(o) === "", "a ros1-bearing archive must not claim ros2")
    assert(back.select("data").head().getAs[Array[Byte]](0).toSeq ===
      Seq[Byte](1, 2, 3))
  }

  // ---- the protobuf crossing (Transcode.translateProto) ----

  private lazy val protoDir: String = {
    import graft.ros.mcap.{ProtoCodec, ProtoDescriptor}
    import ProtoDescriptor._
    val dir = java.nio.file.Files.createTempDirectory("graft_tc_proto").toFile
    val fds = buildFds("graft.test", Seq("Ev" -> Seq(
      ProtoField("id", 1, repeated = false, TInt64, ""),
      ProtoField("tag", 2, repeated = false, TString, ""))))
    val set = parseSet(fds)
    val r2 = Ros2Msg.bundle("std_msgs/msg/String", strDef)
    java.nio.file.Files.write(new java.io.File(dir, "p.mcap").toPath,
      McapFormat.writeMcap(
        Seq(McapFormat.McapSchema(1, "graft.test.Ev", "protobuf", fds),
          McapFormat.McapSchema(2, "std_msgs/msg/String", "ros2msg",
            strDef.getBytes("UTF-8"))),
        Seq(McapFormat.McapChannel(1, 1, "/pb_topic", "protobuf"),
          McapFormat.McapChannel(2, 2, "/cdr_topic", "cdr")),
        (0 until 6).map { i =>
          val t = 400000000000L + i * 1000000000L
          if (i % 2 == 0)
            McapFormat.McapMessage(1, i.toLong, t, t,
              ProtoCodec.encode(set, "graft.test.Ev",
                Seq[Any](100L + i, s"p$i")))
          else
            McapFormat.McapMessage(2, i.toLong, t, t,
              CdrCodec.encode(r2, Seq(s"c$i")))
        }))
    dir.getAbsolutePath
  }

  test("transcode: protobuf channels re-encode as CDR under the RENDERED ros2msg") {
    val o = out("tc_proto")
    // strict: every definition (ros2msg + protobuf) must translate or
    // pass through cdr — a failure would throw at plan time
    Convert.run(spark, protoDir, o, "mcap", partitions = 1,
      options = Map("transcode" -> "strict"))
    val back = spark.read.format("mcap").load(o)
    assert(back.select("message_encoding").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("cdr"),
      "the protobuf rows re-encode; cdr rows pass through")
    assert(profileOf(o) === "ros2",
      "with every protobuf descriptor translated the archive is conformant ros2")
    // typed read under the rendered name needs NO manual defs options:
    // Convert embedded the translated ros2msg as a Schema record
    val typed = spark.read.format("mcap").option("path", o)
      .option("schema_name", "graft_test/msg/Ev").load()
      .select(col("topic"), col("id"), col("tag")).collect()
    assert(typed.map(_.getString(0)).toSet === Set("/pb_topic"))
    assert(typed.map(r => (r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
      === Seq((100L, "p0"), (102L, "p2"), (104L, "p4")))
    // the untouched cdr channel still typed-reads
    val cdrBack = spark.read.format("mcap").option("path", o)
      .option("schema_name", "std_msgs/msg/String").load()
    assert(cdrBack.select("data_field").collect().map(_.getString(0)).toSet
      === Set("c1", "c3", "c5"))
  }

  test("transcode to db3: protobuf channels land as typed-readable rosbag2 rows") {
    val o = out("tc_proto_db3")
    Convert.run(spark, protoDir, o, "db3", partitions = 1,
      options = Map("transcode" -> "strict"))
    val back = spark.read.format("db3").load(o)
    assert(back.select("serialization_format").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("cdr"),
      "protobuf rows re-encode as cdr for the db3 target too")
    // the rendered ros2msg landed in message_definitions via the
    // inline channel — the typed db3 read needs no options
    val typed = spark.read.format("db3").option("path", o)
      .option("schema_name", "graft_test/msg/Ev").load()
      .select(col("id"), col("tag")).collect()
    assert(typed.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === Seq((100L, "p0"), (102L, "p2"), (104L, "p4")))
  }

  test("a pinned channel resolves DIVERGENT protobuf descriptors too") {
    import graft.ros.mcap.{ProtoCodec, ProtoDescriptor}
    import ProtoDescriptor._
    // ONE file defines graft.test.DV with TWO distinct descriptor
    // sets (field renamed across schema records) — per-row attribution
    // is impossible, a plan-time failure
    val fdsA = buildFds("graft.test", Seq("DV" -> Seq(
      ProtoField("id", 1, repeated = false, TInt64, ""))))
    val fdsB = buildFds("graft.test", Seq("DV" -> Seq(
      ProtoField("ident", 1, repeated = false, TInt64, ""))))
    val setA = parseSet(fdsA)
    val dir = java.nio.file.Files.createTempDirectory("graft_tc_pdiv").toFile
    java.nio.file.Files.write(new java.io.File(dir, "d.mcap").toPath,
      McapFormat.writeMcap(
        Seq(McapFormat.McapSchema(1, "graft.test.DV", "protobuf", fdsA),
          McapFormat.McapSchema(2, "graft.test.DV", "protobuf", fdsB)),
        Seq(McapFormat.McapChannel(1, 1, "/dv", "protobuf"),
          McapFormat.McapChannel(2, 2, "/dv", "protobuf")),
        Seq(
          McapFormat.McapMessage(1, 0L, 1000L, 1000L,
            ProtoCodec.encode(setA, "graft.test.DV", Seq[Any](7L))),
          McapFormat.McapMessage(2, 1L, 2000L, 2000L,
            ProtoCodec.encode(parseSet(fdsB), "graft.test.DV",
              Seq[Any](9L))))))
    val ex = intercept[Exception] {
      Convert.run(spark, dir.getAbsolutePath, out("tc_pdiv_none"), "mcap",
        partitions = 1, options = Map("transcode" -> "strict"))
    }
    assert(causeMessages(ex).contains("DIVERGENTLY"))
    // the pinned channel (the definitive descriptor — the two variants
    // share the wire layout) resolves it: strict passes, both rows
    // re-encode as CDR under the pin's rendering
    val pin = java.nio.file.Files.createTempDirectory("graft_tc_pdiv_d").toFile
    java.nio.file.Files.write(new java.io.File(pin, "defs.mcap").toPath,
      McapFormat.writeMcap(
        Seq(McapFormat.McapSchema(1, "graft.test.DV", "protobuf", fdsB)),
        Seq(McapFormat.McapChannel(1, 1, "/dv", "protobuf")),
        Seq(McapFormat.McapMessage(1, 0L, 1000L, 1000L,
          ProtoCodec.encode(parseSet(fdsB), "graft.test.DV", Seq[Any](1L))))))
    val o = out("tc_pdiv")
    Convert.run(spark, dir.getAbsolutePath, o, "mcap", partitions = 1,
      options = Map("transcode" -> "strict",
        "schema_defs_from" -> pin.getAbsolutePath))
    val typed = spark.read.format("mcap")
      .option("schema_name", "graft_test/msg/DV").load(o)
    assert(typed.select("ident").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(7L, 9L),
      "both divergent-descriptor cohorts decode under the pinned rendering")
  }

  test("transcode to rosbag: protobuf rows lower through proto→ros2→ros1 (round 16)") {
    val o = out("tc_proto_bag")
    Convert.run(spark, protoDir, o, "rosbag",
      partitions = 1, options = Map("transcode" -> "auto"))
    // the proto channel landed as a GENUINE ros1 connection: renamed
    // type, rendered ros1msg definition, genuine genmsg md5
    val conns = graft.ros.bag.RosbagTables
      .connections(spark, o + "/*.bag").collect()
    val pb = conns.filter(_.getAs[String]("datatype") == "graft_test/Ev")
    assert(pb.nonEmpty, s"expected the renamed proto connection, got " +
      conns.map(_.getAs[String]("datatype")).toSeq)
    val defText = pb.head.getAs[String]("msg_def")
    assert(defText.linesIterator.contains("int64 id"))
    assert(pb.head.getAs[String]("md5sum") ===
      graft.ros.RosMd5.compute("graft_test/Ev", defText),
      "the connection's md5 must be the genuine genmsg checksum")
    // typed read: field VALUES survived the proto wire → packed ros1
    val typed = spark.read.format("rosbag").option("bags", o + "/*.bag")
      .option("datatype", "graft_test/Ev").load()
      .orderBy("id").collect()
    assert(typed.map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"))).toSeq
      === Seq((100L, "p0"), (102L, "p2"), (104L, "p4")))
    // the cdr channel lowered through the existing ros2→ros1 path in
    // the SAME convert
    val typedStr = spark.read.format("rosbag").option("bags", o + "/*.bag")
      .option("datatype", "std_msgs/String").load().collect()
    assert(typedStr.length === 3)
  }

  test("runStream + transcode: a protobuf file landing MID-STREAM re-encodes and late-binds") {
    import graft.ros.mcap.{ProtoCodec, ProtoDescriptor}
    import ProtoDescriptor._
    val in = java.nio.file.Files.createTempDirectory("graft_tcstr_pb").toFile
    // stream starts on a plain cdr file — the protobuf type is NOT in
    // the start-time transcode plan or defs harvest
    val r2 = Ros2Msg.bundle("std_msgs/msg/String", strDef)
    java.nio.file.Files.write(new java.io.File(in, "a.mcap").toPath,
      McapFormat.writeMcap(
        Seq(McapFormat.McapSchema(1, "std_msgs/msg/String", "ros2msg",
          strDef.getBytes("UTF-8"))),
        Seq(McapFormat.McapChannel(1, 1, "/plain", "cdr")),
        (0 until 2).map { i =>
          val t = 100000000000L + i
          McapFormat.McapMessage(1, i.toLong, t, t, CdrCodec.encode(r2, Seq(s"a$i")))
        }))
    val o = out("tcstr_pb")
    val ck = java.nio.file.Files.createTempDirectory("graft_tcstr_pbck").toString
    val q = Convert.runStream(spark, in.getAbsolutePath, o, "mcap", ck,
      options = Map("transcode" -> "auto"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
    try {
      q.processAllAvailable()
      // the protobuf fleet joins mid-stream: the transcode UDF's
      // per-file descriptor fallback re-encodes its rows as CDR, and
      // the sink's late-binding defs lookup registers the RENDERED
      // ros2msg under the renamed type — no restart, typed-decodable
      val fds = buildFds("graft.stream", Seq("Ev" -> Seq(
        ProtoField("id", 1, repeated = false, TInt64, ""),
        ProtoField("tag", 2, repeated = false, TString, ""))))
      val set = parseSet(fds)
      java.nio.file.Files.write(new java.io.File(in, "p.mcap").toPath,
        McapFormat.writeMcap(
          Seq(McapFormat.McapSchema(1, "graft.stream.Ev", "protobuf", fds)),
          Seq(McapFormat.McapChannel(1, 1, "/pb", "protobuf")),
          (0 until 3).map { i =>
            val t = 200000000000L + i
            McapFormat.McapMessage(1, i.toLong, t, t,
              ProtoCodec.encode(set, "graft.stream.Ev", Seq[Any](10L + i, s"p$i")))
          }))
      q.processAllAvailable()
      val back = spark.read.format("mcap").load(o)
      assert(back.select("message_encoding").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("cdr"),
        "mid-stream protobuf rows re-encode as cdr")
      val typed = spark.read.format("mcap").option("path", o)
        .option("schema_name", "graft_stream/msg/Ev").load()
        .select(col("id"), col("tag")).collect()
      assert(typed.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        === Seq((10L, "p0"), (11L, "p1"), (12L, "p2")),
        "the renamed type must typed-decode — its rendered ros2msg " +
          "definition late-binds from the row's source file")
    } finally q.stop()
  }

  // ---- transcode symmetry: the two translations compose losslessly ----

  test("transcode symmetry: bag -> mcap -> bag round-trip is typed-value identity") {
    import graft.ros.bag.BagFormat
    // a rich ros1 type exercising the translatable surface: Header
    // shorthand, time/duration primitives, the byte/char aliases,
    // blobs, fixed + dynamic arrays, nested messages
    val richDef =
      """Header header
        |time stamp
        |duration age
        |byte b
        |char c
        |uint8[] blob
        |float32 f
        |float64[3] cov
        |string note
        |graft_msgs/Pt[] pts
        |uint32 n
        |int64 big
        |================================================================================
        |MSG: std_msgs/Header
        |uint32 seq
        |time stamp
        |string frame_id
        |================================================================================
        |MSG: graft_msgs/Pt
        |float64 x
        |float64 y""".stripMargin
    val tpe = "graft_msgs/Rich"
    val bundle = MsgDefParser.parse(tpe, richDef)
    val rnd = new scala.util.Random(42)
    def values(i: Int): Seq[Any] = Seq[Any](
      i.toLong, 500 + i, 7 * i, s"frame$i", // header: seq, stamp, frame_id
      600 + i, rnd.nextInt(1000000000),     // stamp
      1 + i, rnd.nextInt(1000000000),       // age
      rnd.nextInt(256) - 128,               // byte (ros1: int8)
      rnd.nextInt(256),                     // char (ros1: uint8)
      Array.fill(rnd.nextInt(8))(rnd.nextInt().toByte), // blob
      rnd.nextFloat(),
      Seq.fill(3)(rnd.nextDouble()),
      s"note ${rnd.nextLong()}",
      Seq.fill(rnd.nextInt(3))(
        org.apache.spark.sql.Row(rnd.nextDouble(), rnd.nextDouble())),
      rnd.nextLong() & 0xFFFFFFFFL,         // uint32 (widened Long)
      rnd.nextLong())
    val dir = java.nio.file.Files.createTempDirectory("graft_tc_sym").toFile
    java.nio.file.Files.write(new java.io.File(dir, "r.bag").toPath,
      BagFormat.writeBag(
        Seq(BagFormat.BagConnection(0, "/rich", tpe,
          RosMd5.compute(tpe, richDef), richDef, "c")),
        (0 until 25).map(i => BagFormat.WriteMessage(0, 500 + i,
          1000 * i, RosSchemaMapper.encode(bundle, values(i))))))
    val o1 = out("tc_sym_mcap")
    Convert.run(spark, dir.getAbsolutePath, o1, "mcap", partitions = 1,
      options = Map("transcode" -> "strict"))
    val o2 = out("tc_sym_bag")
    Convert.run(spark, o1, o2, "rosbag", partitions = 1,
      options = Map("transcode" -> "strict"))
    def typed(path: String) = spark.read.format("rosbag")
      .option("datatype", tpe).load(path)
    val a = typed(dir.getAbsolutePath)
    val b = typed(o2)
    // storage identity (file, chunk, byte offset) is layout, not
    // value: the re-rendered definition TEXT is 9 chars longer
    // ("std_msgs/Header" for the bare "Header" shorthand), shifting
    // every record's offset. Everything else — payload fields, size,
    // crc, receipt time, topic, datatype — must match exactly.
    val cols = a.columns.toSet.intersect(b.columns.toSet)
      .diff(Set("bag_path", "chunk_idx", "offset", "connection_id"))
      .toSeq.sorted
    def norm(v: Any): Any = v match {
      case x: Array[Byte] => x.toSeq
      case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
      case s: Seq[_] => s.map(norm)
      case x => x
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => r.toSeq.map(norm)).sortBy(_.toString)
    assert(cols.size > 10, s"expected the full flattened frame, got $cols")
    assert(rows(a).toSeq === rows(b).toSeq,
      "ros1 -> cdr -> ros1 must compose to typed-value identity")
    // and the final bag's connection carries a GENUINE md5 for the
    // re-rendered definition (rosbag tooling validates it on play)
    val conn = graft.ros.bag.RosbagTables
      .connections(spark, o2 + "/*.bag")
      .select("datatype", "md5sum", "msg_def").head()
    assert(conn.getString(0) === tpe)
    assert(conn.getString(1) ===
      RosMd5.compute(tpe, conn.getString(2)))
  }
}
