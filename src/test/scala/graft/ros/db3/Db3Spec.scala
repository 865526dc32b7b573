package graft.ros.db3

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The `db3` source end-to-end over GENUINE sqlite bytes (the
  * committed fixture written by the reference implementation) plus
  * writer-built fixtures for the contract edges.
  */
class Db3Spec extends SparkTestBase {

  private lazy val genuine: String = {
    val in = getClass.getResourceAsStream("/db3/genuine_rosbag2.db3")
    require(in != null, "missing genuine fixture")
    val bytes = try in.readAllBytes() finally in.close()
    val f = java.nio.file.Files.createTempFile("graft_genuine", ".db3")
    java.nio.file.Files.write(f, bytes)
    f.toString
  }

  test("spine read: rosbag2 columns, topic join, subtree partition parallelism") {
    val df = spark.read.format("db3").load(genuine)
    assert(df.schema.fieldNames.toSeq === Seq("file_path", "msg_id", "topic_id",
      "topic", "type", "serialization_format", "timestamp", "size", "data"))
    assert(df.count() === 2000)
    val byTopic = df.groupBy("topic", "type").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(byTopic === Set(("/imu", "sensor_msgs/msg/Imu", 999L),
      ("/chatter", "std_msgs/msg/String", 1000L),
      ("/bulk", "test_msgs/msg/Bulk", 1L)))
    // timestamps follow the generation rule; msg_id is the sqlite rowid
    val r0 = df.orderBy("msg_id").limit(3).collect()
    assert(r0.map(_.getAs[Long]("msg_id")).toSeq === Seq(1L, 2L, 3L))
    assert(r0.map(_.getAs[Long]("timestamp")).toSeq ===
      Seq(0, 1, 2).map(i => 1700000000000000000L + i * 1000000L))
    // the 20 KB overflow blob arrives whole
    assert(df.filter(col("msg_id") === 501).select(length(col("data")))
      .head().getInt(0) === 20000)
    // one partition per b-tree subtree: a 2000-row table splits
    assert(df.rdd.getNumPartitions > 1,
      "messages b-tree should yield multiple subtree partitions")
  }

  test("typed read from message_definitions: Imu doubles and String payloads") {
    val imu = spark.read.format("db3").load(genuine)
      .where(lit(true)) // no-op; keeps the load-path shape obvious
    val typed = spark.read.format("db3")
      .option("path", genuine).option("schema_name", "sensor_msgs/msg/Imu").load()
    assert(typed.schema.fieldNames.toSeq ===
      Seq("file_path", "msg_id", "timestamp", "topic_id", "topic", "x", "y"))
    assert(typed.count() === 999)
    typed.orderBy("msg_id").limit(5).collect().foreach { r =>
      val i = r.getAs[Long]("msg_id") - 1 // even i rows are imu
      assert(r.getAs[Double]("x") === i.toDouble)
      assert(r.getAs[Double]("y") === i / 2.0)
      assert(r.getAs[String]("topic") === "/imu")
    }
    // full-scan sanity: x sums to the generation total
    val sx = typed.agg(sum(col("x"))).head().getDouble(0)
    assert(sx === (0 until 2000 by 2).filter(_ != 500).map(_.toDouble).sum)
    val str = spark.read.format("db3")
      .option("path", genuine).option("schema_name", "std_msgs/msg/String").load()
    assert(str.count() === 1000)
    str.orderBy("msg_id").limit(4).collect().foreach { r =>
      assert(r.getAs[String]("data_field") === s"msg${r.getAs[Long]("msg_id") - 1}")
    }
    assert(imu.count() === 2000)
  }

  test("pre-Humble bag (no message_definitions): loud error; schema_text unblocks it") {
    val sb = graft.ros.mcap.Ros2Msg.bundle("std_msgs/msg/String", "string data")
    val rows = (0 until 30).map { i =>
      Seq[Any](null, 1L, 1000L + i,
        graft.ros.mcap.CdrCodec.encode(sb, Seq(s"old$i")))
    }
    val db = SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/old", "std_msgs/msg/String", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows)))
    val f = java.nio.file.Files.createTempFile("graft_prehumble", ".db3")
    java.nio.file.Files.write(f, db)
    val ex = intercept[Exception] {
      spark.read.format("db3").option("path", f.toString)
        .option("schema_name", "std_msgs/msg/String").load().count()
    }
    assert(ex.getMessage.contains("schema_text"), ex.getMessage)
    val typed = spark.read.format("db3").option("path", f.toString)
      .option("schema_name", "std_msgs/msg/String")
      .option("schema_text", "string data").load()
    assert(typed.orderBy("msg_id").collect().map(_.getAs[String]("data_field")).toSeq
      === (0 until 30).map(i => s"old$i"))
  }

  test("count(*) pushes down to a page-header walk; groupings and filters fall back") {
    val df = spark.read.format("db3").load(genuine)
    assert(df.count() === 2000)
    // plan-visible: the count scan served it (one row per subtree,
    // no record parse / overflow / inflation)
    val cq = df.groupBy().count()
    assert(cq.collect().head.getLong(0) === 2000L)
    assert(cq.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    // GROUPED counts push too: the leaf-prefix walk reads topic_id per
    // cell (SqliteFormat.groupedCountMinMax) — per-connection stats
    // from pure metadata, the reference's TODO block
    val byTopic = df.groupBy("topic").count()
    assert(byTopic.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    assert(byTopic.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("/imu" -> 999L, "/chatter" -> 1000L, "/bulk" -> 1L))
    // filtered counts fall back
    assert(df.filter(col("topic") === "/imu").count() === 999)

    // ungrouped min/max(timestamp) pushes to the leaf-cell prefix walk
    // (SqliteFormat.countMinMax): every row's timestamp read, no blob
    // bytes, no overflow chains — exact with NO write-order assumption
    // (unlike edge-probe pruning), so it also holds on merged files.
    // Reference computed via the normal scan's collected column.
    val ts = df.select(col("timestamp")).collect().map(_.getLong(0))
    val mm = df.agg(count(lit(1)).as("n"),
      min(col("timestamp")).as("mn"), max(col("timestamp")).as("mx"))
    assert(mm.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    val r = mm.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((2000L, ts.min, ts.max)))
    // min on a non-timestamp column refuses (the prefix walk is wired
    // to the schema's timestamp position only)
    val mid = df.agg(min(col("msg_id")))
    assert(!mid.queryExecution.executedPlan.toString.contains("metadataAgg"))

    // GROUPED min/max pushes — db3 is the one container where grouped
    // ranges are exact from metadata (the walk reads topic_id and
    // timestamp together); reference via the normal scan's columns
    val want = df.select(col("topic"), col("timestamp")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        val vs = rs.map(_.getLong(1))
        t -> ((rs.length.toLong, vs.min, vs.max))
      }
    val gm = df.groupBy("topic").agg(count(lit(1)).as("n"),
      min(col("timestamp")).as("mn"), max(col("timestamp")).as("mx"))
    assert(gm.queryExecution.executedPlan.toString.contains("metadataAgg=true"))
    assert(gm.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap === want)
    // grouping by every catalog column pushes; non-catalog grouping
    // (msg_id is per-row, not catalog-derivable) falls back
    for (c <- Seq("topic_id", "type", "serialization_format", "file_path")) {
      val g = df.groupBy(col(c)).count()
      assert(g.queryExecution.executedPlan.toString.contains("metadataAgg=true"), c)
      assert(g.collect().map(_.getLong(1)).sum === 2000L, c)
    }
    val byMsg = df.groupBy("msg_id").count()
    assert(!byMsg.queryExecution.executedPlan.toString.contains("metadataAgg"))
    // typed reads never push the metadata agg
    val typed = spark.read.format("db3").option("path", genuine)
      .option("schema_name", "sensor_msgs/msg/Imu").load()
    val tg = typed.groupBy("topic").count()
    assert(!tg.queryExecution.executedPlan.toString.contains("metadataAgg"))
    assert(tg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("/imu" -> 999L))
  }

  test("timestamp range pruning drops whole b-tree subtrees from the plan") {
    // genuine fixture: 2000 rows, ts = 1.7e18 + i*1e6, monotone in
    // rowid — exactly the rosbag2 write order the probe relies on
    val full = new graft.ros.ContainerSource.ContainerScan(new Db3Read(genuine, None, false, true, 100000000L),
      Db3DataSource.SpineSchema, Array.empty, -1)()
    val nAll = full.planInputPartitions().length
    assert(nAll > 1, "fixture must split into multiple subtrees")
    val meta = Db3IO.scanMeta(genuine)
    val ranges = Db3IO.subtreeTsRanges(genuine, meta.subtrees)
    assert(ranges.isDefined && ranges.get.size == nAll)
    val cut = 1700000000000000000L + 1500L * 1000000L // last 500 rows
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val pruned = new graft.ros.ContainerSource.ContainerScan(new Db3Read(genuine, None, false, true, 100000000L),
      Db3DataSource.SpineSchema, Array(GreaterThanOrEqual("timestamp", cut)), -1)()
    val nKept = pruned.planInputPartitions().length
    assert(nKept < nAll, s"expected subtree pruning, kept $nKept of $nAll")
    // and the query path returns exactly the right rows
    val got = spark.read.format("db3").load(genuine)
      .filter(col("timestamp") >= cut)
    assert(got.count() === 500)
    assert(got.agg(min(col("msg_id"))).head().getLong(0) === 1501L)
    // the escape hatch for foreign/merged writers: pruning off keeps
    // every subtree in the plan; rows still exact via the row filter
    val unpruned = new graft.ros.ContainerSource.ContainerScan(new Db3Read(genuine, None, false, false, 100000000L),
      Db3DataSource.SpineSchema, Array(GreaterThanOrEqual("timestamp", cut)), -1)()
    assert(unpruned.planInputPartitions().length === nAll)
    assert(spark.read.format("db3").option("timestamp_pruning", "false")
      .load(genuine).filter(col("timestamp") >= cut).count() === 500)
  }

  test("pruned read equals full-scan-then-filter on every pushable predicate") {
    val df = spark.read.format("db3").load(genuine)
    val baseline = df.collect()
    def filteredBaseline(p: org.apache.spark.sql.Row => Boolean) =
      baseline.filter(p).map(r => (r.getLong(1), r.getLong(6))).sortBy(identity).toSeq
    val cut = 1700000000000000000L + 777L * 1000000L
    val cases: Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.Row => Boolean)] = Seq(
      (df.filter(col("topic") === "/imu"), r => r.getString(3) == "/imu"),
      (df.filter(col("topic").isin("/imu", "/bulk")),
        r => Set("/imu", "/bulk")(r.getString(3))),
      (df.filter(col("timestamp") < cut), r => r.getLong(6) < cut),
      (df.filter(col("timestamp") >= cut && col("topic") === "/chatter"),
        r => r.getLong(6) >= cut && r.getString(3) == "/chatter"),
      (df.filter(col("msg_id") <= 10), r => r.getLong(1) <= 10L),
      (df.filter(col("type") === "std_msgs/msg/String"),
        r => r.getString(4) == "std_msgs/msg/String"))
    cases.foreach { case (q, p) =>
      val got = q.collect().map(r => (r.getLong(1), r.getLong(6))).sortBy(identity).toSeq
      assert(got === filteredBaseline(p))
    }
  }

  test("topic filter prunes whole files via the topics catalog; file_path plans one file") {
    // two files, disjoint topics
    val sb = graft.ros.mcap.Ros2Msg.bundle("std_msgs/msg/String", "string data")
    def mkFile(dir: java.io.File, name: String, topic: String): Unit = {
      val rows = (0 until 10).map { i =>
        Seq[Any](null, 1L, 1000L + i, graft.ros.mcap.CdrCodec.encode(sb, Seq(s"$topic$i")))
      }
      val db = SqliteFormat.writeDb(Seq(
        ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
          Seq(Seq[Any](null, topic, "std_msgs/msg/String", "cdr", ""))),
        ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows)))
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, db)
      ()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_db3_prune").toFile
    mkFile(dir, "a.db3", "/alpha"); mkFile(dir, "b.db3", "/beta")
    val df = spark.read.format("db3").load(dir.getAbsolutePath)
    val paths = df.select("file_path").distinct().collect().map(_.getString(0)).sorted
    import org.apache.spark.sql.sources.{EqualTo, In}
    // topic equality prunes the file that cannot carry it
    val byTopic = new graft.ros.ContainerSource.ContainerScan(new Db3Read(dir.getAbsolutePath, None, false, true, 100000000L),
      Db3DataSource.SpineSchema, Array(EqualTo("topic", "/alpha")), -1)()
    val kept = byTopic.planInputPartitions()
      .map(_.asInstanceOf[Db3InputPartition].path).distinct
    assert(kept.length === 1 && kept.head.endsWith("a.db3"))
    // file_path equality plans exactly one file
    val byPath = new graft.ros.ContainerSource.ContainerScan(new Db3Read(dir.getAbsolutePath, None, false, true, 100000000L),
      Db3DataSource.SpineSchema, Array(In("file_path", Array[Any](paths.head))), -1)()
    assert(byPath.planInputPartitions()
      .forall(_.asInstanceOf[Db3InputPartition].path == paths.head))
    // query-path equality
    assert(df.filter(col("topic") === "/alpha").count() === 10)
    assert(df.filter(col("file_path") === paths.head).count() === 10)
    // the scan advertises its pushed filters (plan-visible pushdown)
    val plan = df.filter(col("topic") === "/alpha").queryExecution
      .executedPlan.toString
    assert(plan.contains("pushedFilters=[EqualTo(topic,/alpha)]"), plan)
    // runtime (DPP-path) filters re-plan the partitions the same way
    val rt = new graft.ros.ContainerSource.ContainerScan(new Db3Read(dir.getAbsolutePath, None, false, true, 100000000L),
      Db3DataSource.SpineSchema, Array.empty, -1)()
    assert(rt.filterAttributes().map(_.describe()).toSet ===
      Set("file_path", "topic", "topic_id"))
    val all = rt.planInputPartitions().length
    rt.filter(Array[org.apache.spark.sql.sources.Filter](
      In("topic", Array[Any]("/beta"))))
    val prunedRt = rt.planInputPartitions()
      .map(_.asInstanceOf[Db3InputPartition].path).distinct
    assert(prunedRt.length === 1 && prunedRt.head.endsWith("b.db3"))
    assert(rt.planInputPartitions().length < all)
    // reported statistics = the files' byte size
    val bytes = dir.listFiles().filter(_.getName.endsWith(".db3")).map(_.length).sum
    assert(rt.estimateStatistics().sizeInBytes().getAsLong === bytes)
  }

  test("non-monotone timestamps disable subtree pruning but never correctness") {
    // a writer that interleaves timestamps out of order across the
    // file refutes the monotone probe check → prune disabled, rows
    // still exact through the row-level filter
    val sb = graft.ros.mcap.Ros2Msg.bundle("std_msgs/msg/String", "string data")
    val n = 400
    val pad = "x" * 256 // widen rows so the b-tree needs interior pages
    val rows = (0 until n).map { i =>
      val ts = if (i % 2 == 0) 1000L + i else 5000L - i // zigzag
      Seq[Any](null, 1L, ts, graft.ros.mcap.CdrCodec.encode(sb, Seq(s"$pad$i")))
    }
    val db = SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/zig", "std_msgs/msg/String", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows)))
    val f = java.nio.file.Files.createTempFile("graft_zigzag", ".db3")
    java.nio.file.Files.write(f, db)
    val meta = Db3IO.scanMeta(f.toString)
    assert(meta.subtrees.length > 1, "fixture must split into subtrees")
    assert(Db3IO.subtreeTsRanges(f.toString, meta.subtrees).isEmpty,
      "zigzag timestamps must refute the monotone assumption")
    import org.apache.spark.sql.sources.LessThan
    val scan = new graft.ros.ContainerSource.ContainerScan(new Db3Read(f.toString, None, false, true, 100000000L),
      Db3DataSource.SpineSchema, Array(LessThan("timestamp", 1100L)), -1)()
    assert(scan.planInputPartitions().length === meta.subtrees.length,
      "no subtree may be pruned when probes are non-monotone")
    val got = spark.read.format("db3").load(f.toString)
      .filter(col("timestamp") < 1100L).count()
    assert(got === rows.count(_(2).asInstanceOf[Long] < 1100L))
  }

  test("interior timestamp disorder cannot silently drop matching rows (cut-boundary exact verify)") {
    // ADVICE r10: boundary-monotone edge probes cannot see a row
    // INSIDE a subtree whose timestamp jumped past the filter cut.
    // The fix re-checks every dropped subtree adjacent to a kept one
    // with SqliteFormat.countMinMax (exact, no order assumption).
    val sb = graft.ros.mcap.Ros2Msg.bundle("std_msgs/msg/String", "string data")
    val t0 = 1700000000000000000L
    val step = 2000000L // 2 ms per row
    val n = 2000
    val pad = "x" * 200
    def mkRows(outlier: Option[(Int, Long)]) = (0 until n).map { i =>
      val ts = outlier match {
        case Some((j, v)) if j == i => v
        case _ => t0 + i * step
      }
      Seq[Any](null, 1L, ts, graft.ros.mcap.CdrCodec.encode(sb, Seq(s"$pad$i")))
    }
    def writeF(rows: Seq[Seq[Any]]): String = {
      val db = SqliteFormat.writeDb(Seq(
        ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
          Seq(Seq[Any](null, "/t", "std_msgs/msg/String", "cdr", ""))),
        ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows)))
      val f = java.nio.file.Files.createTempFile("graft_disorder", ".db3")
      java.nio.file.Files.write(f, db)
      f.toString
    }
    // shape probe: identical row sizes (all timestamps 8-byte ints) →
    // the outlier file has the SAME b-tree shape
    val probe = writeF(mkRows(None))
    val meta = Db3IO.scanMeta(probe)
    val ranges = Db3IO.subtreeTsRanges(probe, meta.subtrees).get
    assert(ranges.size > 3, "fixture must split into several subtrees")
    val jitter = 100000000L // the default timestamp_jitter_ns
    val cut = ranges.last._3 // the global max timestamp
    // victim: the LAST subtree whose widened probes still miss the cut
    // — dropped by probes, adjacent to a kept subtree
    val victimIdx = ranges.lastIndexWhere { case (_, _, hi) => hi + jitter < cut }
    assert(victimIdx >= 0 && victimIdx < ranges.size - 1,
      "need a dropped subtree adjacent to a kept one")
    val (_, vlo, vhi) = ranges(victimIdx)
    val j = (((vlo + vhi) / 2 - t0) / step).toInt
    assert(t0 + j * step > vlo && t0 + j * step < vhi, "outlier must be interior")
    val f2 = writeF(mkRows(Some((j, cut))))
    assert(Db3IO.subtreeTsRanges(f2, Db3IO.scanMeta(f2).subtrees).isDefined,
      "interior disorder is invisible to the boundary probes")
    val got = spark.read.format("db3").load(f2).filter(col("timestamp") >= cut)
    assert(got.count() === 2, "the interior outlier row must survive pruning")
    assert(got.select("msg_id").collect().map(_.getLong(0)).toSet ===
      Set(j + 1L, n.toLong))
  }

  test("filter cut in a recording gap / past the file range still exact-verifies (ADVICE r11)") {
    // Previously the exact re-check only covered dropped subtrees
    // ADJACENT TO A KEPT one: a window landing in a recording gap (or
    // past the probed global range) kept nothing, skipped verification
    // entirely, and silently dropped a stray interior row. Now gap
    // neighbors and file-edge subtrees are cut candidates too.
    val sb = graft.ros.mcap.Ros2Msg.bundle("std_msgs/msg/String", "string data")
    val t0 = 1700000000000000000L
    val step = 2000000L // 2 ms per row
    val n = 2000
    val pad = "x" * 200
    val gapNs = 10000000000L // a 10 s recording pause
    def writeF(ts: Int => Long): String = {
      val rows = (0 until n).map { i =>
        Seq[Any](null, 1L, ts(i), graft.ros.mcap.CdrCodec.encode(sb, Seq(s"$pad$i")))
      }
      val db = SqliteFormat.writeDb(Seq(
        ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
          Seq(Seq[Any](null, "/t", "std_msgs/msg/String", "cdr", ""))),
        ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows)))
      val f = java.nio.file.Files.createTempFile("graft_gapcut", ".db3")
      java.nio.file.Files.write(f, db)
      f.toString
    }
    // shape probe (identical row sizes → identical b-tree shape)
    val probe = writeF(i => t0 + i * step)
    val meta = Db3IO.scanMeta(probe)
    val ranges = Db3IO.subtreeTsRanges(probe, meta.subtrees).get
    assert(ranges.size > 3, "fixture must split into several subtrees")
    // open the recording gap exactly at the boundary of subtrees k|k+1
    val k = ranges.size / 2
    val gapRow = ((ranges(k + 1)._2 - t0) / step).toInt
    val boundaryTs = t0 + gapRow * step
    def gapped(i: Int): Long = t0 + i * step + (if (i >= gapRow) gapNs else 0L)
    // stray row: interior to subtree k, stamped INTO the gap window
    val (_, klo, khi) = ranges(k)
    val j = (((klo + khi) / 2 - t0) / step).toInt
    val strayTs = boundaryTs + 3000000000L // gap start + 3 s
    val winLo = boundaryTs + 2000000000L
    val winHi = boundaryTs + 4000000000L
    val f2 = writeF(i => if (i == j) strayTs else gapped(i))
    val rs2 = Db3IO.subtreeTsRanges(f2, Db3IO.scanMeta(f2).subtrees)
    assert(rs2.isDefined, "a stray interior row is invisible to the edge probes")
    assert(!rs2.get.exists { case (_, lo, hi) =>
      lo - 100000000L <= winHi && hi + 100000000L >= winLo },
      "no widened subtree range may cover the gap window (the old code kept nothing)")
    val got = spark.read.format("db3").load(f2)
      .filter(col("timestamp") >= winLo && col("timestamp") <= winHi)
    assert(got.count() === 1, "the stray row in the gap window must survive pruning")
    assert(got.select("msg_id").head().getLong(0) === j + 1L)
    // and past the probed global range: stray interior row in the LAST
    // subtree, filter entirely above the file's probed max
    val (_, llo, lhi) = ranges.last
    val jl = (((llo + lhi) / 2 - t0) / step).toInt
    val fileMax = gapped(n - 1)
    val f3 = writeF(i => if (i == jl) fileMax + 7000000000L else gapped(i))
    assert(Db3IO.subtreeTsRanges(f3, Db3IO.scanMeta(f3).subtrees).isDefined)
    val got3 = spark.read.format("db3").load(f3)
      .filter(col("timestamp") >= fileMax + 5000000000L)
    assert(got3.count() === 1, "a stray row past the probed range must survive")
    assert(got3.select("msg_id").head().getLong(0) === jl + 1L)
  }

  test("pushed comparisons with unrecognized literal types keep rows (conservative)") {
    import org.apache.spark.sql.sources.{GreaterThan, In, LessThan}
    // an uncomparable (value, literal) pair must KEEP the row for the
    // retained residual filter — a source-side drop is unrecoverable
    val row: Db3DataSource.Row = (1L, Seq[Any](null, 1L, 5L, null))
    def eval(f: org.apache.spark.sql.sources.Filter): Boolean = graft.ros.ContainerSource
      .compile(Array(f), Db3DataSource.cols("p", Map(1L -> (("/t", "T", "cdr")))))(row)
    assert(eval(GreaterThan("timestamp", "oops")))
    assert(eval(LessThan("msg_id", new Object)))
    assert(eval(In("timestamp", Array[Any]("x"))))
    // recognized pairs still filter exactly
    assert(!eval(GreaterThan("timestamp", java.lang.Long.valueOf(9L))))
  }

  test("typed read pushes meta filters: rows skip before CDR decode") {
    val typed = spark.read.format("db3")
      .option("path", genuine).option("schema_name", "sensor_msgs/msg/Imu").load()
    val cut = 1700000000000000000L + 1000L * 1000000L
    val got = typed.filter(col("timestamp") >= cut && col("msg_id") <= 1200)
      .select("msg_id").collect().map(_.getLong(0)).sorted.toSeq
    // imu rows are the even indices (msg_id odd: i%2==0 → msg_id=i+1)
    val expect = (0 until 2000).filter(i => i % 2 == 0 && i != 500)
      .map(_ + 1L).filter(id => (id - 1) * 1000000L + 1700000000000000000L >= cut && id <= 1200)
    assert(got === expect.sorted)
  }

  test("a message row with a dangling topic_id fails loudly, not with empty metadata") {
    // a corrupt/drifted file whose messages reference a topic_id absent
    // from topics must not yield plausible rows with empty topic/type
    // (which would also silently skip cdr message-mode zstd inflation)
    val sb = graft.ros.mcap.Ros2Msg.bundle("std_msgs/msg/String", "string data")
    val db = SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/ok", "std_msgs/msg/String", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
        Seq(Seq[Any](null, 1L, 1000L, graft.ros.mcap.CdrCodec.encode(sb, Seq("fine"))),
          Seq[Any](null, 7L, 1001L, graft.ros.mcap.CdrCodec.encode(sb, Seq("orphan")))))))
    val f = java.nio.file.Files.createTempFile("graft_dangling", ".db3")
    java.nio.file.Files.write(f, db)
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("db3").load(f.toString).collect()
    }
    val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
    assert(msg.contains("unknown topic_id 7"), msg)
  }

  test("ros2idl message_definitions resolve through the IDL parser end-to-end") {
    val idl =
      """module graft_msgs { module msg { struct Pose {
        |  double x;
        |  double y;
        |}; }; };""".stripMargin
    val sb = graft.ros.mcap.Ros2Idl.bundle("graft_msgs/msg/Pose", idl)
    val rows = (0 until 20).map { i =>
      Seq[Any](null, 1L, 1000L + i,
        graft.ros.mcap.CdrCodec.encode(sb, Seq(i * 1.0, i * 0.5)))
    }
    val db = SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/pose", "graft_msgs/msg/Pose", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows),
      ("message_definitions", "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
        Seq(Seq[Any](null, "graft_msgs/msg/Pose", "ros2idl", idl, "h")))))
    val f = java.nio.file.Files.createTempFile("graft_idl", ".db3")
    java.nio.file.Files.write(f, db)
    val typed = spark.read.format("db3").option("path", f.toString)
      .option("schema_name", "graft_msgs/msg/Pose").load()
    assert(typed.schema.fieldNames.toSeq.takeRight(2) === Seq("x", "y"))
    val got = typed.orderBy("msg_id").collect()
    assert(got.length === 20)
    got.foreach { r =>
      val i = r.getAs[Long]("msg_id") - 1
      assert(r.getAs[Double]("x") === i * 1.0 && r.getAs[Double]("y") === i * 0.5)
    }
    // the ETL routes it typed too
    val dir = java.nio.file.Files.createTempDirectory("graft_idl_etl")
    java.nio.file.Files.copy(f, dir.resolve("a.db3"))
    val out = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_idl_etl_out").toFile, "out").getAbsolutePath
    val info = Db3Etl.run(spark, dir.toString, out)
    assert(info.tables === Map("graft_msgs_msg_Pose" -> 20L))
    assert(!new java.io.File(s"$out/RawMessages.parquet").exists())
  }

  test("file-mode zstd recording (.db3.zstd) reads through executor-local inflation") {
    val src = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(genuine))
    val dir = java.nio.file.Files.createTempDirectory("graft_db3_zstd")
    java.nio.file.Files.write(dir.resolve("a.db3.zstd"),
      com.github.luben.zstd.Zstd.compress(src))
    val df = spark.read.format("db3").load(dir.toString)
    assert(df.count() === 2000)
    val typed = spark.read.format("db3").option("path", dir.toString)
      .option("schema_name", "sensor_msgs/msg/Imu").load()
    assert(typed.count() === 999)
    val r = typed.orderBy("msg_id").limit(1).head()
    assert(r.getAs[Double]("x") === 0.0 && r.getAs[String]("topic") === "/imu")
    // mixed directory: a compressed and a plain file resolve together
    val plain = java.nio.file.Files.createTempDirectory("graft_db3_mix")
    java.nio.file.Files.write(plain.resolve("a.db3.zstd"),
      com.github.luben.zstd.Zstd.compress(src))
    java.nio.file.Files.copy(java.nio.file.Paths.get(genuine), plain.resolve("b.db3"))
    assert(spark.read.format("db3").load(plain.toString).count() === 4000)
  }

  test("message-mode zstd payloads inflate transparently (frame magic vs CDR first byte)") {
    val sb = graft.ros.mcap.Ros2Msg.bundle("std_msgs/msg/String", "string data")
    val rows = (0 until 12).map { i =>
      val cdr = graft.ros.mcap.CdrCodec.encode(sb, Seq(s"payload-$i-" + "x" * 50))
      val data = if (i % 2 == 0) com.github.luben.zstd.Zstd.compress(cdr) else cdr
      Seq[Any](null, 1L, 1000L + i, data)
    }
    val db = SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
        Seq(Seq[Any](null, "/c", "std_msgs/msg/String", "cdr", ""))),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)", rows),
      ("message_definitions", "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
        Seq(Seq[Any](null, "std_msgs/msg/String", "ros2msg", "string data", "h")))))
    val f = java.nio.file.Files.createTempFile("graft_msgzstd", ".db3")
    java.nio.file.Files.write(f, db)
    val typed = spark.read.format("db3").option("path", f.toString)
      .option("schema_name", "std_msgs/msg/String").load()
    val got = typed.orderBy("msg_id").collect()
      .map(_.getAs[String]("data_field")).toSeq
    assert(got === (0 until 12).map(i => s"payload-$i-" + "x" * 50))
    // the spine reports the INFLATED payload (that is the message)
    val sizes = spark.read.format("db3").load(f.toString)
      .orderBy("msg_id").select("size").collect().map(_.getInt(0)).toSeq
    val want = (0 until 12).map(i =>
      graft.ros.mcap.CdrCodec.encode(sb, Seq(s"payload-$i-" + "x" * 50)).length)
    assert(sizes === want, "spine size must be the inflated payload length")
  }

  test("live -wal sidecar is refused; topics dimension lists per-file rows") {
    val src = java.nio.file.Paths.get(genuine)
    val dir = java.nio.file.Files.createTempDirectory("graft_walled")
    val cp = dir.resolve("a.db3")
    java.nio.file.Files.copy(src, cp)
    java.nio.file.Files.write(dir.resolve("a.db3-wal"), Array[Byte](1, 2, 3))
    val ex = intercept[Exception] {
      spark.read.format("db3").load(cp.toString).count()
    }
    assert(ex.getMessage.contains("-wal"), ex.getMessage)
    java.nio.file.Files.delete(dir.resolve("a.db3-wal"))
    // HOT rollback journal (valid magic) = crashed writer: refused; a
    // cold/zeroed journal (PERSIST mode after clean commit) is fine
    val hot = Array(0xd9, 0xd5, 0x05, 0xf9, 0x20, 0xa1, 0x63, 0xd7)
      .map(_.toByte) ++ Array.fill[Byte](20)(0)
    java.nio.file.Files.write(dir.resolve("a.db3-journal"), hot)
    val exJ = intercept[Exception] {
      spark.read.format("db3").load(cp.toString).count()
    }
    assert(exJ.getMessage.contains("-journal"), exJ.getMessage)
    java.nio.file.Files.write(dir.resolve("a.db3-journal"), Array.fill[Byte](28)(0))
    assert(spark.read.format("db3").load(cp.toString).count() === 2000)
    java.nio.file.Files.delete(dir.resolve("a.db3-journal"))
    // directory resolution + dimension tables
    val dim = Db3Tables.topics(spark, dir.toString)
    assert(dim.collect().map(r => (r.getLong(1), r.getString(2))).toSet ===
      Set((1L, "/imu"), (2L, "/chatter"), (3L, "/bulk")))
    val defs = Db3Tables.definitions(spark, dir.toString)
    assert(defs.collect().map(r => (r.getString(1), r.getString(2))).toSet ===
      Set(("sensor_msgs/msg/Imu", "ros2msg"), ("std_msgs/msg/String", "ros2msg")))
  }
}
