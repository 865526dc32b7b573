package graft.ros.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkTestBase
import graft.ros.{Fixtures, MsgDefParser, RosSchemaMapper}
import graft.ros.bag.BagFormat
import graft.ros.bag.BagFormat.{BagConnection, WriteMessage}

/** The `_commit.json` protocol behind the incremental ETLs (VERDICT
  * r11 #2): steady-state appends must be METADATA-ONLY — committed max
  * from the record, debris detection from parquet footers driver-side,
  * zero Spark jobs over historical tables — while every crash window
  * still repairs to exactly-once.
  */
class EtlCommitRecordSpec extends SparkTestBase {

  private val imuBundle = MsgDefParser.parse("sensor_msgs/Imu", Fixtures.imuDef)

  private def imuBytes(seq: Long, sec: Int, ax: Double): Array[Byte] =
    RosSchemaMapper.encode(imuBundle, Seq[Any](
      seq, sec, 0, s"f$seq",
      0.1, 0.2, 0.3, 0.4, Seq.tabulate(9)(_.toDouble),
      1.0, 2.0, 3.0, Seq.tabulate(9)(i => i * 2.0),
      ax, 9.8, -9.8, Seq.tabulate(9)(i => i * 3.0)))

  private def addBag(dir: java.nio.file.Path, name: String, base: Int,
      n: Int = 3): Unit = {
    Files.write(dir.resolve(name), BagFormat.writeBag(
      Seq(BagConnection(0, "/imu_data", "sensor_msgs/Imu", Fixtures.imuMd5,
        Fixtures.imuDef, "/n")),
      (0 until n).map(i => WriteMessage(0, base + i, 0,
        imuBytes(i.toLong, base + i, i * 0.5))),
      messagesPerChunk = 2))
    ()
  }

  private def freshOut(tag: String): String = {
    val out = Files.createTempDirectory(tag).toString + "/out"
    Files.createDirectories(Paths.get(out))
    out
  }

  private def countJobs(body: => Unit): Int = EtlCommitRecordSpec.countJobs(spark)(body)

  test("steady-state repair is metadata-only: zero Spark jobs, record-supplied max") {
    val dir = Files.createTempDirectory("graft_cr_steady")
    addBag(dir, "a.bag", 1700000000)
    val out = freshOut("graft_cr_steady_out")
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    // the record was finalized by the increment
    assert(BagEtl.readCommitRecord(out).contains((2L, Seq.empty[String])))
    val done = spark.read.parquet(s"$out/Connections.parquet")
      .select(col("bag_path")).distinct().collect().map(_.getString(0)).toSet
    val jobs = countJobs {
      val m = BagEtl.repairCrashedIncrement(spark, out, "bag_path", done,
        dimension = "Connections")
      assert(m === 2L)
    }
    assert(jobs === 0,
      s"steady-state repair launched $jobs Spark job(s) over historical tables")
  }

  test("legacy dir (no record): exact scan once, record stamped, then metadata-only") {
    val dir = Files.createTempDirectory("graft_cr_legacy")
    addBag(dir, "a.bag", 1700000000)
    val out = freshOut("graft_cr_legacy_out")
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    // simulate a pre-round-12 corpus
    Files.deleteIfExists(Paths.get(s"$out/_commit.json"))
    addBag(dir, "b.bag", 1700000100)
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    assert(BagEtl.readCommitRecord(out).contains((5L, Seq.empty[String])))
    val m = spark.read.parquet(s"$out/Messages.parquet")
    assert(m.count() === 6 && m.select("seqno").distinct().count() === 6)
  }

  test("crash between dimension write and record finalize: recovered from footers") {
    val dir = Files.createTempDirectory("graft_cr_fin")
    addBag(dir, "a.bag", 1700000000)
    val out = freshOut("graft_cr_fin_out")
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    addBag(dir, "b.bag", 1700000100)
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    // rewind the record to the in-flight state the crash window leaves:
    // b.bag's data AND dimension landed, record never finalized
    val bPath = spark.read.parquet(s"$out/Connections.parquet")
      .filter(col("bag_path").endsWith("b.bag"))
      .select("bag_path").head().getString(0)
    BagEtl.writeCommitRecord(out, 2L, Seq(bPath))
    // quiescent redo: nothing re-converted, max recovered, record fixed
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 0)
    assert(BagEtl.readCommitRecord(out).contains((5L, Seq.empty[String])))
    val m = spark.read.parquet(s"$out/Messages.parquet")
    assert(m.count() === 6 && m.agg(max(col("seqno"))).head().getLong(0) === 5L)
  }

  test("dead increment purges via footers: dead part files deleted, no row scan") {
    val dir = Files.createTempDirectory("graft_cr_dead")
    addBag(dir, "a.bag", 1700000000)
    val out = freshOut("graft_cr_dead_out")
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    // simulate an increment that died after data writes, before its
    // dimension: orphan rows above the committed max in Messages and a
    // per-type table, record still naming the increment in-flight
    val imu = s"$out/sensor_msgs_Imu.parquet"
    val orphanImu = spark.read.parquet(imu).limit(2)
      .withColumn("seqno", col("seqno") + lit(100L))
    orphanImu.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(imu)
    val orphanMsg = spark.read.parquet(s"$out/Messages.parquet").limit(1)
      .withColumn("seqno", col("seqno") + lit(100L))
    orphanMsg.write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$out/Messages.parquet")
    BagEtl.writeCommitRecord(out, 2L, Seq(s"$dir/ghost.bag"))
    val done = spark.read.parquet(s"$out/Connections.parquet")
      .select(col("bag_path")).distinct().collect().map(_.getString(0)).toSet
    val jobs = countJobs {
      val m = BagEtl.repairCrashedIncrement(spark, out, "bag_path", done,
        dimension = "Connections")
      assert(m === 2L)
    }
    assert(jobs === 0, s"footer purge launched $jobs Spark job(s)")
    assert(spark.read.parquet(imu).count() === 3)
    assert(spark.read.parquet(s"$out/Messages.parquet").count() === 3)
    assert(BagEtl.readCommitRecord(out).contains((2L, Seq.empty[String])))
  }

  test("purge that empties a table preserves its schema (no unreadable bare dir)") {
    val dir = Files.createTempDirectory("graft_cr_empty")
    addBag(dir, "a.bag", 1700000000)
    val out = freshOut("graft_cr_empty_out")
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    // counterfeit side table holding ONLY debris rows
    val side = s"$out/ghost_table.parquet"
    spark.read.parquet(s"$out/Messages.parquet")
      .withColumn("seqno", col("seqno") + lit(100L)).write.parquet(side)
    BagEtl.writeCommitRecord(out, 2L, Seq(s"$dir/ghost.bag"))
    val done = spark.read.parquet(s"$out/Connections.parquet")
      .select(col("bag_path")).distinct().collect().map(_.getString(0)).toSet
    BagEtl.repairCrashedIncrement(spark, out, "bag_path", done, "Connections")
    val t = spark.read.parquet(side)   // must not throw "unable to infer schema"
    assert(t.count() === 0)
    assert(t.columns.contains("seqno"))
    // and a later append over the emptied table still works
    addBag(dir, "b.bag", 1700000100)
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
  }

  test("rename-aside leftovers from a crashed mixed-file rewrite are recovered") {
    val dir = Files.createTempDirectory("graft_cr_aside")
    addBag(dir, "a.bag", 1700000000)
    val out = freshOut("graft_cr_aside_out")
    assert(BagEtl.runIncremental(spark, dir.toString, out).count == 3)
    // simulate a crash mid-swap: live table renamed aside, promote
    // rename never ran
    val imu = Paths.get(s"$out/sensor_msgs_Imu.parquet")
    Files.move(imu, Paths.get(s"$out/sensor_msgs_Imu.parquet__old"))
    val done = spark.read.parquet(s"$out/Connections.parquet")
      .select(col("bag_path")).distinct().collect().map(_.getString(0)).toSet
    BagEtl.repairCrashedIncrement(spark, out, "bag_path", done, "Connections")
    assert(Files.exists(imu), "original table restored from the aside dir")
    assert(!Files.exists(Paths.get(s"$out/sensor_msgs_Imu.parquet__old")))
    assert(spark.read.parquet(imu.toString).count() === 3)
  }

  test("a corrupt chunk fails the data job loudly and lands nothing; the redo is exactly-once") {
    // two lz4 bags; seeded garbage over the second bag's LAST chunk. The
    // index section is intact, so the failure surfaces inside the job.
    val src = Files.createTempDirectory("graft_cr_corrupt_src")
    addBag(src, "a.bag", 1700000000, n = 9)
    addBag(src, "b.bag", 1700000100, n = 9)
    def lz4(name: String): Array[Byte] = {
      val plain = BagFormat.scanIndex(() => Files.newInputStream(src.resolve(name)))
      val msgs = plain.chunks.flatMap(c => BagFormat.chunkMessages(c,
        graft.ros.bag.RosbagIO.readChunkData(src.resolve(name).toString, c)))
      BagFormat.writeBag(plain.connections, msgs.map(m =>
        WriteMessage(m.connId, m.timeSec, m.timeNsec, m.data)), messagesPerChunk = 2,
        compression = "lz4")
    }
    val good = lz4("b.bag")
    val bad = good.clone()
    val last = BagFormat.scanIndex(() => new java.io.ByteArrayInputStream(good)).chunks.last
    val garbage = new Array[Byte](last.dataLength)
    new scala.util.Random(11).nextBytes(garbage)
    System.arraycopy(garbage, 0, bad, last.dataOffset.toInt, garbage.length)

    def dataFiles(out: String): Set[String] =
      Option(new java.io.File(out).listFiles).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.endsWith(".parquet"))
        .flatMap(d => d.listFiles.toSeq.filter(_.getName.startsWith("part-"))
          .map(f => s"${d.getName}/${f.getName}")).toSet
    def noScratch(out: String): Unit = Seq("_temporary", "_spine", "_seqno").foreach(d =>
      assert(!Files.exists(Paths.get(out, d)), s"$d left behind"))

    // run: a fresh output dir gets no table at all
    val dir = Files.createTempDirectory("graft_cr_corrupt")
    Files.write(dir.resolve("a.bag"), lz4("a.bag"))
    Files.write(dir.resolve("b.bag"), bad)
    val bags = graft.ros.bag.RosbagDataSource.files(dir.toString)
    val fresh = Files.createTempDirectory("graft_cr_corrupt_run").toString + "/out"
    intercept[org.apache.spark.SparkException](BagEtl.run(spark, dir.toString, fresh))
    assert(dataFiles(fresh).isEmpty)
    noScratch(fresh)
    assert(BagEtl.readCommitRecord(fresh).contains((-1L, bags)))

    // runIncremental: the failed append adds no part file anywhere
    val inc = Files.createTempDirectory("graft_cr_corrupt_inc")
    Files.write(inc.resolve("a.bag"), lz4("a.bag"))
    val out = freshOut("graft_cr_corrupt_out")
    assert(BagEtl.runIncremental(spark, inc.toString, out).count == 9)
    val before = dataFiles(out)
    Files.write(inc.resolve("b.bag"), bad)
    val bPath = graft.ros.bag.RosbagDataSource.files(inc.resolve("b.bag").toString)
    intercept[org.apache.spark.SparkException](BagEtl.runIncremental(spark, inc.toString, out))
    assert(dataFiles(out) == before)
    noScratch(out)
    assert(BagEtl.readCommitRecord(out).contains((8L, bPath)))

    // restored, the redo converts b exactly once
    Files.write(inc.resolve("b.bag"), good)
    assert(BagEtl.runIncremental(spark, inc.toString, out).count == 9)
    val m = spark.read.parquet(s"$out/Messages.parquet")
    assert(m.count() === 18 && m.select("seqno").distinct().count() === 18)
    assert(m.agg(min(col("seqno")), max(col("seqno"))).head() ==
      org.apache.spark.sql.Row(0L, 17L))
    assert(spark.read.parquet(s"$out/sensor_msgs_Imu.parquet").count() === 18)
    assert(spark.read.parquet(s"$out/Connections.parquet").count() === 2)
    assert(BagEtl.readCommitRecord(out).contains((17L, Seq.empty[String])))
  }

  test("commit record round-trips paths with ']', quotes, backslashes, newlines") {
    // ']' is the hostile one: a naive `[^\]]*` array regex truncates at
    // the bracket INSIDE the path, parsing a non-empty inflight set as
    // empty — a crashed increment would then be mis-repaired as steady
    // state and its committed rows silently purged
    val out = freshOut("graft_cr_esc_out")
    val hostile = Seq(
      "/data/rec[2].bag", "/data/a]b.bag", "/d/x\"y.bag",
      "/d/back\\slash.bag", "/d/new\nline.bag", "/d/plain.bag")
    BagEtl.writeCommitRecord(out, 7L, hostile)
    assert(BagEtl.readCommitRecord(out).contains((7L, hostile)))
    // the record stays one line (offset-log-grade escaping)
    val body = new String(Files.readAllBytes(Paths.get(s"$out/_commit.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!body.contains('\n'))
    // unterminated array (half-written record) is rejected, not misread
    assert(BagEtl.extractInflightBody("""{"committed":1,"inflight":["/a""").isEmpty)
  }

  test("footer ranges: per-file min/max match a Spark scan") {
    val dir = Files.createTempDirectory("graft_cr_foot")
    addBag(dir, "a.bag", 1700000000)
    addBag(dir, "b.bag", 1700000100)
    val out = freshOut("graft_cr_foot_out")
    BagEtl.runIncremental(spark, dir.toString, out)
    val msgs = s"$out/Messages.parquet"
    val viaFooter = BagEtl.footerSeqnoRanges(msgs)
    assert(viaFooter.isDefined && viaFooter.get.isRight)
    val ranges = viaFooter.get.toOption.get
    assert(ranges.nonEmpty)
    assert(ranges.map(_._2).min === 0L && ranges.map(_._3).max === 5L)
    // a dimension-shaped dir (no seqno) reports None
    assert(BagEtl.footerSeqnoRanges(s"$out/Connections.parquet").isEmpty)
  }
}

object EtlCommitRecordSpec {
  /** The jobs Spark starts while `body` runs. */
  def jobStarts(spark: org.apache.spark.sql.SparkSession)(body: => Unit)
      : Seq[SparkListenerJobStart] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { started.add(js); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener bus is async: drain before reading what it saw
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    started.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }

  /** Count Spark jobs launched while `body` runs. */
  def countJobs(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Int =
    jobStarts(spark)(body).size
}
