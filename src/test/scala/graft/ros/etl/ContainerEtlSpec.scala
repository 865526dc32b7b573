package graft.ros.etl

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ros.db3.{Db3DataSource, Db3Etl, SqliteFormat}
import graft.ros.mcap.{CdrCodec, McapDataSource, McapEtl, Ros2Msg}
import graft.ros.mcap.McapFormat._

/** McapEtl and Db3Etl through the route-by-type core: `maxMessages`
  * keeps the first n messages in merge-time order, a failed data job
  * lands nothing and its redo is exactly-once, and the write is one
  * Spark job whatever the variant count.
  */
class ContainerEtlSpec extends SparkTestBase {
  /** `types` ros2msg types `p/msg/T<k>` of one float64 field each. */
  private def defs(types: Int): Seq[(String, String)] =
    (0 until types).map(k => (s"p/msg/T$k", s"float64 v$k"))

  /** `n` messages round-robin over `types` channels, log times from
    * `t0`; channel 1's message encoding is `enc1`.
    */
  private def mcap(dir: Path, name: String, n: Int, t0: Long, types: Int = 2,
      enc1: String = "cdr"): Unit = {
    val ds = defs(types)
    val msgs = (0 until n).map { i =>
      val k = i % types
      McapMessage(k + 1, i.toLong, t0 + i, t0 + i,
        CdrCodec.encode(Ros2Msg.bundle(ds(k)._1, ds(k)._2), Seq(i * 1.5)))
    }
    Files.write(dir.resolve(name), writeMcap(
      ds.zipWithIndex.map { case ((t, d), k) => McapSchema(k + 1, t, "ros2msg", d.getBytes("UTF-8")) },
      ds.indices.map(k => McapChannel(k + 1, k + 1, s"/t$k", if (k == 0) enc1 else "cdr")),
      msgs, "zstd", chunkGroups = 3))
    ()
  }

  /** `n` messages round-robin over `types` cdr topics, timestamps from
    * `t0`, with ~1 KB payloads so the messages span several pages; the
    * messages table is written last, so its leaves are the file's last
    * pages.
    */
  private def db3(dir: Path, name: String, n: Int, t0: Long, types: Int = 2): Unit = {
    val ds = defs(types).map { case (t, d) => (t, d + "\nstring pad") }
    val rows = (0 until n).map { i =>
      val k = i % types
      Seq[Any](null, (k + 1).toLong, t0 + i,
        CdrCodec.encode(Ros2Msg.bundle(ds(k)._1, ds(k)._2), Seq(i * 1.5, "x" * 1000)))
    }
    Files.write(dir.resolve(name), SqliteFormat.writeDb(Seq(
      ("topics", "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, " +
        "serialization_format TEXT, offered_qos_profiles TEXT)",
        ds.indices.map(k => Seq[Any](null, s"/t$k", ds(k)._1, "cdr", ""))),
      ("message_definitions", "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, " +
        "topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
        ds.map { case (t, d) => Seq[Any](null, t, "ros2msg", d, "h") }),
      ("messages", "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, " +
        "timestamp INTEGER, data BLOB)", rows))))
    ()
  }

  private def freshOut(tag: String): String =
    Files.createTempDirectory(tag).resolve("out").toString

  private def seqnos(out: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$out/Messages.parquet").orderBy("seqno").collect().toSeq
      .map(r => (r.getAs[Long]("seqno"), r.getAs[Long](if (r.schema.fieldNames.contains("log_time"))
        "log_time" else "timestamp")))

  /** Two files whose order is the reverse of their time order: the
    * second file's messages are the earliest.
    */
  private def assertFirstByTime(write: (Path, String, Int, Long) => Unit, ext: String,
      run: (String, String, Option[Long]) => Long): Unit = {
    val dir = Files.createTempDirectory("graft_cetl_max")
    write(dir, s"a.$ext", 6, 500L)
    write(dir, s"b.$ext", 6, 100L)
    val out = freshOut("graft_cetl_max_out")
    assert(run(dir.toString, out, Some(4L)) == 4L)
    assert(seqnos(out) == (0L until 4L).map(i => (i, 100L + i)))
    val all = freshOut("graft_cetl_max_all")
    assert(run(dir.toString, all, Some(1L << 31)) == 12L)
    assert(seqnos(all).map(_._2) == (100L until 106L) ++ (500L until 506L))
  }

  test("McapEtl maxMessages keeps the n earliest messages by log time, across files") {
    assertFirstByTime((d, n, k, t) => mcap(d, n, k, t), "mcap",
      (in, out, max) => McapEtl.run(spark, in, out, maxMessages = max).messages)
  }

  test("Db3Etl maxMessages keeps the n earliest messages by timestamp, across files") {
    assertFirstByTime((d, n, k, t) => db3(d, n, k, t), "db3",
      (in, out, max) => Db3Etl.run(spark, in, out, maxMessages = max).messages)
  }

  private def dataFiles(out: String): Set[String] =
    Option(new java.io.File(out).listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.endsWith(".parquet"))
      .flatMap(d => d.listFiles.toSeq.filter(_.getName.startsWith("part-"))
        .map(f => s"${d.getName}/${f.getName}")).toSet

  private def noScratch(out: String): Unit =
    Seq("_temporary", "_spine", "_seqno", "_stage").foreach(d =>
      assert(!Files.exists(Paths.get(out, d)), s"$d left behind"))

  /** `run` and `runIncremental` over a bad second file fail, land no
    * part file and leave no scratch dir, with the commit record naming
    * the in-flight files; once `fix` restores the file, the redo lands
    * its rows exactly once under dense seqnos.
    */
  private def assertFailedRunsLandNothing(first: Path => Unit, bad: Path => Path,
      fix: Path => Unit, resolve: String => Seq[String],
      run: (String, String) => Unit, increment: (String, String) => Long): Unit = {
    val dir = Files.createTempDirectory("graft_cetl_fail")
    first(dir)
    val b = bad(dir)
    val fresh = freshOut("graft_cetl_fail_run")
    val e = intercept[Exception](run(dir.toString, fresh))
    assert(dataFiles(fresh).isEmpty, causeMessages(e))
    noScratch(fresh)
    assert(BagEtl.readCommitRecord(fresh).contains((-1L, resolve(dir.toString))))

    val inc = Files.createTempDirectory("graft_cetl_fail_inc")
    first(inc)
    val out = freshOut("graft_cetl_fail_out")
    val n = increment(inc.toString, out)
    val before = dataFiles(out)
    Files.copy(b, inc.resolve(b.getFileName))
    intercept[Exception](increment(inc.toString, out))
    assert(dataFiles(out) == before)
    noScratch(out)
    assert(BagEtl.readCommitRecord(out).contains((n - 1, resolve(inc.resolve(b.getFileName).toString))))

    fix(inc)
    val m = increment(inc.toString, out)
    val s = spark.read.parquet(s"$out/Messages.parquet")
    assert(s.count() == n + m && s.select("seqno").distinct().count() == n + m)
    assert(s.agg(min(col("seqno")), max(col("seqno"))).head() ==
      org.apache.spark.sql.Row(0L, n + m - 1))
    assert(BagEtl.readCommitRecord(out).contains((n + m - 1, Seq.empty[String])))
  }

  test("McapEtl: a channel its schema's decoder cannot read fails the job; nothing lands, the redo is exactly-once") {
    val e = intercept[Exception] {
      val dir = Files.createTempDirectory("graft_cetl_msg")
      mcap(dir, "b.mcap", 6, 200L, enc1 = "json")
      McapEtl.run(spark, dir.toString, freshOut("graft_cetl_msg_out"))
    }
    assert(causeMessages(e).contains("encodes messages as 'json'"), causeMessages(e))
    assertFailedRunsLandNothing(
      dir => mcap(dir, "a.mcap", 8, 100L),
      dir => { mcap(dir, "b.mcap", 6, 200L, enc1 = "json"); dir.resolve("b.mcap") },
      dir => mcap(dir, "b.mcap", 6, 200L), McapDataSource.files,
      (in, out) => { McapEtl.run(spark, in, out); () },
      (in, out) => McapEtl.runIncremental(spark, in, out).messages)
  }

  test("Db3Etl: a corrupt late page of the second file fails the run; nothing lands, the redo is exactly-once") {
    def corrupt(dir: Path): Path = {
      db3(dir, "b.db3", 24, 200L)
      val p = dir.resolve("b.db3")
      val bytes = Files.readAllBytes(p)
      val pageSize = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)
      // the last table-leaf page: the messages b-tree's latest rows
      val last = (bytes.length / pageSize - 1 to 1 by -1).find(i => bytes(i * pageSize) == 0x0d).get
      val garbage = new Array[Byte](pageSize)
      new scala.util.Random(11).nextBytes(garbage)
      System.arraycopy(garbage, 0, bytes, last * pageSize, pageSize)
      Files.write(p, bytes)
      p
    }
    assertFailedRunsLandNothing(
      dir => db3(dir, "a.db3", 10, 100L), corrupt,
      dir => db3(dir, "b.db3", 24, 200L), Db3DataSource.files,
      (in, out) => { Db3Etl.run(spark, in, out); () },
      (in, out) => Db3Etl.runIncremental(spark, in, out).messages)
  }

  test("the MCAP and db3 write is one Spark job whatever the variant count") {
    def jobs(write: (Path, Int) => Unit, run: (String, String) => Unit): Seq[Int] =
      Seq(1, 3).map { types =>
        val dir = Files.createTempDirectory("graft_cetl_jobs")
        write(dir, types)
        val out = freshOut("graft_cetl_jobs_out")
        EtlCommitRecordSpec.countJobs(spark)(run(dir.toString, out))
      }
    // Hadoop keeps file system statistics per (scheme, class)
    def defaultFsWritten(): Long = org.apache.hadoop.fs.FileSystem
      .getStatistics("file", classOf[org.apache.hadoop.fs.RawLocalFileSystem]).getBytesWritten
    val written0 = defaultFsWritten()
    val ((m, d), warns) = ContainerEtlSpec.warnings {
      (jobs((d, k) => mcap(d, "a.mcap", 12, 100L, types = k),
        (in, out) => { McapEtl.run(spark, in, out); () }),
        jobs((dir, k) => db3(dir, "a.db3", 12, 100L, types = k),
          (in, out) => { Db3Etl.run(spark, in, out); () }))
    }
    // the staged scratch dirs read back under a root path Spark does
    // not hide
    assert(!warns.exists(_.contains("All paths were ignored")), warns)
    assert(m(0) == m(1), s"mcap jobs for 1 and 3 variants: $m")
    assert(d(0) == d(1), s"db3 jobs for 1 and 3 variants: $d")
    // the two staged scratch dirs are read back with the schema they
    // were written with: no schema-inference job for either (9 -> 7)
    assert(m === Seq(7, 7), s"mcap jobs: $m")
    assert(d === Seq(7, 7), s"db3 jobs: $d")
    // every file, the staged scratch dirs' included, was written
    // through graft.io.LocalFs, none through Hadoop's default
    assert(defaultFsWritten() == written0)
  }
}

object ContainerEtlSpec {
  /** `body`'s result and the WARN (or worse) messages logged while it ran. */
  def warnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) { seen.add(e.getMessage.getFormattedMessage); () }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try {
      val r = body
      (r, seen.toArray(Array.empty[String]).toSeq)
    } finally { root.removeAppender(capture); capture.stop() }
  }
}
