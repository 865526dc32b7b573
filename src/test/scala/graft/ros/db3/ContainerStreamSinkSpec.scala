package graft.ros.db3

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Streaming container sinks: `df.writeStream.format("mcap"/"rosbag"/
  * "db3"/"warc")` — the continuous re-emit direction (fleet stream in →
  * transform → playable container archive out). Files are named per
  * (partition, query, epoch) so epoch replays replace rather than
  * duplicate, and an epoch commit sweeps the extra files of a wider
  * crashed attempt; db3 additionally maintains metadata.yaml across
  * epoch commits with a replay-dedup ledger.
  */
class ContainerStreamSinkSpec extends SparkTestBase {

  private def baseNs = 1700000000000000000L

  /** Run a two-epoch stream into `format`, restarting the query from
    * the same checkpoint for the second batch so the sink sees two
    * distinct epoch commits (AvailableNow would fold one run's addData
    * calls into a single batch).
    */
  private def runTwoEpochs(format: String, out: String,
      prepare: DataFrame => DataFrame): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, String)]
    val ck = Files.createTempDirectory(s"${format}_sink_ck").toString
    def runOnce(): Unit = {
      val sq = prepare(mem.toDF().toDF("id", "topic", "txt"))
        .writeStream.format(format).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      sq.awaitTermination(120000)
    }
    mem.addData((0L until 6L).map(i => (i, s"/t${i % 2}", s"m-$i")): _*)
    runOnce()
    mem.addData((6L until 10L).map(i => (i, s"/t${i % 2}", s"m-$i")): _*)
    runOnce()
  }

  private def names(out: String, ext: String): Seq[String] =
    new java.io.File(out).listFiles().toSeq.map(_.getName)
      .filter(n => n.endsWith(ext) && !n.startsWith("."))

  test("mcap streaming sink: two epochs land exactly once, files named per epoch") {
    val out = Files.createTempDirectory("mcap_stream_sink").toString + "/export"
    runTwoEpochs("mcap", out, df =>
      graft.ros.mcap.McapExport.prepare(df,
        topic = col("topic"), logTimeNs = col("id") * lit(1000L) + lit(baseNs),
        data = encode(col("txt"), "UTF-8"), schemaName = lit("graft/T")))
    val fs = names(out, ".mcap")
    assert(fs.nonEmpty && fs.forall(_.matches("part-\\d{5}-q[0-9a-f-]{8}-e\\d+\\.mcap")))
    assert(fs.map(_.replaceAll(".*-e(\\d+)\\.mcap", "$1")).toSet.size === 2,
      s"two epochs expected in $fs")
    val back = spark.read.format("mcap").load(out)
    assert(back.count() === 10)
    assert(back.select("topic").distinct().collect().map(_.getString(0)).toSet
      === Set("/t0", "/t1"))
    // rows are exactly-once: ids 0..9 each appear once as payloads
    val texts = back.select(expr("decode(data, 'UTF-8')")).collect()
      .map(_.getString(0)).sorted
    assert(texts.toSeq === (0 until 10).map(i => s"m-$i").sorted)
  }

  test("rosbag streaming sink: two epochs, playable spine round-trip") {
    val out = Files.createTempDirectory("bag_stream_sink").toString + "/export"
    runTwoEpochs("rosbag", out, df =>
      graft.ros.bag.BagExport.prepare(df,
        topic = col("topic"), timeNs = col("id") * lit(1000L) + lit(baseNs),
        data = encode(col("txt"), "UTF-8")))
    val fs = names(out, ".bag")
    assert(fs.nonEmpty && fs.forall(_.matches("part-\\d{5}-q[0-9a-f-]{8}-e\\d+\\.bag")))
    val back = spark.read.format("rosbag").load(out)
    assert(back.count() === 10)
    val counts = back.groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("/t0" -> 5L, "/t1" -> 5L))
  }

  test("db3 streaming sink: metadata.yaml accumulates across epochs with a replay ledger") {
    val out = Files.createTempDirectory("db3_stream_sink").toString + "/export"
    runTwoEpochs("db3", out, df =>
      Db3Export.prepare(df,
        topic = col("topic"), timestampNs = col("id") * lit(1000L) + lit(baseNs),
        data = encode(col("txt"), "UTF-8"), tpe = lit("graft/T")))
    val back = spark.read.format("db3").load(out)
    assert(back.count() === 10)
    val yaml = new String(Files.readAllBytes(
      new java.io.File(out, "metadata.yaml").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val (paths, st, ledger) = Db3BagMetadata.parseWithEpochs(yaml)
    assert(st.counts.values.sum === 10L)
    assert(st.counts(("/t0", "graft/T", "cdr")) === 5L)
    // ledger: one query, max merged epoch >= 1 (two epochs ran)
    assert(ledger.size === 1 && ledger.values.head >= 1L,
      s"per-query max-epoch ledger expected, got $ledger")
    assert(paths.toSet === names(out, ".db3").toSet)
    // a replayed epoch commit (id <= the ledger max) merges nothing:
    // counts stay exact
    val fsys = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(Db3IO.hadoopConf())
    val (qid, maxE) = ledger.head
    Db3BagMetadata.mergeMetadata(fsys, out,
      Seq(Db3BagMetadata.TaskStats(Db3BagMetadata.Stats(
        Map(("/t0", "graft/T", "cdr") -> 5L), baseNs, baseNs))),
      truncate = false, epoch = Some((qid, maxE)))
    val (_, st2, _) = Db3BagMetadata.parseWithEpochs(
      new String(Files.readAllBytes(
        new java.io.File(out, "metadata.yaml").toPath),
        java.nio.charset.StandardCharsets.UTF_8))
    assert(st2.counts === st.counts, "replayed epoch must not double-count")
    // a DIFFERENT query's epoch 0 is NOT a replay: its stats merge
    Db3BagMetadata.mergeMetadata(fsys, out,
      Seq(Db3BagMetadata.TaskStats(Db3BagMetadata.Stats(
        Map(("/t0", "graft/T", "cdr") -> 2L), baseNs, baseNs))),
      truncate = false, epoch = Some(("otherqid", 0L)))
    val (_, st3, ledger3) = Db3BagMetadata.parseWithEpochs(
      new String(Files.readAllBytes(
        new java.io.File(out, "metadata.yaml").toPath),
        java.nio.charset.StandardCharsets.UTF_8))
    assert(st3.counts(("/t0", "graft/T", "cdr")) === 7L,
      "another query's epoch 0 must merge, not be mistaken for a replay")
    assert(ledger3 === ledger + ("otherqid" -> 0L))
  }

  /** Run one epoch, plant partition 7's files of the NEXT epoch as a
    * wider crashed attempt would have left them (copies of a real
    * epoch-0 file, rows and all, plus `extra` sidecar suffixes), run
    * that epoch, and check the plants are gone and every row reads back
    * exactly once.
    */
  private def sweepsWiderAttempt(format: String, suffix: String,
      extra: Seq[String], prepare: DataFrame => DataFrame)(
      texts: String => Seq[String]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = Files.createTempDirectory(s"${format}_sweep").toString + "/export"
    val ck = Files.createTempDirectory(s"${format}_sweep_ck").toString
    val mem = MemoryStream[(Long, String, String)]
    def runOnce(): org.apache.spark.sql.streaming.StreamingQuery = {
      val sq = prepare(mem.toDF().toDF("id", "topic", "txt"))
        .writeStream.format(format).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      sq.awaitTermination(120000)
      sq
    }
    mem.addData((0L until 6L).map(i => (i, s"/t${i % 2}", s"m-$i")): _*)
    val qid = runOnce().id.toString.take(8)
    val dir = new java.io.File(out)
    val first = dir.listFiles().toSeq.map(_.getName)
      .find(n => n.startsWith("part-") && n.contains(s"-q$qid-e0") && n.endsWith(suffix))
      .getOrElse(fail(s"no epoch-0 $suffix file in ${dir.list().toSeq}"))
    val firstStem = first.stripSuffix(suffix)
    val rest = firstStem.substring(firstStem.indexOf("-e0") + 3)
    val planted = (suffix +: extra).map { sfx =>
      val p = new java.io.File(dir, s"part-00007-q$qid-e1$rest$sfx")
      Files.copy(new java.io.File(dir, firstStem + sfx).toPath, p.toPath)
      p
    }
    mem.addData((6L until 10L).map(i => (i, s"/t${i % 2}", s"m-$i")): _*)
    runOnce()
    assert(planted.forall(!_.exists), s"planted files survived: ${dir.list().toSeq}")
    assert(texts(out).sorted === (0 until 10).map(i => s"m-$i").sorted)
  }

  private def decoded(format: String, col0: String)(out: String): Seq[String] =
    spark.read.format(format).load(out).select(expr(s"decode($col0, 'UTF-8')"))
      .collect().map(_.getString(0)).toSeq

  test("rosbag epoch commit sweeps a wider crashed attempt's files") {
    sweepsWiderAttempt("rosbag", ".bag", Nil, df =>
      graft.ros.bag.BagExport.prepare(df,
        topic = col("topic"), timeNs = col("id") * lit(1000L) + lit(baseNs),
        data = encode(col("txt"), "UTF-8")))(decoded("rosbag", "data"))
  }

  test("mcap epoch commit sweeps a wider crashed attempt's files") {
    sweepsWiderAttempt("mcap", ".mcap", Nil, df =>
      graft.ros.mcap.McapExport.prepare(df,
        topic = col("topic"), logTimeNs = col("id") * lit(1000L) + lit(baseNs),
        data = encode(col("txt"), "UTF-8")))(decoded("mcap", "data"))
  }

  test("db3 epoch commit sweeps a wider crashed attempt's files") {
    sweepsWiderAttempt("db3", ".db3", Nil, df =>
      Db3Export.prepare(df,
        topic = col("topic"), timestampNs = col("id") * lit(1000L) + lit(baseNs),
        data = encode(col("txt"), "UTF-8"), tpe = lit("graft/T")))(decoded("db3", "data"))
  }

  test("warc epoch commit sweeps a wider crashed attempt's shards and sidecars") {
    sweepsWiderAttempt("warc", ".warc.gz", Seq(".cdx"), df =>
      graft.warc.WarcExport.prepare(df, warcType = lit("resource"),
        payload = encode(col("txt"), "UTF-8"),
        targetUri = concat(lit("https://ex.com/"), col("id").cast("string"))))(
      decoded("warc", "payload"))
  }

  test("db3 epoch abort keeps an epoch the crash-recovery .metadata.yaml.next counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = Files.createTempDirectory("db3_abort_next").toString + "/export"
    val ck = Files.createTempDirectory("db3_abort_next_ck").toString
    val mem = MemoryStream[(Long, String, String)]
    // row 9 fails the replay's task after a delay, so the other
    // partition's task has committed (re-renamed its epoch-0 file) and
    // its commit message reaches the epoch abort
    val poison = udf { (id: Long) =>
      if (ContainerStreamSinkSpec.failReplay && id == 9L) {
        Thread.sleep(1500)
        throw new IllegalStateException("replay failure")
      }
      id
    }
    def start(): org.apache.spark.sql.streaming.StreamingQuery =
      Db3Export.prepare(mem.toDF().toDF("id", "topic", "txt").repartition(2),
          topic = col("topic"),
          timestampNs = poison(col("id")) * lit(1000L) + lit(baseNs),
          data = encode(col("txt"), "UTF-8"), tpe = lit("graft/T"))
        .writeStream.format("db3").option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
    mem.addData((0L until 10L).map(i => (i, s"/t${i % 2}", s"m-$i")): _*)
    start().awaitTermination(120000)
    val dir = new java.io.File(out)
    def epochFiles: Set[String] = dir.list().toSet.filter(n => n.startsWith("part-") &&
      n.endsWith(".db3"))
    val committed = epochFiles
    assert(committed.size === 2, s"one file per partition expected: $committed")
    // the state a crash between "delete metadata.yaml" and "rename .next"
    // leaves: the ledger (this query at epoch 0) lives in .next only
    Files.move(new java.io.File(dir, "metadata.yaml").toPath,
      new java.io.File(dir, ".metadata.yaml.next").toPath)
    // the checkpoint never recorded epoch 0's commit: restart replays it
    new java.io.File(ck, "commits/0").delete()
    new java.io.File(ck, "commits/.0.crc").delete()
    ContainerStreamSinkSpec.failReplay = true
    try intercept[Exception](start().awaitTermination(120000))
    finally ContainerStreamSinkSpec.failReplay = false
    assert(epochFiles === committed,
      "aborting a replay of an epoch the ledger counts must keep its files")
    assert(spark.read.format("db3").load(out).count() === 10L)
  }
}

object ContainerStreamSinkSpec {
  @volatile var failReplay = false
}
