package graft.ros.etl

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ros.{MsgDefParser, RosMd5, RosSchemaMapper}
import graft.ros.bag.{BagFormat, RosbagDataSource, RosbagIO, RosbagSeqno}
import graft.ros.bag.BagFormat.{BagConnection, WriteMessage}

/** BagEtl numbers messages inside the scan from the chunk index, and
  * falls back to the staged spine + Seqno operator only for loads the
  * index cannot number cheaply — with identical output either way.
  */
class BagEtlSeqnoSpec extends SparkTestBase {
  private val aDef = "int32 v"
  private val bDef = "float64 x\nstring s"
  private val aBundle = MsgDefParser.parse("test_msgs/A", aDef)
  private val bBundle = MsgDefParser.parse("test_msgs/B", bDef)
  private val conns = Seq(
    BagConnection(0, "/a", "test_msgs/A", RosMd5.compute(aBundle), aDef, "/n"),
    BagConnection(1, "/b", "test_msgs/B", RosMd5.compute(bBundle), bDef, "/n"))

  private def msg(conn: Int, sec: Int, nsec: Int = 0): WriteMessage =
    WriteMessage(conn, sec, nsec,
      if (conn == 0) RosSchemaMapper.encode(aBundle, Seq(sec * 7 + nsec))
      else RosSchemaMapper.encode(bBundle, Seq(sec + nsec / 1e9, s"s$sec" * 1000)))

  /** Two bags whose chunks overlap inside each bag and across the two,
    * with equal times across bags and out-of-order times in a chunk;
    * (uncompressed so a copy stripped of chunk-info keeps connections).
    */
  private val chunksA = Seq(Seq(msg(0, 10), msg(1, 12), msg(0, 11)),
    Seq(msg(1, 11, 500), msg(0, 13)), Seq(msg(0, 30), msg(1, 31)))
  private val chunksB = Seq(Seq(msg(1, 12), msg(0, 12)), Seq(), Seq(msg(0, 20), msg(1, 21)))

  private def writeLoad(strip: Boolean, dir: Path = Files.createTempDirectory("graft_etlseq")): Path = {
    Seq("a.bag" -> chunksA, "b.bag" -> chunksB).foreach { case (name, chunks) =>
      val bytes = BagFormat.writeBagChunks(conns, chunks)
      val last = BagFormat.scanIndex(() => new java.io.ByteArrayInputStream(bytes)).chunks.last
      Files.write(dir.resolve(name),
        if (strip) bytes.take((last.dataOffset + last.dataLength).toInt) else bytes)
    }
    dir
  }

  private def out(tag: String) = Files.createTempDirectory(tag).toString + "/out"

  private def numbering(dir: Path) =
    RosbagSeqno.cheapGroups(RosbagIO.scanIndexes(RosbagDataSource.files(dir.toString)))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  // a partition budget below the ~10 KB first overlap group (a far
  // smaller one splits every parquet read into byte-sized tasks)
  private val tinyPartitions = Seq("spark.sql.files.maxPartitionBytes" -> "4096",
    "spark.graft.chunkOpenCostBytes" -> "0")

  /** Run the ETL; returns the number of shuffle stages it ran. */
  private def etl(dir: Path, o: String): Int =
    EtlCommitRecordSpec.jobStarts(spark) { BagEtl.run(spark, dir.toString, o); () }.flatMap(_.stageInfos).count(org.apache.spark.GraftTestAccess.isShuffleMapStage)

  private def rows(o: String, table: String) = {
    val df = spark.read.parquet(s"$o/$table.parquet")
    val key = if (df.columns.contains("seqno")) Seq("seqno") else Seq("bag_path", "connection_id")
    df.orderBy(key.map(col): _*).collect().toSeq
  }
  private val tables = Seq("Messages", "Connections", "test_msgs_A", "test_msgs_B")

  test("index-numbered ETL == both fallback triggers") {
    val dir = writeLoad(strip = false)
    assert(numbering(dir).isRight)
    val indexed = out("graft_etlseq_idx")
    assert(etl(dir, indexed) == 0, "the index path ran a shuffle")
    assert(rows(indexed, "Messages").map(_.getAs[Long]("seqno")) == (0L until 11L))

    val budget = out("graft_etlseq_budget")
    withConf(tinyPartitions: _*) {
      assert(numbering(dir).left.toOption.exists(_.contains("partition budget")))
      assert(etl(dir, budget) > 0, "the budget fallback did not run the Seqno shuffle")
    }

    // the same paths, rewritten as unclosed recordings without chunk-info
    writeLoad(strip = true, dir)
    assert(numbering(dir).left.toOption.exists(_.contains("no chunk-info")))
    val stripped = out("graft_etlseq_strip")
    assert(etl(dir, stripped) > 0)

    Seq(budget, stripped).foreach { o =>
      tables.foreach(t => assert(rows(o, t) == rows(indexed, t), s"$o/$t"))
    }
  }

  test("bags with different message types number in the scan only while their chunks stay apart") {
    // one datatype per bag, like concurrent recordings split by sensor
    def load(bSec: Int): Path = {
      val dir = Files.createTempDirectory("graft_etlseq_types")
      Files.write(dir.resolve("a.bag"), BagFormat.writeBagChunks(conns.take(1),
        Seq(Seq(msg(0, 10), msg(0, 11)), Seq(msg(0, 12), msg(0, 13)))))
      Files.write(dir.resolve("b.bag"), BagFormat.writeBagChunks(conns.drop(1),
        Seq(Seq(msg(1, bSec), msg(1, bSec + 1, 500)))))
      dir
    }
    val apart = load(20)
    assert(numbering(apart).isRight)
    assert(etl(apart, out("graft_etlseq_apart")) == 0)

    val overlapping = load(11)
    assert(numbering(overlapping).left.toOption.exists(_.contains("different message types")))
    val o = out("graft_etlseq_types")
    assert(etl(overlapping, o) > 0, "the mixed-types fallback did not run the Seqno shuffle")
    val spine = spark.read.format("rosbag").load(overlapping.toString)
    val cols = Seq("seqno", "bag_path", "time_sec", "time_nsec", "connection_id")
    assert(spark.read.parquet(s"$o/Messages.parquet").select(cols.map(col): _*)
        .orderBy("seqno").collect().toSeq ==
      spine.select(spine.metadataColumn("seqno").as("seqno") +: cols.tail.map(col): _*)
        .orderBy("seqno").collect().toSeq)
    assert(spark.read.parquet(s"$o/test_msgs_A.parquet").count() == 4 &&
      spark.read.parquet(s"$o/test_msgs_B.parquet").count() == 2)
  }

  test("an indexed one-bag ETL runs no shuffle stage and at most one job per table") {
    // incompressible ~64 KB lz4 chunks, far above the file system's
    // read buffer: a chunk read then reads its own bytes, so the bytes
    // read count how often the ETL reads the bag (a bag of ~400-byte
    // chunks reads ~2.4x its size through the buffer on one pass)
    val rng = new scala.util.Random(5)
    val p = Files.createTempFile("graft_etlseq_shape", ".bag")
    Files.write(p, BagFormat.writeBag(conns,
      (0 until 40).map(i => WriteMessage(i % 2, 100 + i / 3, (i % 3) * 1000,
        if (i % 2 == 0) RosSchemaMapper.encode(aBundle, Seq(i))
        else RosSchemaMapper.encode(bBundle, Seq(i * 0.5, rng.alphanumeric.take(22000).mkString)))),
      messagesPerChunk = 6, compression = "lz4"))
    val bag = RosbagDataSource.files(p.toString)
    // the index is read (and cached) once per bag version; this measures
    // the ETL's own pass over the chunks
    RosbagIO.scanIndexes(bag)
    def fileBytesRead(): Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    val o = out("graft_etlseq_shape")
    val read0 = fileBytesRead()
    val jobs = EtlCommitRecordSpec.jobStarts(spark) { BagEtl.run(spark, p.toString, o); () }
    val read = fileBytesRead() - read0
    assert(jobs.flatMap(_.stageInfos).forall(!org.apache.spark.GraftTestAccess.isShuffleMapStage(_)))
    // one data job for every table; Connections is written on the driver
    assert(jobs.size == 1, s"${jobs.size} jobs for ${tables.size} tables")
    assert(read <= 1.3 * Files.size(p), s"read $read bytes of a ${Files.size(p)}-byte bag")
    tables.foreach(t => assert(spark.read.parquet(s"$o/$t.parquet").count() > 0, t))
  }

  test("Info equals a re-read of Messages: run, an incremental slice, a zero-message bag") {
    def reread(o: String, bags: Option[Seq[String]] = None): (Long, Long, Long) = {
      val m = spark.read.parquet(s"$o/Messages.parquet")
      val r = bags.fold(m)(b => m.filter(col("bag_path").isin(b: _*)))
        .agg(count(lit(1)), coalesce(sum(col("size").cast("long")), lit(0L)),
          coalesce(expr("bit_xor(data_crc32)"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def triple(i: BagEtl.Info) = (i.count, i.sizeBytes, i.crcXor)

    val dir = writeLoad(strip = false)
    val o1 = out("graft_etlseq_info")
    assert(triple(BagEtl.run(spark, dir.toString, o1)) == reread(o1))

    val inc = Files.createTempDirectory("graft_etlseq_inc")
    Files.copy(dir.resolve("a.bag"), inc.resolve("a.bag"))
    val o2 = out("graft_etlseq_inc")
    val first = BagEtl.runIncremental(spark, inc.toString, o2)
    assert(triple(first) == reread(o2) && first.count == 7)
    Files.copy(dir.resolve("b.bag"), inc.resolve("b.bag"))
    val slice = BagEtl.runIncremental(spark, inc.toString, o2)
    val bBag = RosbagDataSource.files(inc.resolve("b.bag").toString)
    assert(slice.count == 4 && triple(slice) == reread(o2, Some(bBag)))
    assert(BagEtl.readCommitRecord(o2).contains((10L, Seq.empty[String])))

    val empty = Files.createTempDirectory("graft_etlseq_empty")
    Files.write(empty.resolve("z.bag"), BagFormat.writeBag(conns, Nil))
    val o3 = out("graft_etlseq_empty")
    assert(triple(BagEtl.run(spark, empty.toString, o3)) == ((0L, 0L, 0L)))
    assert(reread(o3) == ((0L, 0L, 0L)))
    assert(BagEtl.readCommitRecord(o3).contains((-1L, Seq.empty[String])))
  }
}
