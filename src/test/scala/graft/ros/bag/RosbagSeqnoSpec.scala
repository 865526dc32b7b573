package graft.ros.bag

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.operators.Seqno
import graft.ros.{MsgDefParser, RosMd5, RosSchemaMapper}
import BagFormat._

/** The `seqno` metadata column numbered from the chunk index inside the
  * scan (RosbagSeqno) against the reference numbering it replaces,
  * `Seqno.globalSeqno` over the same load's spine.
  */
class RosbagSeqnoSpec extends SparkTestBase {
  private val aDef = "int32 v"
  private val bDef = "float64 x\nstring s"
  private val aBundle = MsgDefParser.parse("test_msgs/A", aDef)
  private val bBundle = MsgDefParser.parse("test_msgs/B", bDef)
  private val conns = Seq(
    BagConnection(0, "/a", "test_msgs/A", RosMd5.compute(aBundle), aDef, "/n"),
    BagConnection(1, "/b", "test_msgs/B", RosMd5.compute(bBundle), bDef, "/n"))

  /** Cut a bag after its last chunk: no trailing index, so no chunk-info
    * records — an unclosed recording. Only uncompressed bags keep their
    * connections (read inline from the chunks).
    */
  private def stripChunkInfo(bytes: Array[Byte]): Array[Byte] =
    BagFormat.scanIndex(() => new java.io.ByteArrayInputStream(bytes)).chunks
      .lastOption.fold(bytes)(c => bytes.take((c.dataOffset + c.dataLength).toInt))

  /** 1-3 bags of 1-5 chunks of 0-4 messages. Times start near the same
    * second in every bag, mostly step forward by 0-2 s on a 500 ms
    * grid and sometimes step back — equal times across bags and chunks,
    * out-of-order times inside a chunk, and chunk intervals that are
    * disjoint, touching or overlapping. Some chunks are empty.
    */
  private def randomLoad(rng: scala.util.Random): Path = {
    val dir = Files.createTempDirectory("graft_seqno_prop")
    (0 until 1 + rng.nextInt(3)).foreach { b =>
      var t = 100 + rng.nextInt(3)
      val chunks = Seq.fill(1 + rng.nextInt(5)) {
        val n = if (rng.nextInt(6) == 0) 0 else 1 + rng.nextInt(4)
        Seq.fill(n) {
          t += rng.nextInt(3) - (if (rng.nextInt(4) == 0) 3 else 0)
          val c = rng.nextInt(2)
          WriteMessage(c, t, rng.nextInt(2) * 500000000,
            if (c == 0) RosSchemaMapper.encode(aBundle, Seq(rng.nextInt()))
            else RosSchemaMapper.encode(bBundle, Seq(rng.nextDouble(), "s")))
        }
      }
      Files.write(dir.resolve(s"b$b.bag"), BagFormat.writeBagChunks(conns, chunks,
        if (rng.nextBoolean()) "none" else "lz4"))
    }
    dir
  }

  private type Key = (String, Int, Int)
  private def keys(df: DataFrame): Set[Key] =
    df.select("bag_path", "chunk_idx", "offset").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
  private def numbered(df: DataFrame): Map[Key, Long] =
    df.select(df.metadataColumn("seqno"), col("bag_path"), col("chunk_idx"), col("offset"))
      .collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3)) -> r.getLong(0)).toMap

  private def withPacking[T](perGroup: Boolean)(body: => T): T = {
    val conf = spark.conf
    val prev = Seq("spark.sql.files.maxPartitionBytes", "spark.graft.chunkOpenCostBytes")
      .map(k => k -> conf.getOption(k))
    if (perGroup) {
      conf.set("spark.sql.files.maxPartitionBytes", "1")
      conf.set("spark.graft.chunkOpenCostBytes", "0")
    }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("seqno column == Seqno.globalSeqno over random multi-bag loads, any scan shape") {
    val rng = new scala.util.Random(20261017)
    (0 until 16).foreach { trial =>
      val load = randomLoad(rng).toString
      withPacking(perGroup = trial % 2 == 0) {
        val spine = spark.read.format("rosbag").load(load)
        val ref: Map[Key, Long] = Seqno.globalSeqno(
            spine.select("bag_path", "chunk_idx", "offset", "time_sec", "time_nsec"),
            Seq("time_sec", "time_nsec", "bag_path", "chunk_idx", "offset").map(col))
          .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getLong(5)).toMap
        def check(df: DataFrame, what: String): Unit = {
          val got = numbered(df)
          assert(got == ref.filter(kv => got.contains(kv._1)) && got.keySet == keys(df),
            s"trial $trial, $what: $got vs $ref")
        }
        assert(numbered(spine) == ref, s"trial $trial: spine")
        assert(ref.values.toSet == (0 until ref.size).map(_.toLong).toSet)
        // typed scans number every message of the load, not of the type
        conns.map(_.datatype).foreach { dt =>
          if (keys(spine.filter(col("datatype") === dt)).nonEmpty)
            check(spark.read.format("rosbag").option("datatype", dt).load(load), dt)
        }
        // pushed filters drop rows, never renumber the survivors
        val mid = 101 + rng.nextInt(6)
        val filtered = spine.filter(col("time_sec") >= mid && col("connection_id") === 1)
        check(filtered, "filtered")
        assert(keys(filtered) == keys(spine.filter("time_sec >= " + mid + " and connection_id = 1")))
        // seqno bounds prune whole groups, keep exactly the bounded rows
        val k = rng.nextInt(ref.size + 1).toLong
        val bounded = spine.filter(spine.metadataColumn("seqno") < k)
        check(bounded, "bounded")
        assert(keys(bounded) == ref.filter(_._2 < k).keySet, s"trial $trial: seqno < $k")
      }
    }
  }

  test("the row readers number exactly like the columnar readers") {
    val load = randomLoad(new scala.util.Random(7)).toString
    def both(df: => DataFrame): (Map[Key, Long], Map[Key, Long]) = {
      val columnar = numbered(df)
      System.setProperty("graft.columnar.disable", "true")
      try (columnar, numbered(df)) finally { System.clearProperty("graft.columnar.disable"); () }
    }
    val (c0, r0) = both(spark.read.format("rosbag").load(load))
    assert(c0.nonEmpty && c0 == r0)
    val (c1, r1) = both(spark.read.format("rosbag").option("datatype", "test_msgs/B").load(load))
    assert(c1 == r1 && c1.forall(kv => c0(kv._1) == kv._2))
  }

  test("overlap groups: chain-overlapping and touching chunks group, bases count earlier groups") {
    def chunk(st: (Int, Int), et: (Int, Int), n: Int) =
      BagChunk(0L, "none", 100, 0L, 0, Some(st), Some(et), Some(Seq((0, n))))
    val a = BagIndex(Nil, Seq(chunk((1, 0), (2, 0), 3), chunk((2, 0), (3, 0), 2),
      chunk((5, 0), (6, 0), 4), chunk((0, 0), (0, 0), 0)))
    val b = BagIndex(Nil, Seq(chunk((5, 5), (7, 0), 1), chunk((8, 0), (9, 0), 2)))
    val gs = RosbagSeqno.groups(Seq("a" -> a, "b" -> b)).toOption.get
    assert(gs.map(g => (g.base, g.count, g.chunks.map(c => (c._1, c._2)).toSet)) == Seq(
      (0L, 5L, Set(("a", 0), ("a", 1), ("a", 3))),   // touching at 2 s; empty chunk rides along
      (5L, 5L, Set(("a", 2), ("b", 0))),
      (10L, 2L, Set(("b", 1)))))
    val unindexed = BagIndex(Nil, Seq(chunk((1, 0), (2, 0), 1).copy(connCounts = None)))
    assert(RosbagSeqno.groups(Seq("c" -> unindexed)).left.toOption.get.contains("no chunk-info"))
  }

  test("a load with a chunk lacking chunk-info fails numbered scans at planning") {
    val dir = Files.createTempDirectory("graft_seqno_strip")
    val msgs = (0 until 6).map(i => WriteMessage(i % 2, 10 + i, 0,
      if (i % 2 == 0) RosSchemaMapper.encode(aBundle, Seq(i))
      else RosSchemaMapper.encode(bBundle, Seq(i.toDouble, "s"))))
    val bytes = BagFormat.writeBag(conns, msgs, messagesPerChunk = 2)
    Files.write(dir.resolve("a.bag"), bytes)
    Files.write(dir.resolve("b.bag"), stripChunkInfo(bytes))   // an unclosed recording
    val spine = spark.read.format("rosbag").load(dir.toString)
    assert(spine.count() == 12)   // unnumbered scans read it as before
    val typed = spark.read.format("rosbag").option("datatype", "test_msgs/B").load(dir.toString)
    Seq(spine, typed).foreach { df =>
      val e = intercept[Exception](df.select(df.metadataColumn("seqno")).collect())
      assert(causeMessages(e).contains("cannot number this one: chunk 0 of"), causeMessages(e))
      assert(causeMessages(e).contains("has no chunk-info record"))
    }
  }

  test("a chunk that contradicts its chunk-info record fails the numbered scan") {
    val p = Files.createTempFile("graft_seqno_lie", ".bag")
    val msgs = Seq(WriteMessage(0, 10, 0, RosSchemaMapper.encode(aBundle, Seq(1))),
      WriteMessage(0, 11, 0, RosSchemaMapper.encode(aBundle, Seq(2))))
    val good = BagFormat.writeBag(conns, msgs, messagesPerChunk = 2)
    // patch the trailing chunk-info's end_time from 11 s to 10 s: the
    // second message now lies outside its chunk's indexed interval
    val at = new String(good, "ISO-8859-1").lastIndexOf("end_time=") + "end_time=".length
    val lying = good.clone()
    lying(at) = 10.toByte
    Files.write(p, lying)
    val df = spark.read.format("rosbag").load(p.toString)
    assert(df.count() == 2)   // unnumbered scans never consult the record
    val e = intercept[Exception](df.select(df.metadataColumn("seqno")).collect())
    assert(causeMessages(e).contains("contradicts its chunk-info record"))
  }
}
