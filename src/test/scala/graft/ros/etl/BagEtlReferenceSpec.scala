package graft.ros.etl

import java.nio.file.{Files, Path, Paths}
import graft.SparkTestBase
import graft.ros.{MsgDefParser, RosMd5, RosSchemaMapper}
import graft.ros.bag.{BagFormat, RosbagDataSource, RosbagIO}
import graft.ros.bag.BagFormat.{BagConnection, WriteMessage}

/** The single-job ETL writes what the per-table form it replaced
  * (`BagEtlReference`) wrote: the same table directories, and in each
  * the same schema — names, types, nullability, and the schema and
  * Spark row metadata in every part file's footer — and the same rows;
  * the same `_tables.json` manifest and DDL file.
  */
class BagEtlReferenceSpec extends SparkTestBase with EtlTableAsserts {
  private val aDef = "int32 v"
  private val bDef = "float64 x\nstring s"
  private val aBundle = MsgDefParser.parse("test_msgs/A", aDef)
  private val bBundle = MsgDefParser.parse("test_msgs/B", bDef)
  private val conns = Seq(
    BagConnection(0, "/a", "test_msgs/A", RosMd5.compute(aBundle), aDef, "/n"),
    BagConnection(1, "/b", "test_msgs/B", RosMd5.compute(bBundle), bDef, "/n"))

  // B carries a ~1 KB string: above a 512-byte blob threshold, A below
  private def msg(conn: Int, sec: Int, nsec: Int = 0): WriteMessage =
    WriteMessage(conn, sec, nsec,
      if (conn == 0) RosSchemaMapper.encode(aBundle, Seq(sec * 7 + nsec))
      else RosSchemaMapper.encode(bBundle, Seq(sec + nsec / 1e9, s"s$sec" * 250)))

  /** Two lz4 bags whose chunks overlap inside each bag and across the
    * two, with equal times across bags and out-of-order times in a
    * chunk; `strip` drops the index section (no chunk-info).
    */
  private def writeLoad(dir: Path, strip: Boolean = false): Path = {
    val chunksA = Seq(Seq(msg(0, 10), msg(1, 12), msg(0, 11)),
      Seq(msg(1, 11, 500), msg(0, 13)), Seq(msg(0, 30), msg(1, 31)))
    val chunksB = Seq(Seq(msg(1, 12), msg(0, 12)), Seq(), Seq(msg(0, 20), msg(1, 21)))
    Seq("a.bag" -> chunksA, "b.bag" -> chunksB).foreach { case (name, chunks) =>
      val bytes = BagFormat.writeBagChunks(conns, chunks)
      val last = BagFormat.scanIndex(() => new java.io.ByteArrayInputStream(bytes)).chunks.last
      Files.write(dir.resolve(name),
        if (strip) bytes.take((last.dataOffset + last.dataLength).toInt) else bytes)
    }
    dir
  }

  private def outs(tag: String): (String, String) = {
    val base = Files.createTempDirectory(tag)
    (base.resolve("etl").toString, base.resolve("ref").toString)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  // a partition budget below the first overlap group: the Seqno fallback
  private val tinyPartitions = Seq("spark.sql.files.maxPartitionBytes" -> "1024",
    "spark.graft.chunkOpenCostBytes" -> "0")

  test("index path and both fallback triggers match the per-table reference") {
    val dir = writeLoad(Files.createTempDirectory("graft_ref_load"))
    val (etl, ref) = outs("graft_ref_idx")
    assert(BagEtl.run(spark, dir.toString, etl) == BagEtlReference.run(spark, dir.toString, ref))
    assertSameTables(etl, ref)

    val (etlB, refB) = outs("graft_ref_budget")
    withConf(tinyPartitions: _*) {
      assert(graft.ros.bag.RosbagSeqno.cheapGroups(
        RosbagIO.scanIndexes(RosbagDataSource.files(dir.toString))).isLeft)
      assert(BagEtl.run(spark, dir.toString, etlB) ==
        BagEtlReference.run(spark, dir.toString, refB))
    }
    assertSameTables(etlB, refB, footersOf = etl)

    val stripped = writeLoad(Files.createTempDirectory("graft_ref_strip"), strip = true)
    val (etlS, refS) = outs("graft_ref_strip")
    assert(BagEtl.run(spark, stripped.toString, etlS) ==
      BagEtlReference.run(spark, stripped.toString, refS))
    assertSameTables(etlS, refS, footersOf = etl)
  }

  test("keepRawBlob = false, blobSideTable, nativeTimestamp and maxMessages match the reference") {
    val dir = writeLoad(Files.createTempDirectory("graft_ref_opts")).toString
    val (e1, r1) = outs("graft_ref_lean")
    BagEtl.run(spark, dir, e1, keepRawBlob = false)
    BagEtlReference.run(spark, dir, r1, keepRawBlob = false)
    assertSameTables(e1, r1)

    val (e2, r2) = outs("graft_ref_side")
    BagEtl.run(spark, dir, e2, blobSideTable = true, blobThreshold = 512)
    BagEtlReference.run(spark, dir, r2, blobSideTable = true, blobThreshold = 512)
    assertSameTables(e2, r2)
    assert(spark.read.parquet(s"$e2/test_msgs_B_blobs.parquet").count() == 5 &&
      spark.read.parquet(s"$e2/test_msgs_A_blobs.parquet").count() == 0)

    val (e3, r3) = outs("graft_ref_ts")
    BagEtl.run(spark, dir, e3, nativeTimestamp = true)
    BagEtlReference.run(spark, dir, r3, nativeTimestamp = true)
    assertSameTables(e3, r3)

    val maxed = Seq(Nil, tinyPartitions).map { conf =>
      val (e4, r4) = outs("graft_ref_max")
      withConf(conf: _*) {
        assert(BagEtl.run(spark, dir, e4, maxMessages = Some(4L)) ==
          BagEtlReference.run(spark, dir, r4, maxMessages = Some(4L)))
      }
      assert(spark.read.parquet(s"$e4/Messages.parquet").count() == 4)
      (e4, r4)
    }
    assertSameTables(maxed(0)._1, maxed(0)._2)
    assertSameTables(maxed(1)._1, maxed(1)._2, footersOf = maxed(0)._1)
  }

  test("a runIncremental append matches the reference's appending writes") {
    val load = writeLoad(Files.createTempDirectory("graft_ref_incload"))
    val dir = Files.createTempDirectory("graft_ref_inc")
    Files.copy(load.resolve("a.bag"), dir.resolve("a.bag"))
    val (etl, ref) = outs("graft_ref_incout")
    Files.createDirectories(Paths.get(etl))
    assert(BagEtl.runIncremental(spark, dir.toString, etl).count == 7)
    BagEtlReference.run(spark, dir.toString, ref)

    Files.copy(load.resolve("b.bag"), dir.resolve("b.bag"))
    val b = RosbagDataSource.files(dir.resolve("b.bag").toString)
    assert(BagEtl.runIncremental(spark, dir.toString, etl) ==
      BagEtlReference.runBags(spark, b, dir.getFileName.toString, ref,
        seqnoOffset = 7L, naming = BagEtl.readManifest(ref), append = true))
    assertSameTables(etl, ref)
    assert(spark.read.parquet(s"$etl/Messages.parquet").count() == 11)
  }

  test("md5-drifted multi-bag loads land the same namespaced tables") {
    val dir = Files.createTempDirectory("graft_ref_drift")
    val v1 = "float64 x\nfloat64 y"
    val v2 = "float64 x\nfloat64 y\nfloat64 z"
    Seq(("a.bag", v1, 100), ("b.bag", v1, 200), ("c.bag", v2, 150)).foreach {
      case (name, d, base) =>
        val pt = MsgDefParser.parse("test_msgs/Point", d)
        val cs = Seq(conns.head,
          BagConnection(1, "/pt", "test_msgs/Point", RosMd5.compute(pt), d, "/n"))
        val msgs = (0 until 6).map { i =>
          if (i % 2 == 0) msg(0, base + i)
          else WriteMessage(1, base + i, 0, RosSchemaMapper.encode(pt,
            if (d == v1) Seq(i * 1.0, i * 2.0) else Seq(i * 1.0, i * 2.0, i * 3.0)))
        }
        Files.write(dir.resolve(name), BagFormat.writeBag(cs, msgs,
          messagesPerChunk = 2, compression = "lz4"))
    }
    val (etl, ref) = outs("graft_ref_driftout")
    BagEtl.run(spark, dir.toString, etl)
    BagEtlReference.run(spark, dir.toString, ref)
    assert(tableDirs(etl).count(_.startsWith("test_msgs_Point__")) == 2)
    assertSameTables(etl, ref)
  }

  test("a 24-datatype bag routes every type in one task's open writers") {
    val defs = (0 until 24).map { t =>
      val d = s"int64 seq\nfloat64 v$t\nstring tag\nfloat64[] xs"
      (s"test_msgs/T$t", d, MsgDefParser.parse(s"test_msgs/T$t", d))
    }
    val cs = defs.zipWithIndex.map { case ((dt, d, b), i) =>
      BagConnection(i, s"/t$i", dt, RosMd5.compute(b), d, "/n") }
    val msgs = (0 until 24 * 40).map { i =>
      val t = i % 24
      WriteMessage(t, 1000 + i / 24, t * 1000, RosSchemaMapper.encode(defs(t)._3,
        Seq(i.toLong, i * 0.5, s"tag$i", Seq.tabulate(i % 7)(_ * 1.5))))
    }
    val p = Files.createTempDirectory("graft_ref_24").resolve("many.bag")
    Files.write(p, BagFormat.writeBag(cs, msgs, messagesPerChunk = 96, compression = "lz4"))
    val (etl, ref) = outs("graft_ref_24out")
    BagEtl.run(spark, p.toString, etl)
    BagEtlReference.run(spark, p.toString, ref)
    assert(tableDirs(etl).size == 24 + 2)
    assertSameTables(etl, ref)
  }

  test("a table with no kept rows lands readable with the reference's schema") {
    val silent = "float64 q"
    val sBundle = MsgDefParser.parse("test_msgs/Silent", silent)
    // a connection that never published, and B only after the first 3
    val cs = conns :+ BagConnection(2, "/silent", "test_msgs/Silent",
      RosMd5.compute(sBundle), silent, "/n")
    val msgs = Seq(msg(0, 10), msg(0, 11), msg(0, 12), msg(1, 13), msg(1, 14))
    val p = Files.createTempDirectory("graft_ref_empty").resolve("e.bag")
    Files.write(p, BagFormat.writeBag(cs, msgs, messagesPerChunk = 2))
    Seq(None, Some(3L)).foreach { max =>
      val (etl, ref) = outs("graft_ref_emptyout")
      BagEtl.run(spark, p.toString, etl, maxMessages = max)
      BagEtlReference.run(spark, p.toString, ref, maxMessages = max)
      assertSameTables(etl, ref)
      val empty = "test_msgs_Silent" +: max.map(_ => "test_msgs_B").toSeq
      empty.foreach { t =>
        val dir = s"$etl/$t.parquet"
        assert(parts(dir).nonEmpty, s"$t has no part file to carry its schema")
        assert(spark.read.parquet(dir).count() == 0)
        assert(spark.read.parquet(dir).columns.toSeq.take(2) == Seq("seqno",
          if (t.endsWith("Silent")) "q" else "x"))
      }
    }
  }
}
