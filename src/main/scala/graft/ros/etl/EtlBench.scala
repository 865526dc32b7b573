package graft.ros.etl

import org.apache.spark.sql.SparkSession

/** ETL throughput benchmark at the reference's published datapoint
  * scale (reference README.md:70-77: 102 MB bag, 23,719 messages,
  * blob-dominated by sensor_msgs/CompressedImage): generates a
  * comparable synthetic bag (image blobs + IMU readings) and times the
  * full conversion. Run: sbt "runMain graft.ros.etl.EtlBench [targetMB]"
  */
object EtlBench {
  val compressedImageDef: String =
    """Header header
      |string format
      |uint8[] data
      |================================================================================
      |MSG: std_msgs/Header
      |uint32 seq
      |time stamp
      |string frame_id
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val targetMB = if (args.nonEmpty) args(0).toInt else 100
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.ros.bag.BagFormat._
    import graft.ros.{Fixtures, MsgDefParser, RosSchemaMapper}

    val imgBundle = MsgDefParser.parse("sensor_msgs/CompressedImage", compressedImageDef)
    val imuBundle = MsgDefParser.parse("sensor_msgs/Imu", Fixtures.imuDef)
    val rng = new scala.util.Random(42)

    // ~4 KB jpeg-ish blob per image message; 1 imu per image, like a
    // camera+imu rig. Ratio tuned to land near targetMB.
    val imgBlob = new Array[Byte](4096)
    val perImage = 4096 + 400
    val nImages = (targetMB.toLong << 20).toInt / perImage
    System.err.println(s"generating $nImages image + $nImages imu messages...")

    def imgMsg(i: Int): Array[Byte] = {
      rng.nextBytes(imgBlob)
      RosSchemaMapper.encode(imgBundle, Seq(
        i.toLong, 1700000000 + i / 20, (i % 20) * 50000000, s"cam0",
        "jpeg", imgBlob))
    }
    def imuMsg(i: Int): Array[Byte] =
      RosSchemaMapper.encode(imuBundle, Seq(
        i.toLong, 1700000000 + i / 20, (i % 20) * 50000000 + 1, "imu",
        0.0, 0.0, 0.0, 1.0, Seq.fill(9)(0.1),
        0.01, 0.02, 0.03, Seq.fill(9)(0.1),
        9.8, 0.0, 0.1, Seq.fill(9)(0.1)))

    val conns = Seq(
      BagConnection(0, "/cam0/compressed", "sensor_msgs/CompressedImage", "md5img",
        compressedImageDef, "/cam"),
      BagConnection(1, "/imu", "sensor_msgs/Imu", Fixtures.imuMd5, Fixtures.imuDef, "/imu"))
    val msgs = (0 until nImages).flatMap { i =>
      Seq(WriteMessage(0, 1700000000 + i / 20, (i % 20) * 50000000, imgMsg(i)),
          WriteMessage(1, 1700000000 + i / 20, (i % 20) * 50000000 + 1, imuMsg(i)))
    }
    // GRAFT_ETL_COMPRESSION=bz2|lz4 benches compressed-chunk bags
    val compression = sys.env.getOrElse("GRAFT_ETL_COMPRESSION", "none")
    val dir = java.nio.file.Files.createTempDirectory("etl_bench")
    val bagPath = dir.resolve("bench.bag")
    java.nio.file.Files.write(bagPath,
      writeBag(conns, msgs, messagesPerChunk = 256, compression = compression))
    val bagMB = java.nio.file.Files.size(bagPath) / 1e6
    System.err.println(f"bag written: $bagMB%.1f MB ($compression)")

    val t0 = System.nanoTime()
    val info = BagEtl.run(spark, bagPath.toString, dir.resolve("out").toString)
    val sec = (System.nanoTime() - t0) / 1e9

    def dirSize(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(dirSize).sum else f.length()
    val outMB = dirSize(dir.resolve("out").toFile) / 1e6
    println(f"""{"metric":"etl_throughput_mb_per_sec","value":${bagMB / sec}%.2f,"unit":"MB/s","bag_mb":$bagMB%.1f,"out_mb":$outMB%.1f,"messages":${info.count},"sec":$sec%.2f}""")
    spark.stop()
  }
}
