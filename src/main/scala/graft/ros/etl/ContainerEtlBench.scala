package graft.ros.etl

import org.apache.spark.sql.SparkSession

/** ETL throughput benchmark for the two newer containers — the
  * McapEtl/Db3Etl twin of [[EtlBench]], over the same camera+imu-like
  * shape (a blob-dominated channel + a small-reading channel, ~4 KB
  * blobs) at a comparable size: a zstd-chunked MCAP file, or a db3 file.
  * Each of [[Runs]] conversions lands in a fresh output dir in the same
  * JVM; the JSON line reports each run's seconds and Spark job count,
  * and the median and quartiles of the seconds.
  *
  * Run: sbt "runMain graft.ros.etl.ContainerEtlBench mcap|db3 [targetMB]"
  */
object ContainerEtlBench {
  private val BlobName = "graft_msgs/msg/Blob"
  private val BlobDef = "int64 seq\nstring format\nuint8[] data"
  private val ReadingName = "graft_msgs/msg/Reading"
  private val ReadingDef = "int64 seq\nfloat64 x\nfloat64 y\nfloat64 z"
  /** Timed conversions per JVM: enough for a median and quartiles. */
  val Runs = 5

  def main(args: Array[String]): Unit = {
    val format = if (args.nonEmpty) args(0) else "mcap"
    val targetMB = if (args.length > 1) args(1).toInt else 100
    require(format == "mcap" || format == "db3", s"unknown format $format")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.ros.mcap.{CdrCodec, McapEtl, McapFormat, Ros2Msg}

    val blobBundle = Ros2Msg.bundle(BlobName, BlobDef)
    val readingBundle = Ros2Msg.bundle(ReadingName, ReadingDef)
    val rng = new scala.util.Random(42)
    require(targetMB > 0 && targetMB <= 4096,
      s"targetMB out of range: $targetMB (fixture built in driver memory)")
    val blob = new Array[Byte](4096)
    val perPair = 4096 + 120
    val nPairs = ((targetMB.toLong << 20) / perPair).toInt
    System.err.println(s"generating $nPairs blob + $nPairs reading messages...")

    def blobPayload(i: Int): Array[Byte] = {
      rng.nextBytes(blob)
      CdrCodec.encode(blobBundle, Seq(i.toLong, "jpeg", blob))
    }
    def readingPayload(i: Int): Array[Byte] =
      CdrCodec.encode(readingBundle, Seq(i.toLong, 0.01 * i, 0.02 * i, 9.8))

    val dir = java.nio.file.Files.createTempDirectory("container_etl_bench")

    def dirSize(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(dirSize).sum else f.length()
    // the jobs each conversion starts, counted by a listener
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    /** [[Runs]] timed conversions into out<i>; the metric line's fields. */
    def measure(convert: String => Long): String = {
      val timed = (0 until Runs).map { i =>
        val out = dir.resolve(s"out$i").toString
        jobs.set(0)
        val t0 = System.nanoTime()
        val messages = convert(out)
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // the listener bus is asynchronous
        (sec, jobs.get, messages)
      }
      val secs = timed.map(_._1).sorted
      def q(f: Double): Double = secs(math.min(secs.size - 1, (f * secs.size).toInt))
      val outMB = dirSize(dir.resolve("out0").toFile) / 1e6
      f""""median_sec":${q(0.5)}%.3f,"q1_sec":${q(0.25)}%.3f,"q3_sec":${q(0.75)}%.3f,""" +
        s""""secs":[${timed.map(t => f"${t._1}%.3f").mkString(",")}],""" +
        s""""jobs":[${timed.map(_._2).mkString(",")}],""" +
        f""""out_mb":$outMB%.1f,"messages":${timed.head._3}"""
    }

    format match {
      case "mcap" =>
        val schemas = Seq(
          McapFormat.McapSchema(1, BlobName, "ros2msg", BlobDef.getBytes("UTF-8")),
          McapFormat.McapSchema(2, ReadingName, "ros2msg", ReadingDef.getBytes("UTF-8")))
        val channels = Seq(
          McapFormat.McapChannel(1, 1, "/cam0/blob", "cdr"),
          McapFormat.McapChannel(2, 2, "/reading", "cdr"))
        val msgs = (0 until nPairs).flatMap { i =>
          val t = 1700000000000000000L + i * 50000000L
          Seq(
            McapFormat.McapMessage(1, i.toLong, t, t, blobPayload(i)),
            McapFormat.McapMessage(2, i.toLong, t + 1, t + 1, readingPayload(i)))
        }
        // ~256 messages per chunk, EtlBench's grain, zstd like rosbag2's
        // default MCAP profile
        val groups = math.max(1, msgs.size / 256)
        val path = dir.resolve("bench.mcap")
        java.nio.file.Files.write(path,
          McapFormat.writeMcap(schemas, channels, msgs, "zstd", chunkGroups = groups))
        val mb = java.nio.file.Files.size(path) / 1e6
        System.err.println(f"mcap written: $mb%.1f MB (zstd, $groups chunks)")
        val m = measure(out => McapEtl.run(spark, path.toString, out).messages)
        println(f"""{"metric":"mcap_etl","unit":"s","mcap_mb":$mb%.1f,$m}""")

      case "db3" =>
        import graft.ros.db3.{Db3Etl, SqliteFormat}
        val msgRows = (0 until nPairs).flatMap { i =>
          val t = 1700000000000000000L + i * 50000000L
          Seq(
            Seq[Any](null, 1L, t, blobPayload(i)),
            Seq[Any](null, 2L, t + 1, readingPayload(i)))
        }
        val db = SqliteFormat.writeDb(Seq(
          ("topics",
            "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
            Seq(Seq[Any](null, "/cam0/blob", BlobName, "cdr", ""),
              Seq[Any](null, "/reading", ReadingName, "cdr", ""))),
          ("messages",
            "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
            msgRows),
          ("message_definitions",
            "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
            Seq(Seq[Any](null, BlobName, "ros2msg", BlobDef, "h1"),
              Seq[Any](null, ReadingName, "ros2msg", ReadingDef, "h2")))))
        val path = dir.resolve("bench.db3")
        java.nio.file.Files.write(path, db)
        val mb = java.nio.file.Files.size(path) / 1e6
        System.err.println(f"db3 written: $mb%.1f MB")
        val m = measure(out => Db3Etl.run(spark, path.toString, out).messages)
        println(f"""{"metric":"db3_etl","unit":"s","db3_mb":$mb%.1f,$m}""")
    }
    spark.stop()
  }
}
