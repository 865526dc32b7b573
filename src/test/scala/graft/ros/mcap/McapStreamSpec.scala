package graft.ros.mcap

import java.nio.file.{Files, StandardOpenOption}
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase
import McapFormat._

/** Streaming MCAP ingest: a LIVE (footer-less) growing file is tailed
  * chunk by chunk via the resumable tolerant walk; a directory stream
  * ingests new files and new chunks of known files; typed streams pin
  * their (schema_name, md5) variant against mid-stream drift.
  */
class McapStreamSpec extends SparkTestBase {

  private val schemas = Seq(
    McapSchema(1, "sensor_msgs/msg/Imu", "ros2msg", "float64 x\n".getBytes("UTF-8")))
  private val channels = Seq(McapChannel(1, 1, "/imu", "cdr"))

  private def msgs(from: Int, n: Int): Seq[McapMessage] =
    (from until from + n).map(i => McapMessage(1, i.toLong,
      1700000000000000000L + i * 1000L, 1700000000000000000L + i * 1000L,
      Array.tabulate(6)(j => ((i * 13 + j) % 127).toByte)))

  test("tolerant walk: truncated tail yields the complete prefix; resume pays only new bytes") {
    val (segs, fin) = writeMcapSegments(schemas, channels,
      Seq(msgs(0, 3), msgs(3, 3), msgs(6, 2)), compression = "zstd")
    val live = segs(0) ++ segs(1)
    // cut INTO segment 2: its chunk is incomplete -> only chunk 0 visible
    val cut = live ++ segs(2).take(segs(2).length / 2)
    def openOf(b: Array[Byte]) = () => new java.io.ByteArrayInputStream(b): java.io.InputStream
    val s1 = scanTolerant(openOf(cut), cut.length.toLong)
    assert(!s1.done && s1.chunks.size == 1 && s1.channels.contains(1))
    // the walk stopped at the end of the last complete record
    assert(s1.pos == live.length.toLong)
    // the file grows past the cut: resume finds chunk 2 without rescanning
    val grown = live ++ segs(2)
    val s2 = scanTolerant(openOf(grown), grown.length.toLong, Some(s1))
    assert(!s2.done && s2.chunks.size == 2)
    // closing the file (last chunk + finale): footer reached, done
    val closed = grown ++ segs(3) ++ fin
    val s3 = scanTolerant(openOf(closed), closed.length.toLong, Some(s2))
    assert(s3.done && s3.chunks.size == 3)
    // the closed file parses identically under the strict batch scan
    val strict = scanIndex(openOf(closed), closed.length.toLong)
    assert(strict.chunks.map(_.fileOffset) == s3.index.chunks.map(_.fileOffset))
    // a fresh tolerant walk of the closed file agrees too
    val s4 = scanTolerant(openOf(closed), closed.length.toLong)
    assert(s4.done && s4.chunks.map(_.fileOffset) == s3.chunks.map(_.fileOffset))
  }

  test("stream tails a growing LIVE file (no footer) from the checkpointed offset") {
    val dir = Files.createTempDirectory("mcap_stream")
    val p = dir.resolve("live.mcap")
    val ck = dir.resolve("ck").toString
    val out = dir.resolve("out").toString
    val (segs, fin) = writeMcapSegments(schemas, channels,
      Seq(msgs(0, 4), msgs(4, 4), msgs(8, 2)), compression = "lz4")

    Files.write(p, segs(0) ++ segs(1))  // live: magic+header+chunk0, NO footer
    val stream = spark.readStream.format("mcap").load(p.toString)
      .select("log_time", "sequence", "chunk_idx", "offset")
    def runOnce(): Long = {
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }
    assert(runOnce() == 4)
    // recorder appends a chunk + a partial chunk: only the complete one reads
    Files.write(p, segs(2) ++ segs(3).take(10), StandardOpenOption.APPEND)
    assert(runOnce() == 8)
    // the partial chunk completes and the file closes
    Files.write(p, segs(3).drop(10) ++ fin, StandardOpenOption.APPEND)
    assert(runOnce() == 10)
    // closed + quiescent -> no new rows
    assert(runOnce() == 10)
  }

  test("directory stream output equals the batch read; new files and chunks arrive") {
    val root = Files.createTempDirectory("mcap_dir_stream")
    val files = root.resolve("files"); Files.createDirectory(files)
    val ck = root.resolve("ck").toString
    val out = root.resolve("out").toString
    val (aSegs, aFin) = writeMcapSegments(schemas, channels,
      Seq(msgs(0, 3), msgs(3, 3)), compression = "zstd")
    Files.write(files.resolve("a.mcap"), aSegs.flatten.toArray ++ aFin) // complete file

    val stream = spark.readStream.format("mcap").load(files.toString)
      .select("file_path", "chunk_idx", "offset", "log_time", "data_crc32")
    def runOnce(): Long = {
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }
    assert(runOnce() == 6)
    // a new LIVE file arrives (one complete chunk, no footer yet)
    val (bSegs, _) = writeMcapSegments(schemas, channels,
      Seq(msgs(100, 5)), compression = "")
    Files.write(files.resolve("b.mcap"), (bSegs(0) ++ bSegs(1)).toArray)
    assert(runOnce() == 11)
    assert(runOnce() == 11) // quiescent
    // streamed rows == the batch read of the same dir (b has no footer,
    // so compare against the live-tolerant slice: a complete + b's chunk)
    val streamed = spark.read.parquet(out)
    assert(streamed.select("file_path").distinct().count() == 2)
    val aBatch = spark.read.format("mcap").load(files.resolve("a.mcap").toString)
      .select("file_path", "chunk_idx", "offset", "log_time", "data_crc32")
    val aStreamed = streamed.filter(streamed("file_path").endsWith("a.mcap"))
    assert(aStreamed.exceptAll(aBatch).isEmpty && aBatch.exceptAll(aStreamed).isEmpty)
  }

  test("standalone (unchunked) appends stream with continuing ordinals") {
    val dir = Files.createTempDirectory("mcap_inline_stream")
    val p = dir.resolve("plain.mcap")
    // build an unchunked live file by hand: magic+header+dims, then
    // standalone message records appended over time
    val full = writeMcap(schemas, channels, msgs(0, 6), chunked = false)
    // locate the record boundaries with the tolerant walk
    val idx = scanTolerant(
      () => new java.io.ByteArrayInputStream(full), full.length.toLong)
    assert(idx.inline.size == 6)
    val cutAfter4 = (idx.inline(4)._1).toInt // start of the 5th message record
    Files.write(p, full.take(cutAfter4))
    val ck = dir.resolve("ck").toString
    val out = dir.resolve("out").toString
    val stream = spark.readStream.format("mcap").load(p.toString)
      .select("offset", "sequence")
    def runOnce(): Long = {
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }
    assert(runOnce() == 4)
    Files.write(p, full.drop(cutAfter4), StandardOpenOption.APPEND)
    assert(runOnce() == 6)
    // ordinals continue the batch numbering across the two triggers
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Int]("offset") -> r.getAs[Long]("sequence")).toSet
    assert(got == (0 until 6).map(i => i -> i.toLong).toSet)
  }

  test("typed dir stream decodes the pinned variant and skips a drifted newcomer") {
    val root = Files.createTempDirectory("mcap_typed_stream")
    val files = root.resolve("files"); Files.createDirectory(files)
    val text1 = "float64 ax"
    val text2 = "float64 ax\nfloat64 ay" // drifted
    def mk(text: String, from: Int, n: Int): Array[Byte] = {
      val sch = Seq(McapSchema(1, "p/msg/T", "ros2msg", text.getBytes("UTF-8")))
      val chs = Seq(McapChannel(1, 1, "/t", "cdr"))
      val b = Ros2Msg.bundle("p/msg/T", text)
      val ms = (from until from + n).map(i => McapMessage(1, i.toLong, 100L + i, 100L + i,
        CdrCodec.encode(b, if (text == text1) Seq(1.0 * i) else Seq(1.0 * i, 2.0 * i))))
      writeMcap(sch, chs, ms, "zstd")
    }
    Files.write(files.resolve("a.mcap"), mk(text1, 0, 4))
    val ck = root.resolve("ck").toString
    val out = root.resolve("out").toString
    val stream = spark.readStream.format("mcap")
      .option("schema_name", "p/msg/T").load(files.toString)
      .select("sequence", "ax")
    def runOnce(): Long = {
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).count()
    }
    assert(runOnce() == 4)
    // a drifted file arrives mid-stream: skipped, not mis-decoded
    Files.write(files.resolve("b.mcap"), mk(text2, 100, 3))
    // and a matching file arrives too: decoded
    Files.write(files.resolve("c.mcap"), mk(text1, 200, 2))
    assert(runOnce() == 6)
    val seqs = spark.read.parquet(out).collect().map(_.getAs[Long]("sequence")).sorted
    assert(seqs.toSeq == Seq(0L, 1L, 2L, 3L, 200L, 201L))
  }

  test("tolerant walk property: EVERY prefix of a valid file scans without throwing " +
      "and yields a record-prefix; resume agrees with a fresh scan") {
    val chunked = {
      val (segs, fin) = writeMcapSegments(schemas, channels,
        Seq(msgs(0, 2), msgs(2, 3), msgs(5, 2)), compression = "zstd")
      segs.flatten.toArray ++ fin
    }
    val unchunked = writeMcap(schemas, channels, msgs(0, 7), chunked = false)
    for (full <- Seq(chunked, unchunked)) {
      def openOf(b: Array[Byte]) = () => new java.io.ByteArrayInputStream(b): java.io.InputStream
      val complete = scanTolerant(openOf(full), full.length.toLong)
      assert(complete.done)
      val fullChunks = complete.chunks.map(_.fileOffset)
      val fullInline = complete.inline
      var prev = 0L
      for (cut <- 0 to full.length) {
        val prefix = full.take(cut)
        val st = scanTolerant(openOf(prefix), cut.toLong)
        // never beyond the cut, never backwards as the prefix grows
        assert(st.pos <= math.max(cut.toLong, 8L), s"cut=$cut pos=${st.pos}")
        assert(st.pos >= prev, s"cut=$cut pos regressed")
        prev = st.pos
        // records seen are exactly a prefix of the full file's records
        assert(st.chunks.map(_.fileOffset) == fullChunks.take(st.chunks.size), s"cut=$cut")
        assert(st.inline == fullInline.take(st.inline.size), s"cut=$cut")
        // resuming the FULL file from this state agrees with a fresh scan
        val resumed = scanTolerant(openOf(full), full.length.toLong, Some(st))
        assert(resumed.done == complete.done &&
          resumed.chunks.map(_.fileOffset) == fullChunks &&
          resumed.inline == fullInline, s"cut=$cut resume mismatch")
      }
    }
  }

  test("a committed file that transiently drops out of the listing keeps its offset entry") {
    // Delete + re-upload under the same name: the served end must stay
    // a per-file superset of start, or the reappearing file would be
    // re-planned from (0,0) and duplicate every committed row.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = Files.createTempDirectory("mcap_dir_keep")
    val p = dir.resolve("a.mcap")
    Files.write(p, writeMcap(schemas, channels, msgs(0, 6)))
    val st = new McapRead(dir.toString, None, false).stream(
      McapDataSource.SpineSchema, Array.empty, -1).asInstanceOf[graft.ros.ContainerSource.CountsStream]
    val first = st.latestOffset(st.initialOffset(),
      ReadLimit.allAvailable()).asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(first.files.size == 1)
    Files.delete(p)
    val second = st.latestOffset(first, ReadLimit.allAvailable())
      .asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(second == first, "committed entry must survive the dropout")
    // reappearance with identical content: nothing below the committed
    // counts re-plans
    Files.write(p, writeMcap(schemas, channels, msgs(0, 6)))
    val third = st.latestOffset(second, ReadLimit.allAvailable())
      .asInstanceOf[graft.ros.ContainerSource.CountsOffset]
    assert(st.planInputPartitions(second, third).isEmpty)
  }

  test("stream offset JSON round-trips, including escaped path characters") {
    val shape = graft.ros.ContainerSource.PerFile("files")
    val off = graft.ros.ContainerSource.CountsOffset(Map(
      "file:/data/a.mcap" -> Seq(3L, 0L),
      "file:/we\"ird\\path.mcap" -> Seq(7L, 2L),
      "file:/new\nline\tandctl.mcap" -> Seq(0L, 5L)))(shape)
    val json = off.json()
    assert(!json.contains('\n'))
    assert(graft.ros.ContainerSource.CountsOffset(shape.parse(json))(shape) == off)
    assert(shape.parse(graft.ros.ContainerSource.CountsOffset(Map.empty)(shape).json()).isEmpty)
  }

  test("garbage file first observed under 8 bytes still fails the magic check on growth") {
    def openOf(b: Array[Byte]) = () => new java.io.ByteArrayInputStream(b): java.io.InputStream
    val junk = "definitely-not-an-mcap-file".getBytes("UTF-8")
    // first sighting: too short to validate -> deferred, nothing parsed
    val s0 = McapFormat.scanTolerant(openOf(junk.take(4)), 4L)
    assert(!s0.done && s0.pos == 8L)
    // growth: the deferred magic check must fire on the RESUMED walk
    // (a resume-only gate would parse garbage from offset 8 forever)
    val e = intercept[IllegalArgumentException] {
      McapFormat.scanTolerant(openOf(junk), junk.length.toLong, Some(s0))
    }
    assert(e.getMessage.contains("magic"))
  }
}
