package graft.ros

import graft.SparkTestBase
import graft.ros.mcap.{CdrCodec, McapFormat, Ros2Msg}

/** Per-epoch observability of the streaming container sinks: each
  * epoch commit puts the LANDED (rows, files, bytes) from its tasks'
  * commit messages on the sink table, and Spark copies them into
  * `StreamingQueryProgress.sink.metrics` — what a standing fleet
  * normalizer watches, on the query object and on the listener bus.
  */
class SinkMetricsSpec extends SparkTestBase {

  private val strDef = "string data"
  private lazy val r2 = Ros2Msg.bundle("std_msgs/msg/String", strDef)

  private def land(dir: String, name: String, n: Int, t0: Long): Unit = {
    java.nio.file.Files.write(new java.io.File(dir, name).toPath,
      McapFormat.writeMcap(
        Seq(McapFormat.McapSchema(1, "std_msgs/msg/String", "ros2msg",
          strDef.getBytes("UTF-8"))),
        Seq(McapFormat.McapChannel(1, 1, "/t", "cdr")),
        (0 until n).map { i =>
          McapFormat.McapMessage(1, i.toLong, t0 + i * 1000L, t0 + i * 1000L,
            CdrCodec.encode(r2, Seq(s"x$i")))
        }))
    ()
  }

  test("epoch commits put landed rows/files/bytes on the query's progress") {
    val in = java.nio.file.Files.createTempDirectory("graft_metrics_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_metrics_out")
      .toString + "/export"
    val ck = java.nio.file.Files.createTempDirectory("graft_metrics_ck").toString
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = { heard.add(e.progress); () }
    }
    spark.streams.addListener(listener)
    try {
      land(in, "a.mcap", 3, 1700000000000000000L)
      val q1 = Convert.runStream(spark, in, out, "mcap", ck)
      assert(q1.awaitTermination(120000))
      land(in, "b.mcap", 4, 1700000001000000000L)
      val q2 = Convert.runStream(spark, in, out, "mcap", ck)
      assert(q2.awaitTermination(120000))

      // epoch -> (rows, files, bytes): an idle trigger's progress repeats
      // the last epoch's numbers, so each epoch counts once
      def landed(ps: Iterable[org.apache.spark.sql.streaming.StreamingQueryProgress])
          : Map[Long, (Long, Long, Long)] =
        ps.map(_.sink.metrics).filter(!_.isEmpty).map { m =>
          m.get("epoch").toLong ->
            ((m.get("rows").toLong, m.get("files").toLong, m.get("bytes").toLong))
        }.toMap
      val stats = landed(q1.recentProgress ++ q2.recentProgress).values.toSeq
      assert(stats.nonEmpty, "no epoch stats on the progress")
      assert(stats.map(_._1).sum === 7,
        s"landed rows must equal the two drains' inputs, got $stats")
      val nonEmpty = stats.filter(_._1 > 0)
      assert(nonEmpty.forall(s => s._2 >= 1 && s._3 > 0),
        s"non-empty epochs must carry files and bytes: $stats")
      // the exported archive agrees with the recorded totals
      assert(spark.read.format("mcap").load(out).count() === 7)

      // the listener bus carries the same numbers (the bus is async — poll)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var joined = Map.empty[Long, (Long, Long, Long)]
      while (joined.values.map(_._1).sum < 7 && System.nanoTime() < deadline) {
        joined = landed(heard.toArray(
          Array.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]))
        if (joined.values.map(_._1).sum < 7) Thread.sleep(200)
      }
      assert(joined.values.map(_._1).sum >= 3,
        s"no progress event carried sink stats; heard=$heard")
    } finally spark.streams.removeListener(listener)
  }
}
