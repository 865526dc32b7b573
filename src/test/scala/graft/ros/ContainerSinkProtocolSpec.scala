package graft.ros

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The failed-write half of the container file-sink protocol, once per
  * writer: a job that fails on a null required column in one partition,
  * after the other partitions committed their files, leaves the
  * directory exactly as it found it — the previous generation reads
  * back unchanged, and no `.inprogress` or new data file is left.
  */
class ContainerSinkProtocolSpec extends SparkTestBase {

  private val baseNs = 1700000000000000000L

  /** Eight rows over four partitions (ids 0..7, two per partition). */
  private def frame: DataFrame = spark.range(0, 8, 1, 4).toDF("id")
    .withColumn("topic", concat(lit("/t"), (col("id") % 2).cast("string")))
    .withColumn("txt", concat(lit("m-"), col("id").cast("string")))

  /** Null `column` of a conformed frame on the row `row7` picks (id 7,
    * the last partition), after a delay, so the other three tasks
    * commit first.
    */
  private def nulled(df: DataFrame, column: String, row7: Column): DataFrame = {
    val late = udf { (hit: Boolean) => if (hit) Thread.sleep(1500); hit }
    df.withColumn(column, when(late(row7), lit(null).cast(df.schema(column).dataType))
      .otherwise(col(column)))
  }

  private case class Writer(format: String, mode: String, column: String,
      row7: Column, options: Map[String, String], conform: DataFrame => DataFrame,
      read: String => DataFrame)

  private val timeNs = col("id") * lit(1000L) + lit(baseNs)
  private val writers = Seq(
    Writer("rosbag", "overwrite", "topic", col("time_nsec") === 7000, Map.empty,
      graft.ros.bag.BagExport.prepare(_, topic = col("topic"), timeNs = timeNs,
        data = encode(col("txt"), "UTF-8")),
      spark.read.format("rosbag").load(_)),
    Writer("mcap", "overwrite", "topic", col("log_time") === baseNs + 7000, Map.empty,
      graft.ros.mcap.McapExport.prepare(_, topic = col("topic"), logTimeNs = timeNs,
        data = encode(col("txt"), "UTF-8")),
      spark.read.format("mcap").load(_)),
    Writer("db3", "overwrite", "topic", col("timestamp") === baseNs + 7000, Map.empty,
      graft.ros.db3.Db3Export.prepare(_, topic = col("topic"), timestampNs = timeNs,
        data = encode(col("txt"), "UTF-8"), tpe = lit("graft/T")),
      spark.read.format("db3").load(_)),
    Writer("warc", "overwrite", "payload", col("target_uri") === "https://ex.com/7",
      Map.empty,
      graft.warc.WarcExport.prepare(_, warcType = lit("resource"),
        payload = encode(col("txt"), "UTF-8"),
        targetUri = concat(lit("https://ex.com/"), col("id").cast("string"))),
      spark.read.format("warc").load(_)),
    // attachments are append-only: the failed job is an append
    Writer("mcap", "append", "name", col("name") === "m-7", Map("table" -> "attachments"),
      graft.ros.mcap.McapExport.prepareAttachments(_, name = col("txt"),
        data = encode(col("txt"), "UTF-8")),
      spark.read.format("mcap").option("table", "attachments").load(_)))

  private def snapshot(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().toSeq
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  for (w <- writers) {
    val label = w.options.get("table").fold(w.format)(t => s"${w.format} $t")
    test(s"$label: a job failing after other partitions committed leaves the directory as it was") {
      val dir = Files.createTempDirectory(s"graft_protocol_${w.format}").toString + "/out"
      def write(df: DataFrame, mode: String): Unit =
        df.write.format(w.format).options(w.options).mode(mode).save(dir)
      write(w.conform(frame), "append")
      val before = snapshot(dir)
      val rows = w.read(dir).count()
      assert(rows === 8L)
      val ex = intercept[Exception](
        write(nulled(w.conform(frame), w.column, w.row7), w.mode))
      assert(causeMessages(ex).contains(w.column), causeMessages(ex))
      val after = snapshot(dir)
      assert(!after.keys.exists(_.contains("inprogress")), s"debris: ${after.keys}")
      assert(after.keySet === before.keySet,
        s"new files ${after.keySet -- before.keySet}, lost ${before.keySet -- after.keySet}")
      assert(after === before, "the previous generation's bytes changed")
      assert(w.read(dir).count() === rows)
    }
  }
}
