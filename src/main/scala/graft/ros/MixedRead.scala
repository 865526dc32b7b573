package graft.ros

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mixed-container dataset read: one call over a directory (or
  * explicit list) holding any mix of `.bag`, `.mcap` and
  * `.db3`/`.db3.zstd` recordings — the shape a real fleet's archive
  * takes after migrating rosbag1 → rosbag2-sqlite → MCAP mid-life.
  * Without this, a mixed directory needs three reads and a hand-built
  * union; with it, `MixedRead.spine(spark, dir)` returns ONE DataFrame
  * under a shared normalized contract:
  *
  *   file_path, container ("rosbag"|"mcap"|"db3"), topic,
  *   type, encoding ("cdr"|"protobuf"|...; "ros1" for rosbag1),
  *   timestamp (ns since epoch), publish_time (mcap's publish clock;
  *   null where the container has no second clock), sequence (mcap's
  *   per-channel counter; null elsewhere), size, data
  *
  * Each container contributes through its own DSv2 source, so per-file
  * parallelism (chunks / b-tree subtrees), column pruning and filter
  * pushdown all apply per branch — `topic` and `type` filters reach
  * every source's row skip, `timestamp` ranges push into the mcap
  * (log_time chunk pruning) and db3 (subtree probes) branches; the
  * rosbag branch's receive time is COMPUTED from (time_sec, time_nsec)
  * so a timestamp range degrades to a post-scan filter there (push
  * `time_sec` directly when targeting bags alone).
  *
  * Timestamp semantics per container: rosbag receive time, mcap
  * log_time, db3 timestamp — each container's own message-time
  * convention, all in nanoseconds.
  */
object MixedRead {

  /** Deliberately NOT dispatched: `.warc`/`.warc.gz` crawl shards.
    * The mixed spine's columns are robotics message-log semantics
    * (topic, connection, nanosecond message time, typed decode) — a
    * web-archive record shares none of them, so forcing crawl shards
    * onto this spine would surface meaningless nulls instead of the
    * warc source's own schema. A directory mixing both domains reads
    * each through its own source (`format("warc")` /
    * `format("rosbag2")`); in a listing, warc files are skipped like
    * any other non-container file, and an EXPLICITLY named `.warc`
    * fails loudly below.
    */
  private def classify(name: String): Option[String] =
    if (name.endsWith(".bag")) Some("rosbag")
    else if (name.endsWith(".mcap")) Some("mcap")
    else if (name.endsWith(".db3") || name.endsWith(".db3.zstd")) Some("db3")
    else None

  /** Resolve `path` (newline-separated specs; each a file, directory
    * or glob) into container → files. A directory listing skips
    * non-container files (rosbag2 dirs carry metadata.yaml); an
    * EXPLICITLY named file of unknown extension fails loudly.
    */
  def resolve(path: String): Map[String, Seq[String]] = {
    val grouped = ContainerSource.list(path, classify(_).isDefined).groupBy { f =>
      classify(f.substring(f.lastIndexOf('/') + 1)).getOrElse(throw
        new IllegalArgumentException(s"$f: not a recognized container " +
          "(.bag / .mcap / .db3 / .db3.zstd)"))
    }
    require(grouped.nonEmpty, s"no container files under $path")
    grouped
  }

  /** The STREAMING unified spine over a fleet-upload prefix receiving
    * any mix of `.bag`, `.mcap` and `.db3(.zstd)` — the live
    * counterpart of [[spine]], same normalized columns. Spark-first
    * composition: each container contributes through its own
    * micro-batch source and Structured Streaming checkpoints each
    * source's offsets INDEPENDENTLY in the union — there is no
    * composite offset to invent, and each format keeps its native
    * granularity: rosbag and mcap streams tail still-GROWING files at
    * chunk grain (plus discover new ones), the db3 stream discovers
    * newly LANDED complete recordings at file grain (at-rest format —
    * live sidecars / truncated uploads defer, never refuse; see
    * Db3MicroBatchStream).
    *
    * `path` must be a directory (or per-source glob base): unlike
    * [[spine]], nothing is resolved eagerly — an empty or not-yet
    * created prefix is a stream with nothing to read yet, and files
    * of all three formats may land at any time. Works with any sink /
    * trigger incl. `Trigger.AvailableNow` (each source pins its own
    * drain point).
    */
  def stream(spark: SparkSession, path: String): DataFrame = {
    val bag = spark.readStream.format("rosbag").load(path)
      .select(col("bag_path").as("file_path"),
        lit("rosbag").as("container"), col("topic"),
        col("datatype").as("type"), lit("ros1").as("encoding"),
        (col("time_sec").cast("long") * lit(1000000000L) +
          col("time_nsec").cast("long")).as("timestamp"),
        lit(null).cast("long").as("publish_time"),
        lit(null).cast("long").as("sequence"),
        col("size"), col("data"))
    val mcap = spark.readStream.format("mcap").load(path)
      .select(col("file_path"), lit("mcap").as("container"), col("topic"),
        col("schema_name").as("type"),
        col("message_encoding").as("encoding"),
        col("log_time").as("timestamp"),
        col("publish_time"), col("sequence"),
        col("size"), col("data"))
    val db3 = spark.readStream.format("db3").load(path)
      .select(col("file_path"), lit("db3").as("container"), col("topic"),
        col("type"), col("serialization_format").as("encoding"),
        col("timestamp"),
        lit(null).cast("long").as("publish_time"),
        lit(null).cast("long").as("sequence"),
        col("size"), col("data"))
    bag.unionByName(mcap).unionByName(db3)
  }

  /** The unified message spine over every container under `path`. */
  def spine(spark: SparkSession, path: String): DataFrame = {
    val branches = resolve(path).toSeq.sortBy(_._1).map {
      case ("rosbag", files) =>
        // the *Spec helpers fail loudly on newline-bearing paths the
        // newline-separated option encoding cannot carry
        spark.read.format("rosbag")
          .option("bags", graft.ros.ContainerSource.filesSpec(files)).load()
          .select(col("bag_path").as("file_path"),
            lit("rosbag").as("container"), col("topic"),
            col("datatype").as("type"),
            // rosbag1 has exactly one wire serialization
            lit("ros1").as("encoding"),
            (col("time_sec").cast("long") * lit(1000000000L) +
              col("time_nsec").cast("long")).as("timestamp"),
            lit(null).cast("long").as("publish_time"),
            lit(null).cast("long").as("sequence"),
            col("size"), col("data"))
      case ("mcap", files) =>
        spark.read.format("mcap")
          .option("files", graft.ros.ContainerSource.filesSpec(files)).load()
          .select(col("file_path"), lit("mcap").as("container"), col("topic"),
            col("schema_name").as("type"),
            col("message_encoding").as("encoding"),
            col("log_time").as("timestamp"),
            col("publish_time"), col("sequence"),
            col("size"), col("data"))
      case ("db3", files) =>
        spark.read.format("db3")
          .option("files", graft.ros.ContainerSource.filesSpec(files)).load()
          .select(col("file_path"), lit("db3").as("container"), col("topic"),
            col("type"), col("serialization_format").as("encoding"),
            col("timestamp"),
            lit(null).cast("long").as("publish_time"),
            lit(null).cast("long").as("sequence"),
            col("size"), col("data"))
      case (other, _) => throw new IllegalStateException(s"unreachable: $other")
    }
    branches.reduce(_ unionByName _)
  }
}
