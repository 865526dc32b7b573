package graft.ros.mcap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ros.etl.{BagEtl, RoutedEtl}

/** MCAP → parquet-tables ETL: the reference's route-by-type dataflow
  * (O4, reference FlattenedRosWriter.cpp:273-289 + README.md:108-121)
  * over the ROS 2 container, at full contract parity with BagEtl:
  *
  *  - a `Messages` spine (meta only) with the DENSE GLOBAL `seqno` in
  *    log-time order (reference FlattenedRosWriter.cpp:195,256 —
  *    assigned by the distributed range-partition operator, never a
  *    single-partition window);
  *  - a `Channels` dimension (the Connections analog);
  *  - one flattened parquet table per typed schema (`ros2msg`,
  *    `ros2idl`, `ros1msg` and `protobuf` encodings,
  *    McapPayload.typedEncodings), with the same drift-namespacing
  *    contract as BagEtl: a schema name carrying more than one
  *    definition across the input writes one table per variant
  *    (`<table>__<md5prefix>`), never a silent mis-decode, and the
  *    `_tables.json` manifest keeps the naming stable across
  *    incremental appends;
  *  - a `RawMessages` table holding the payload bytes of every channel
  *    NOT routed to a typed table (untyped schema encodings:
  *    jsonschema, flatbuffer, schema-less; schemas that cannot
  *    flatten) — the reference's "you don't lose any data" retention
  *    (README.md:106). Routed payloads are NOT duplicated there (their
  *    typed columns — plus the optional raw blob on the typed table —
  *    are the retention);
  *  - Vertica DDL (`vertica_load_tables.sql`, O14) for every table
  *    created by the run;
  *  - versioned output dirs on `run` and incremental appends via
  *    `runIncremental` (O18), with Channels as the increment's commit
  *    record — the same crash-ordering contract as BagEtl.
  *
  * Scale shape: BagEtl's, through [[RoutedEtl]]. The chunk index does
  * not number the messages, so one meta-only pass stages the
  * (log_time, identity) spine, the Seqno operator numbers it, and its
  * seqno map joins the mcap scan once; then ONE Spark job reads every
  * chunk once and hands each message to Messages and, decoded once, to
  * its (file, channel)'s variant table or to RawMessages. A channel
  * whose message encoding does not match its schema encoding's decoder
  * (cdr for ros2msg, protobuf for protobuf) fails that job loudly, as a
  * typed read does, rather than decode garbage; the failed job lands no
  * part file.
  *
  * `BagEtl.compact` applies to this layout unchanged (tables carry
  * `seqno`, so compaction range-partitions and sorts by it).
  */
object McapEtl {
  /** The reference's `info` result (rosbag2parquet.h:6-10) shape for an
    * MCAP input, plus the per-type table row counts. `crcXor` is the
    * bit-xor of per-message CRC32s — order-independent, any single
    * corrupted message flips it (reference TODO rosbag2parquet.cpp:28).
    */
  final case class Info(name: String, messages: Long, channels: Long,
                        sizeBytes: Long, crcXor: Long, tables: Map[String, Long])

  /** Table name from a schema name — the reference's sanitize rule
    * (MessageTable.cpp:315) widened to the ROS 2 three-segment names.
    */
  def tableName(schemaName: String): String =
    schemaName.replaceAll("[^A-Za-z0-9]", "_")

  /** Run the conversion into a fresh (versioned) output dir.
    *
    * @param maxMessages mirrors --max_mbs's test-scope-limiting role
    *        (reference main.cpp:26) with row granularity: every table
    *        keeps the first n messages in log-time order (seqno < n)
    * @param keepRawBlob retain the raw payload bytes on typed tables
    *        (README.md:106)
    * @param nativeTimestamp add a `log_time_ts` TIMESTAMP_NTZ(micros)
    *        column to Messages (reference TODO rosbag2parquet.cpp:31-32):
    *        floor-of-nanos, built with pure NTZ arithmetic so it is
    *        timezone-independent like BagEtl's
    */
  def run(spark: SparkSession, path: String, outDir: String,
          maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
          nativeTimestamp: Boolean = false): Info =
    convert(spark, RoutedEtl.Slice(McapDataSource.files(path)), new java.io.File(path).getName,
      BagEtl.versionedOutputDir(outDir), maxMessages, keepRawBlob, nativeTimestamp)

  /** Incremental multi-file conversion — BagEtl.runIncremental's
    * contract over MCAP inputs: ETL only the files under `path` the
    * Channels dimension does not list yet (RoutedEtl.increment),
    * appending rows with seqnos continuing after the committed maximum
    * and table naming pinned by the `_tables.json` manifest. On an
    * outDir without Messages this is `run` into outDir itself.
    */
  def runIncremental(spark: SparkSession, path: String, outDir: String,
          keepRawBlob: Boolean = true, nativeTimestamp: Boolean = false): Info = {
    val slice = RoutedEtl.increment(spark, outDir, McapDataSource.files(path),
      "file_path", "Channels")
    val name = new java.io.File(path).getName
    if (slice.files.isEmpty) Info(name, 0L, 0L, 0L, 0L, Map.empty)
    else convert(spark, slice, name, outDir, None, keepRawBlob, nativeTimestamp)
  }

  /** The MCAP half of the conversion: the summary census, the decoders
    * and the table layouts; [[RoutedEtl]] does the rest.
    */
  private def convert(spark: SparkSession, slice: RoutedEtl.Slice, name: String,
          out: String, maxMessages: Option[Long], keepRawBlob: Boolean,
          nativeTimestamp: Boolean): Info = {
    val r = RoutedEtl.run(spark, out, slice, maxMessages, keepRawBlob, nativeTimestamp) {
      val indexes = slice.files.map(f => f -> McapIO.scanIndex(f))
      val typed = indexes.flatMap(_._2.schemas.values.filter(s =>
        McapPayload.typedEncodings(s.encoding)))
      // A typed-encoding schema whose descriptor cannot flatten (a
      // recursive protobuf type, repeated bytes, corrupt descriptor
      // bytes, an incomplete ros2msg dependency closure — flatSchema,
      // not bundle alone, resolves references) must not sink the whole
      // run: its channels fall back to RawMessages retention like any
      // untyped encoding. Decided per NAME, so a name with one good and
      // one broken variant stays raw wholesale.
      val flattenable: Set[String] = typed.groupBy(_.name).collect {
        case (nm, ss) if ss.forall(s => scala.util.Try(graft.ros.RosSchemaMapper.flatSchema(
          McapPayload.bundle(s.encoding, nm, s.data))).isSuccess) => nm
      }.toSet
      def variant(s: McapFormat.McapSchema) = (s.name, McapTypedRead.md5hex(s.data))
      // each (name, md5-of-schema-bytes) variant's first schema record
      val first = typed.filter(s => flattenable(s.name)).groupBy(variant)
        .map { case (k, ss) => k -> ss.head }
      val keys = first.keys.toSeq.sorted
      val refused = scala.collection.mutable.ArrayBuffer.empty[(Int, RoutedEtl.PayloadDecoder)]
      // (file_path, channel_id) → route: one file can carry two
      // same-name variants on different channels
      val routeOf = indexes.map { case (f, idx) =>
        f -> idx.channels.values.map { c =>
          c.id.toLong -> idx.schemas.get(c.schemaId)
            .filter(s => McapPayload.typedEncodings(s.encoding) && flattenable(s.name))
            .fold(-1) { s =>
              val v = keys.indexOf(variant(s))
              val enc = first(variant(s)).encoding
              val want = McapPayload.messageEncodingFor(enc)
              if (c.messageEncoding == want) v
              else {
                refused += v -> new Refused(s"channel ${c.id} encodes messages as " +
                  s"'${c.messageEncoding}'; schema encoding '$enc' decodes '$want'")
                keys.size + refused.size - 1
              }
            }
        }.toMap.withDefaultValue(-1)
      }.toMap
      RoutedEtl.Source(
        spark.read.format("mcap").option("files", graft.ros.ContainerSource.filesSpec(slice.files)).load(),
        messages = Seq("file_path", "chunk_idx", "offset", "log_time", "publish_time",
          "sequence", "size", "channel_id", "topic", "schema_name", "schema_encoding",
          "message_encoding", "data_crc32").map(col),
        // log_time is u64 nanos (never negative), so `div` floors
        nativeTime = expr("timestampadd(MICROSECOND, log_time div 1000, " +
          "TIMESTAMP_NTZ '1970-01-01 00:00:00')").as("log_time_ts"),
        order = Seq("log_time", "file_path", "chunk_idx", "offset"),
        identity = Seq("file_path", "chunk_idx", "offset"), indexSeqno = None,
        key = ("file_path", "channel_id"), tail = Seq("channel_id", "file_path"),
        raw = Seq("channel_id", "topic", "schema_name", "schema_encoding",
          "message_encoding", "file_path"),
        variants = keys.map { case k @ (nm, md5) =>
          val s = first(k)
          RoutedEtl.Variant(nm, md5, tableName(nm),
            McapTypedRead.typedSchema(McapPayload.bundle(s.encoding, nm, s.data),
              includeRaw = false).fields.toSeq.drop(McapTypedRead.MetaFields.size))
        },
        decoders = keys.indices.map { v =>
          val s = first(keys(v))
          v -> (new SchemaDecoder(s.encoding, s.name, s.data): RoutedEtl.PayloadDecoder)
        } ++ refused,
        routeOf = routeOf,
        dimension = RoutedEtl.Dimension("Channels", McapTables.ChannelsSchema,
          McapTables.channelRows(slice.files)),
        messagesNullable = true, typedSeqnoNullable = true)
    }
    Info(name, r.count, r.dimensionRows, r.bytes, r.crcXor, r.tables)
  }

  /** A schema record's payload decode, the typed `mcap` source's
    * (McapPayload.decoder); also db3's, whose definitions are ros2msg /
    * ros2idl text. Its definition parses once per task.
    */
  private[ros] final class SchemaDecoder(encoding: String, name: String, schema: Array[Byte])
      extends RoutedEtl.PayloadDecoder {
    @transient private lazy val decoder = McapPayload.decoder(encoding, name, schema)
    def decode(data: Array[Byte]): Seq[Any] = decoder(data)
  }

  /** The route of a channel whose messages its schema's decoder cannot
    * read: its first message fails the data job.
    */
  private final class Refused(why: String) extends RoutedEtl.PayloadDecoder {
    def decode(data: Array[Byte]): Seq[Any] = throw new IllegalArgumentException(why)
  }
}
