package graft.ros.db3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ros.etl.{BagEtl, RoutedEtl}

/** Route-by-type ETL over rosbag2 sqlite storage — the third container
  * under the SAME contract surface as BagEtl (rosbag1) and McapEtl
  * (MCAP):
  *
  *  - `Messages.parquet`: the spine — every message's metadata plus a
  *    payload CRC32, under a DENSE GLOBAL `seqno` in timestamp order
  *    ((file_path, msg_id) tie-break);
  *  - `Topics.parquet`: the Connections/Channels dimension;
  *  - one flattened table per (type, md5-of-definition) VARIANT from
  *    the files' message_definitions tables, decoding CDR payloads
  *    through the shared ros2msg → flatSchema stack; a type whose
  *    definition drifts across files writes one table per variant
  *    (`<table>__<md5prefix>`), never a silent mis-decode, with
  *    `_tables.json` keeping names stable across increments;
  *  - `RawMessages.parquet`: byte-exact retention of every message NOT
  *    routed to a typed table (no definitions table — pre-Humble —,
  *    unsupported encodings, unflattenable definitions, non-cdr
  *    serialization) — "you don't lose any data". Both `ros2msg` and
  *    `ros2idl` definitions route typed (McapPayload dispatch);
  *  - Vertica DDL for every table created; versioned output dirs on
  *    `run`; `runIncremental` appends new files with continuing seqnos
  *    and Topics written LAST as the increment's commit record
  *    (RoutedEtl.increment).
  *
  * Scale shape: BagEtl's, through [[RoutedEtl]]: one meta-only walk of
  * the sqlite b-trees (the `db3` source's per-subtree partitions)
  * stages the (timestamp, identity) spine for the Seqno operator, and
  * ONE Spark job walks them again, joined to the seqno map, handing
  * each message to Messages and, decoded once, to its (file, topic)'s
  * variant table or to RawMessages.
  */
object Db3Etl {

  final case class Info(name: String, messages: Long, topics: Long,
                        bytes: Long, crcXor: Long, tables: Map[String, Long])

  def tableName(typeName: String): String =
    typeName.replaceAll("[^A-Za-z0-9]", "_")

  def run(spark: SparkSession, path: String, outDir: String,
          maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
          nativeTimestamp: Boolean = false): Info =
    convert(spark, RoutedEtl.Slice(Db3DataSource.files(path)), new java.io.File(path).getName,
      BagEtl.versionedOutputDir(outDir), maxMessages, keepRawBlob, nativeTimestamp)

  /** Incremental conversion, BagEtl/McapEtl's contract: only files the
    * Topics dimension does not list yet are converted (RoutedEtl.increment);
    * seqnos continue past the committed max; naming pinned by the manifest.
    */
  def runIncremental(spark: SparkSession, path: String, outDir: String,
          keepRawBlob: Boolean = true, nativeTimestamp: Boolean = false): Info = {
    val slice = RoutedEtl.increment(spark, outDir, Db3DataSource.files(path),
      "file_path", "Topics")
    val name = new java.io.File(path).getName
    if (slice.files.isEmpty) Info(name, 0L, 0L, 0L, 0L, Map.empty)
    else convert(spark, slice, name, outDir, None, keepRawBlob, nativeTimestamp)
  }

  /** The db3 half of the conversion: the catalog census, the decoders
    * and the table layouts; [[RoutedEtl]] does the rest.
    */
  private def convert(spark: SparkSession, slice: RoutedEtl.Slice, name: String,
          out: String, maxMessages: Option[Long], keepRawBlob: Boolean,
          nativeTimestamp: Boolean): Info = {
    val r = RoutedEtl.run(spark, out, slice, maxMessages, keepRawBlob, nativeTimestamp) {
      // ONE metadata scan per file serves the dimension and the
      // definition census alike — parallel across files
      val metas = Db3IO.scanMetas(slice.files)
      val defs = metas.flatMap { case (f, m) =>
        m.definitions.map { case (t, enc, text) => (t, enc, text.getBytes("UTF-8"), f) } }
      // A type is routable only when EVERY variant is ros2msg/ros2idl
      // and FLATTENS (bundle construction alone does not resolve
      // references — flatSchema does, so an incomplete dependency
      // closure falls back to RawMessages here) — a split would route
      // one md5 typed and its drifted sibling raw.
      val flattenable: Set[String] = defs.groupBy(_._1).collect {
        case (t, ds) if ds.forall { case (_, enc, text, _) =>
          (enc == "ros2msg" || enc == "ros2idl") &&
            scala.util.Try(graft.ros.RosSchemaMapper.flatSchema(
              graft.ros.mcap.McapPayload.bundle(enc, t, text))).isSuccess } => t
      }.toSet
      val usable = defs.filter(d => flattenable(d._1))
        .map { case (t, enc, text, f) => ((t, graft.ros.mcap.McapTypedRead.md5hex(text)), enc, text, f) }
      // a message routes typed only if ITS OWN FILE defines its type: a
      // pre-Humble file can carry messages of a type another file
      // defines, and those belong in RawMessages
      val variantOf = usable.map { case (k, _, _, f) => (f, k._1) -> k }.toMap
      val first = usable.groupBy(_._1).map { case (k, ds) => k -> ds.head }
      val keys = first.keys.toSeq.sorted
      RoutedEtl.Source(
        spark.read.format("db3").option("files", graft.ros.ContainerSource.filesSpec(slice.files)).load(),
        messages = Seq("file_path", "msg_id", "topic_id", "topic", "type",
          "serialization_format", "timestamp", "size").map(col) :+
          crc32(col("data")).as("data_crc32"),
        // rosbag2 timestamps are u64 nanos, never negative, so `div` floors
        nativeTime = expr("timestampadd(MICROSECOND, timestamp div 1000, " +
          "TIMESTAMP_NTZ '1970-01-01 00:00:00')").as("timestamp_ts"),
        order = Seq("timestamp", "file_path", "msg_id"),
        identity = Seq("file_path", "msg_id"), indexSeqno = None,
        key = ("file_path", "topic_id"),
        tail = Seq("msg_id", "timestamp", "topic_id", "file_path"),
        raw = Seq("topic_id", "topic", "type", "serialization_format", "file_path"),
        variants = keys.map { case k @ (t, md5) =>
          val (_, enc, text, _) = first(k)
          RoutedEtl.Variant(t, md5, tableName(t),
            Db3TypedRead.typedSchema(graft.ros.mcap.McapPayload.bundle(enc, t, text),
              includeRaw = false).fields.toSeq.drop(Db3TypedRead.MetaFields.size))
        },
        decoders = keys.indices.map { v =>
          val (_, enc, text, _) = first(keys(v))
          v -> new graft.ros.mcap.McapEtl.SchemaDecoder(enc, keys(v)._1, text)
        },
        // (file_path, topic_id) → route; only cdr serialization decodes
        routeOf = metas.map { case (f, m) =>
          f -> m.topics.map { case (id, (_, t, fmt)) =>
            id -> variantOf.get((f, t)).filter(_ => fmt == "cdr").fold(-1)(keys.indexOf)
          }.withDefaultValue(-1)
        }.toMap,
        dimension = RoutedEtl.Dimension("Topics", Db3Tables.TopicsSchema,
          Db3Tables.topicRows(metas)),
        messagesNullable = true)
    }
    Info(name, r.count, r.dimensionRows, r.bytes, r.crcXor, r.tables)
  }
}
