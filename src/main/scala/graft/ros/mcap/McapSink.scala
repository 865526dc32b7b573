package graft.ros.mcap

import java.io.{ByteArrayOutputStream, OutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** Incremental single-file MCAP writer: magic+header up front, then
  * one Chunk record per ~`chunkBytesTarget` raw bytes (schema/channel
  * records are interleaved into the chunk stream the first time a row
  * references them — defined-before-use, the recorder convention), and
  * on close the DataEnd + Summary section (Schema/Channel repeats,
  * Statistics with per-channel counts, ChunkIndex entries) + Footer
  * that lets [[McapIO.scanIndex]] — and the metadata-aggregate
  * pushdown — plan the file without touching chunk bodies. Memory is
  * O(current chunk + distinct schemas/channels + chunk count), never
  * O(messages).
  */
final class McapStreamingWriter(out: OutputStream, compression: String,
    chunkBytesTarget: Int,
    schemaDefs: Map[String, Seq[(String, Array[Byte])]] = Map.empty,
    profile: String = "ros2", fileFirstDefs: Boolean = true) {
  import McapFormat._

  private var pos = 0L
  private def emit(bytes: Array[Byte]): Unit = {
    out.write(bytes); pos += bytes.length
  }

  emit(Magic)
  locally {
    val h = new ByteArrayOutputStream()
    wStr(h, profile); wStr(h, "graft")
    emit(record(OpHeader, h.toByteArray))
  }

  // registries: discovered in row order, ids assigned 1..n; the
  // schemaIdCache memoizes the per-(row-shape, source-file) variant
  // resolution so the hot path stays one hash probe per message. The
  // schemas registry keys a DEFINITION digest: two files defining the
  // same name with divergent (schema-evolved) definitions keep BOTH
  // Schema records (mcap allows same-name schemas under distinct ids),
  // each channel pointing at the definition its payloads were written
  // with — identical definitions still share one record
  private val schemaIdCache =
    scala.collection.mutable.HashMap[(String, String, String, String), Int]()
  private val schemas =
    scala.collection.mutable.LinkedHashMap[(String, String, String), McapSchema]()
  private val channels =
    scala.collection.mutable.LinkedHashMap[(String, Int, String), McapChannel]()
  // (ref, full record length, compressed payload length,
  //  channel -> MessageIndex record file offset, MessageIndex bytes)
  private val chunkRefs = scala.collection.mutable.ArrayBuffer[
    (McapChunkRef, Long, Long, Seq[(Int, Long)], Long)]()
  private val chanCounts = scala.collection.mutable.LinkedHashMap[Int, Long]()
  private var total = 0L
  private var minT = Long.MaxValue
  private var maxT = Long.MinValue

  private var chunk = new ByteArrayOutputStream()
  private var chunkMin = Long.MaxValue
  private var chunkMax = Long.MinValue
  // per-channel (log_time, offset-in-uncompressed-chunk) entries for
  // the MessageIndex (op 0x07) records after each chunk — the
  // seek-within-chunk index external mcap readers use; bounded by one
  // chunk's messages
  private val chunkMsgIndex = scala.collection.mutable.LinkedHashMap[
    Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()

  def write(topic: String, schemaName: String, schemaEncoding: String,
      messageEncoding: String, sequence: Long, logTime: Long,
      publishTime: Long, data: Array[Byte], sourcePath: String = ""): Unit = {
    // wire-width guards, LOUD: schema/channel ids serialize as uint16
    // and sequence as uint32 — silent wrap would re-attribute messages
    // to the wrong topic (ids) or corrupt the sequence round-trip
    require(sequence >= 0L && sequence <= 0xFFFFFFFFL,
      s"mcap sequence is uint32, got $sequence (pmod or zero it before writing)")
    require(logTime >= 0L && publishTime >= 0L,
      s"mcap timestamps are unsigned, got log_time=$logTime publish_time=$publishTime")
    // the MCAP spec requires Schema.name non-empty; a schema-less row
    // (McapExport.prepare's default, Convert inputs with empty type)
    // uses the spec's schema_id 0 "no schema" convention instead of
    // registering an invalid empty-named Schema record
    val schemaId: Int =
      if (schemaName.isEmpty) 0
      else schemaIdCache.getOrElseUpdate(
        (schemaName, schemaEncoding, messageEncoding, sourcePath), {
        // defs VARIANT for this channel: the row's OWN source file
        // first — its definition is the one these payloads were
        // written (or transcoded) with, so divergent same-named
        // definitions across a fleet's files each keep their truth —
        // then the defs side-channel (harvest/inline), which also
        // covers prepared frames without a file. Within the variants:
        // the row's explicit schema encoding first, else the variant
        // whose dialect decodes this message encoding (ros1 → ros1msg,
        // cdr → ros2msg/ros2idl, protobuf → protobuf — a type name
        // defined in two dialects must not attach one dialect's
        // definition to the other's channels), else the first.
        // can a variant set actually SERVE this channel's dialect?
        def serves(vs: Seq[(String, Array[Byte])]): Boolean =
          if (schemaEncoding.nonEmpty) vs.exists(_._1 == schemaEncoding)
          else vs.exists(v =>
            McapPayload.messageEncodingOpt(v._1).contains(messageEncoding))
        // the priority side wins when it can serve the dialect (or
        // neither side can — historic head-variant fallback applies to
        // the priority side then); a channel pinned without the row's
        // dialect must not displace the file's dialect-correct
        // definition, and vice versa
        def choose(primary: Seq[(String, Array[Byte])],
            secondary: => Seq[(String, Array[Byte])])
            : Seq[(String, Array[Byte])] =
          if (primary.isEmpty) secondary
          else if (serves(primary)) primary
          else { val s = secondary; if (serves(s)) s else primary }
        val variants =
          if (fileFirstDefs)
            choose(graft.ros.SourceDefs.variantsFor(sourcePath, schemaName),
              schemaDefs.getOrElse(schemaName, Seq.empty))
          else
            // an EXPLICITLY pinned defs channel is definitive; the
            // row's file covers types/dialects the channel lacks
            choose(schemaDefs.getOrElse(schemaName, Seq.empty),
              graft.ros.SourceDefs.variantsFor(sourcePath, schemaName))
        // candidate POOL per the narrowest matching criterion
        val byExplicit =
          variants.filter(v => schemaEncoding.nonEmpty && v._1 == schemaEncoding)
        val byMsgEnc = variants.filter(v =>
          McapPayload.messageEncodingOpt(v._1).contains(messageEncoding))
        val pool =
          if (byExplicit.nonEmpty) byExplicit
          else if (byMsgEnc.nonEmpty) byMsgEnc
          else variants
        val distinctDefs = pool.map(v => (v._1, v._2.toSeq)).distinct
        // several byte-distinct candidates survive the criteria: keep
        // the first only when they are provably WIRE-EQUIVALENT (the
        // ros2msg-text + generated-IDL shape of one type) — otherwise
        // the rows cannot be attributed per variant here and an honest
        // empty definition beats a confidently wrong one
        val unambiguous = distinctDefs.size <= 1 || (try {
          val sigs = distinctDefs.map { case (e, b) =>
            val bd = McapPayload.bundle(e, schemaName, b.toArray)
            (graft.ros.RosSchemaMapper.flatSchema(bd),
              McapPayload.wireSignature(bd),
              McapPayload.messageEncodingFor(e))
          }
          sigs.distinct.size == 1 && sigs.head._3 != "protobuf"
        } catch { case _: Exception => false })
        // the resolved variant wins on definition bytes; its encoding
        // too when the row left schema_encoding empty (prepared frames)
        val (enc, defBytes) = pool.headOption match {
          case Some((e, b)) if unambiguous =>
            (if (schemaEncoding.nonEmpty) schemaEncoding else e, b)
          case Some((e, _)) =>
            (if (schemaEncoding.nonEmpty) schemaEncoding else e,
              Array.emptyByteArray)
          case None => (schemaEncoding, Array.emptyByteArray)
        }
        val digest = McapTypedRead.md5hex(defBytes)
        schemas.getOrElseUpdate((schemaName, enc, digest), {
          require(schemas.size < 0xFFFF,
            s"mcap schema ids are uint16: partition exceeds 65534 distinct schemas")
          val s = McapSchema(schemas.size + 1, schemaName, enc, defBytes)
          chunk.write(schemaRec(s))
          s
        }).id
      })
    val ch = channels.getOrElseUpdate((topic, schemaId, messageEncoding), {
      require(channels.size < 0xFFFF,
        s"mcap channel ids are uint16: partition exceeds 65534 distinct " +
          "(topic, schema, encoding) channels — repartition by topic first")
      val c = McapChannel(channels.size + 1, schemaId, topic, messageEncoding)
      chunk.write(channelRec(c))
      c
    })
    val offsetInChunk = chunk.size().toLong
    chunk.write(messageRec(McapMessage(ch.id, sequence, logTime, publishTime, data)))
    chunkMsgIndex.getOrElseUpdate(ch.id,
      scala.collection.mutable.ArrayBuffer.empty) += ((logTime, offsetInChunk))
    chanCounts(ch.id) = chanCounts.getOrElse(ch.id, 0L) + 1L
    total += 1
    if (logTime < minT) minT = logTime
    if (logTime > maxT) maxT = logTime
    if (logTime < chunkMin) chunkMin = logTime
    if (logTime > chunkMax) chunkMax = logTime
    if (chunk.size() >= chunkBytesTarget) flushChunk()
  }

  // summary AttachmentIndex/MetadataIndex inputs:
  // (recordOffset, fullRecordLen, logTime, createTime, dataSize, name, mediaType)
  private val attachIndex = scala.collection.mutable.ArrayBuffer[
    (Long, Long, Long, Long, Long, String, String)]()
  private val metaIndex = scala.collection.mutable.ArrayBuffer[
    (Long, Long, String)]()

  /** Write an Attachment record (op 0x09) — a calibration blob, URDF,
    * firmware dump riding along with the messages. Top-level records:
    * the current chunk flushes first (attachments may never live
    * inside a chunk). The crc field is computed per spec (CRC32 of
    * the record fields preceding it); an AttachmentIndex entry lands
    * in the summary so external tooling lists attachments without a
    * data-section walk.
    */
  def writeAttachment(logTime: Long, createTime: Long, name: String,
      mediaType: String, data: Array[Byte]): Unit = {
    flushChunk()
    val p = new ByteArrayOutputStream()
    wLeLong(p, logTime); wLeLong(p, createTime)
    wStr(p, name); wStr(p, mediaType)
    wLeLong(p, data.length.toLong); p.write(data)
    val body = p.toByteArray
    val crc = new java.util.zip.CRC32(); crc.update(body, 0, body.length)
    wLeInt(p, crc.getValue)
    val rec = record(OpAttachment, p.toByteArray)
    attachIndex += ((pos, rec.length.toLong, logTime, createTime,
      data.length.toLong, name, mediaType))
    emit(rec)
  }

  /** Write a Metadata record (op 0x0C): a named string→string map,
    * with a MetadataIndex summary entry.
    */
  def writeMetadata(name: String, kv: Seq[(String, String)]): Unit = {
    flushChunk()
    val m = new ByteArrayOutputStream()
    kv.foreach { case (k, v) => wStr(m, k); wStr(m, v) }
    val p = new ByteArrayOutputStream()
    wStr(p, name); wLeInt(p, m.size.toLong); p.write(m.toByteArray)
    val rec = record(OpMetadata, p.toByteArray)
    metaIndex += ((pos, rec.length.toLong, name))
    emit(rec)
  }

  private def flushChunk(): Unit = {
    if (chunk.size() == 0) return
    val raw = chunk.toByteArray
    val crc = new java.util.zip.CRC32(); crc.update(raw, 0, raw.length)
    val comp = compress(compression, raw)
    val p = new ByteArrayOutputStream()
    val st = if (chunkMin == Long.MaxValue) 0L else chunkMin
    val en = if (chunkMax == Long.MinValue) 0L else chunkMax
    wLeLong(p, st); wLeLong(p, en)
    wLeLong(p, raw.length); wLeInt(p, crc.getValue)
    wStr(p, compression); wLeLong(p, comp.length); p.write(comp)
    val rec = record(OpChunk, p.toByteArray)
    val ref = McapChunkRef(pos, rec.length - 9, st, en, compression,
      raw.length, crc.getValue)
    emit(rec)
    // MessageIndex (op 0x07) records directly after the chunk — one
    // per channel, (log_time, uncompressed-chunk offset) entries in
    // chronological order (frames arriving time-unsorted within a
    // partition are legal input); ChunkIndex references them
    val idxStart = pos
    val offsets = chunkMsgIndex.toSeq.map { case (chanId, entries) =>
      val mi = new ByteArrayOutputStream()
      wLeShort(mi, chanId)
      wLeInt(mi, entries.size * 16L)
      entries.sortBy(e => (e._1, e._2)).foreach { case (t, off) =>
        wLeLong(mi, t); wLeLong(mi, off)
      }
      val at = pos
      emit(record(OpMessageIndex, mi.toByteArray))
      chanId -> at
    }
    chunkRefs += ((ref, rec.length.toLong, comp.length.toLong,
      offsets, pos - idxStart))
    chunkMsgIndex.clear()
    chunk = new ByteArrayOutputStream()
    chunkMin = Long.MaxValue
    chunkMax = Long.MinValue
  }

  /** Seal the file: last chunk, DataEnd, summary, footer. Does NOT
    * close the underlying stream (the caller owns it).
    */
  def finish(): Unit = {
    flushChunk()
    val de = new ByteArrayOutputStream(); wLeInt(de, 0)
    emit(record(OpDataEnd, de.toByteArray))
    val summaryStart = pos
    schemas.values.foreach(s => emit(schemaRec(s)))
    channels.values.foreach(c => emit(channelRec(c)))
    val st = new ByteArrayOutputStream()
    wLeLong(st, total)
    wLeShort(st, schemas.size)
    wLeInt(st, channels.size.toLong)
    wLeInt(st, attachIndex.size.toLong); wLeInt(st, metaIndex.size.toLong)
    wLeInt(st, chunkRefs.size.toLong)
    wLeLong(st, if (total == 0L) 0L else minT)
    wLeLong(st, if (total == 0L) 0L else maxT)
    val byChan = chanCounts.toSeq.sortBy(_._1)
    wLeInt(st, byChan.size * 10L)
    byChan.foreach { case (id, n) => wLeShort(st, id); wLeLong(st, n) }
    emit(record(OpStatistics, st.toByteArray))
    chunkRefs.foreach {
      case (ref, recLen, compLen, idxOffsets, idxLen) =>
        val p = new ByteArrayOutputStream()
        wLeLong(p, ref.messageStartTime); wLeLong(p, ref.messageEndTime)
        wLeLong(p, ref.fileOffset); wLeLong(p, recLen)
        wLeInt(p, idxOffsets.size * 10L) // message_index_offsets map
        idxOffsets.foreach { case (chan, off) =>
          wLeShort(p, chan); wLeLong(p, off)
        }
        wLeLong(p, idxLen) // message_index_length
        wStr(p, ref.compression)
        wLeLong(p, compLen); wLeLong(p, ref.uncompressedSize)
        emit(record(OpChunkIndex, p.toByteArray))
    }
    // AttachmentIndex (op 0x0A) / MetadataIndex (op 0x0D): the summary
    // locators external readers (mcap CLI `attachments`/`metadata`)
    // use instead of walking the data section
    attachIndex.foreach { case (off, len, lt, ct, ds, name, mt) =>
      val p = new ByteArrayOutputStream()
      wLeLong(p, off); wLeLong(p, len)
      wLeLong(p, lt); wLeLong(p, ct); wLeLong(p, ds)
      wStr(p, name); wStr(p, mt)
      emit(record(OpAttachmentIndex, p.toByteArray))
    }
    metaIndex.foreach { case (off, len, name) =>
      val p = new ByteArrayOutputStream()
      wLeLong(p, off); wLeLong(p, len); wStr(p, name)
      emit(record(OpMetadataIndex, p.toByteArray))
    }
    val f = new ByteArrayOutputStream()
    wLeLong(f, summaryStart); wLeLong(f, 0); wLeInt(f, 0)
    emit(record(OpFooter, f.toByteArray))
    emit(Magic)
  }

  def rowCount: Long = total
  /** Bytes emitted so far (the whole file after `finish()`). */
  def bytesWritten: Long = pos
}

/** MCAP export sink — the write half of the `mcap` DataSource: the
  * `rosbag filter` / `ros2 bag convert` query class (read an archive,
  * filter/transform relationally, re-emit a container a ROS tool can
  * play back), which the reference leaves to external tooling (its
  * pipeline is one-way bag→parquet, reference rosbag2parquet.cpp:41).
  *
  * Layout at scale: ONE MCAP file per Spark partition (`part-<p>-<t>-
  * <job>.mcap`), written INCREMENTALLY — the task buffers only the
  * current chunk (`chunk_bytes`, default 4 MiB raw), never the
  * partition — so a 100 TB export is `repartition(n)` for file-count
  * control plus embarrassingly parallel encode, no driver collect and
  * no task-memory dependence on partition size.
  *
  * Usage: `df.write.format("mcap").mode("append").save(dir)` where df
  * carries the message-spine columns (a round-tripped
  * `spark.read.format("mcap")` frame does; [[McapExport.prepare]]
  * conforms arbitrary frames). `mode("overwrite")` replaces the
  * directory's previous `*.mcap` files atomically-per-file (old files
  * are deleted only after every task committed). Options:
  * `compression` (zstd | lz4 | none; default zstd), `chunk_bytes`
  * (raw bytes per chunk, default 4 MiB), `schema_defs_from` (an
  * existing mcap path whose Schema records — the message DEFINITIONS —
  * are harvested driver-side and embedded, so typed readers can decode
  * the export; without it schemas carry empty definition bytes and
  * only spine reads are possible).
  *
  * Column contract (spine names): `topic`, `schema_name`,
  * `schema_encoding`, `message_encoding`, `log_time`, `publish_time`,
  * `sequence`, `data` drive the output; `file_path`/`chunk_idx`/
  * `offset`/`size`/`channel_id`/`data_crc32` are read-derived and
  * ignored (the writer re-derives layout and ids). `profile` lands in
  * the header record: "ros2" (the default — ros2 recordings are the
  * dominant producer) is only CONFORMANT when every channel is
  * cdr/ros2msg-shaped, so writers of protobuf or mixed-dialect archives
  * should pass "" (the spec's "no profile") or their own profile
  * string — [[graft.ros.Convert]] sets it from the sources' message
  * encodings. The file protocol is [[graft.ros.ContainerSink]]'s.
  */
final class McapSink private (topic: Int, schemaName: Int, schemaEncoding: Int,
    messageEncoding: Int, sequence: Int, logTime: Int, publishTime: Int,
    data: Int, filePath: Int, compression: String, chunkBytes: Int,
    defs: Map[String, Seq[(String, Array[Byte])]], profile: String,
    defsFileFirst: Boolean) extends graft.ros.ContainerSink.Format {
  override def suffixes: Seq[String] = Seq(".mcap")

  override def encoder(out: graft.ros.ContainerSink.TaskFiles)
      : graft.ros.ContainerSink.Encoder = new graft.ros.ContainerSink.Encoder {
    private val writer = new McapStreamingWriter(out.create("", ".mcap"),
      compression, chunkBytes, defs, profile, defsFileFirst)

    override def write(row: InternalRow): Unit =
      writer.write(
        topic = row.getUTF8String(topic).toString,
        schemaName = if (row.isNullAt(schemaName)) ""
          else row.getUTF8String(schemaName).toString,
        schemaEncoding = if (row.isNullAt(schemaEncoding)) ""
          else row.getUTF8String(schemaEncoding).toString,
        messageEncoding = if (row.isNullAt(messageEncoding)) "cdr"
          else row.getUTF8String(messageEncoding).toString,
        sequence = if (row.isNullAt(sequence)) 0L else row.getLong(sequence),
        logTime = row.getLong(logTime),
        publishTime = if (row.isNullAt(publishTime)) row.getLong(logTime)
          else row.getLong(publishTime),
        data = row.getBinary(data),
        sourcePath = if (filePath < 0 || row.isNullAt(filePath)) ""
          else row.getUTF8String(filePath).toString)

    override def finish(): AnyRef = { writer.finish(); null }
  }
}

object McapSink {
  def apply(w: graft.ros.ContainerSink.Request): McapSink =
    new McapSink(
      topic = w.need("topic", StringType),
      schemaName = w.need("schema_name", StringType, nullable = true),
      schemaEncoding = w.need("schema_encoding", StringType, nullable = true),
      messageEncoding = w.need("message_encoding", StringType, nullable = true),
      sequence = w.need("sequence", LongType, nullable = true),
      logTime = w.need("log_time", LongType),
      publishTime = w.need("publish_time", LongType, nullable = true),
      data = w.need("data", BinaryType),
      // OPTIONAL source-file column: feeds the writer's late-binding
      // defs fallback (SourceDefs)
      filePath = w.opt("file_path", StringType),
      compression = w.option("compression").getOrElse("zstd") match {
        case "none" => ""
        case c => c
      },
      chunkBytes = w.option("chunk_bytes").map(_.toInt).getOrElse(4 * 1024 * 1024),
      defs = resolveDefs(w.option("schema_defs_inline"), w.option("schema_defs_from")),
      profile = w.option("profile").getOrElse("ros2"),
      defsFileFirst = graft.ros.DefsHarvest.fileFirst(w.option("defs_priority")))

  /** The full defs channel: `schema_defs_inline` entries FIRST (they
    * carry definitions no source container holds — e.g.
    * [[graft.ros.Transcode]]'s translations — and win the per-channel
    * variant choice), then the `schema_defs_from` harvest: mcap Schema
    * records verbatim, db3 message_definitions as ros2msg/ros2idl
    * schemas, rosbag1 connection records as ros1msg schemas (all
    * registered MCAP schema encodings, so nothing here is
    * cross-dialect).
    */
  private def resolveDefs(inline: Option[String], from: Option[String])
      : Map[String, Seq[(String, Array[Byte])]] = {
    val defs = inline.map(graft.ros.DefsHarvest.decodeInline).getOrElse(Seq.empty) ++
      from.map(graft.ros.DefsHarvest.fromPath).getOrElse(Seq.empty)
    // one definition per (name, ENCODING) — mcap supports multiple
    // Schema records, so a type name defined in two dialects (a bag's
    // ros1msg pkg/T and a db3's ros2msg pkg/T) keeps BOTH variants;
    // the writer picks per channel by its message encoding. Deduping
    // by bare name would make one dialect's channels unreadable.
    val seen = scala.collection.mutable.HashSet[(String, String)]()
    defs.filter(d => seen.add((d.name, d.encoding)))
      .groupBy(_.name).view
      .mapValues(_.map(d => (d.encoding, d.data))).toMap
  }
}

/** Conform an arbitrary frame to the mcap write spine. Only `topic`,
  * `logTimeNs` and `data` are semantically required; everything else
  * defaults (publish_time = log_time, sequence 0 = unknown per the
  * spec, message_encoding "cdr"). Read-derived spine columns are
  * filled with placeholders the writer ignores. Null handling:
  * sourced columns are coalesced with their defaults so the output
  * schema is non-nullable (the write table's columns are).
  */
object McapExport {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  def prepare(df: DataFrame, topic: Column, logTimeNs: Column, data: Column,
      schemaName: Column = lit(""), schemaEncoding: Column = lit(""),
      messageEncoding: Column = lit("cdr"), publishTimeNs: Column = null,
      sequence: Column = null, sourcePath: Column = null): DataFrame = {
    val lt = coalesce(logTimeNs.cast("long"), lit(0L))
    df.select(
      coalesce(Option(sourcePath).map(_.cast("string")).getOrElse(lit("")),
        lit("")).as("file_path"),
      lit(-1).as("chunk_idx"),
      lit(-1).as("offset"),
      lt.as("log_time"),
      coalesce(Option(publishTimeNs).map(_.cast("long")).getOrElse(lt), lt)
        .as("publish_time"),
      coalesce(Option(sequence).map(_.cast("long")).getOrElse(lit(0L)), lit(0L))
        .as("sequence"),
      coalesce(length(data).cast("int"), lit(0)).as("size"),
      lit(0).as("channel_id"),
      coalesce(topic.cast("string"), lit("")).as("topic"),
      coalesce(schemaName.cast("string"), lit("")).as("schema_name"),
      coalesce(schemaEncoding.cast("string"), lit("")).as("schema_encoding"),
      coalesce(messageEncoding.cast("string"), lit("cdr")).as("message_encoding"),
      lit(0L).as("data_crc32"),
      coalesce(data.cast("binary"), lit(Array.emptyByteArray)).as("data"))
  }

  /** Conform an arbitrary frame to the attachments side-table write
    * spine (`option("table", "attachments")`): only `name` and `data`
    * are semantically required; times default to 0 (the spec's
    * "unknown") and the media type to octet-stream. `file_path`/`size`
    * are read-derived placeholders the writer ignores.
    */
  def prepareAttachments(df: DataFrame, name: Column, data: Column,
      mediaType: Column = lit("application/octet-stream"),
      logTimeNs: Column = lit(0L), createTimeNs: Column = lit(0L)): DataFrame =
    df.select(
      lit("").as("file_path"),
      coalesce(logTimeNs.cast("long"), lit(0L)).as("log_time"),
      coalesce(createTimeNs.cast("long"), lit(0L)).as("create_time"),
      coalesce(name.cast("string"), lit("")).as("name"),
      coalesce(mediaType.cast("string"), lit("application/octet-stream"))
        .as("media_type"),
      coalesce(length(data).cast("long"), lit(0L)).as("size"),
      coalesce(data.cast("binary"), lit(Array.emptyByteArray)).as("data"))
}
