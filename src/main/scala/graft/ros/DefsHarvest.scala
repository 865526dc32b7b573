package graft.ros

import java.nio.charset.StandardCharsets.UTF_8

/** Driver-side harvest of message-type DEFINITIONS from any container
  * path — the unified feed for the sinks' `schema_defs_from` /
  * `conn_defs_from` channels. Every container format already carries
  * its types' definitions (mcap Schema records, rosbag2 `.db3`
  * `message_definitions` rows, rosbag1 connection records); this
  * reads them through the same cached metadata scans the planners use
  * (McapIO.scanIndex / Db3IO.scanMeta / RosbagIO.scanIndexes — bounded
  * parallel pools, (mtime, length)-versioned caches), so a
  * 10k-file fleet path costs one metadata sweep, amortized with the
  * read side's own planning.
  *
  * Dialects: `encoding` is the SCHEMA encoding — "ros1msg" (rosbag1
  * connections), "ros2msg"/"ros2idl" (rosbag2 + mcap ros2 profile),
  * "protobuf" (mcap). What a TARGET can represent differs: an mcap
  * Schema record carries any of them verbatim; a `.db3`
  * message_definitions table is ros2msg/ros2idl by definition; a
  * `.bag` connection record is ros1msg (with an md5sum only rosbag1
  * sources know). The sinks' mappers enforce those rules — this
  * object only collects.
  */
object DefsHarvest {
  /** One harvested definition. `md5sum` is the rosbag1 connection
    * checksum where the source knows it ("*" = unknown elsewhere —
    * the value rosbag tooling itself uses for unknown types).
    */
  final case class TypeDef(name: String, encoding: String,
      data: Array[Byte], md5sum: String)

  /** The sinks' `defs_priority` option: "file" = the row's own source
    * file outranks the defs channel (Convert's auto-wiring, per-file
    * truth for divergent fleets); "channel" (default) = an explicitly
    * pinned defs source is definitive, files only cover types the
    * channel lacks.
    */
  def fileFirst(defsPriority: Option[String]): Boolean =
    defsPriority.getOrElse("channel") match {
      case "file" => true
      case "channel" => false
      case other => throw new IllegalArgumentException(
        s"defs_priority must be file | channel, got '$other'")
    }

  /** ros2-dialect schema encodings — what a db3 message_definitions
    * table (and a cdr payload's typed decode) can carry.
    */
  def isRos2(encoding: String): Boolean =
    encoding == "ros2msg" || encoding == "ros2idl"

  /** Collect every definition under `path` (a file, directory, glob
    * or newline-separated spec holding any mix of `.bag` / `.mcap` /
    * `.db3(.zstd)`). Unnamed or empty definitions are skipped (an
    * export written without defs carries empty Schema bytes — nothing
    * to harvest). Order is deterministic: container kind
    * alphabetically, files sorted within, record order within a file.
    */
  def fromPath(path: String): Seq[TypeDef] =
    MixedRead.resolve(path).toSeq.sortBy(_._1).flatMap {
      case ("mcap", files) =>
        DriverPool.parMap(files)(f =>
          mcap.McapIO.scanIndex(f).schemas.toSeq.sortBy(_._1).map(_._2))
          .flatten.map(s => TypeDef(s.name, s.encoding, s.data, "*"))
      case ("db3", files) =>
        db3.Db3IO.scanMetas(files).flatMap(_._2.definitions).map {
          case (tp, enc, text) => TypeDef(tp, enc, text.getBytes(UTF_8), "*")
        }
      case ("rosbag", files) =>
        bag.RosbagIO.scanIndexes(files).flatMap(_._2.connections)
          .map(c => TypeDef(c.datatype, "ros1msg", c.msgDef.getBytes(UTF_8),
            c.md5sum))
      case _ => Seq.empty
    }.filter(d => d.name.nonEmpty && d.data.nonEmpty)

  /** One definition per type name. With `preferKnownMd5` (the BAG
    * sink's mode, used AFTER filtering to ros1msg), an entry with a
    * genuine md5sum displaces a "*" one — a bag connection's checksum
    * must not be shadowed by the same type harvested from an mcap
    * Schema record, which never carries one. Without it (the mcap
    * sink, which dedupes ACROSS dialects because every dialect is
    * representable there), plain first-wins under [[fromPath]]'s
    * deterministic ordering — the md5 preference would otherwise let
    * a bag's ros1msg definition displace a same-named ros2 one and
    * mislabel a cdr channel's schema. Single-dialect callers should
    * still filter to their target dialect FIRST.
    */
  def dedupe(defs: Seq[TypeDef],
      preferKnownMd5: Boolean = true): Seq[TypeDef] = {
    val chosen = scala.collection.mutable.LinkedHashMap[String, TypeDef]()
    defs.foreach { d =>
      chosen.get(d.name) match {
        case None => chosen(d.name) = d
        case Some(prev)
          if preferKnownMd5 && prev.md5sum == "*" && d.md5sum != "*" =>
          chosen(d.name) = d
        case _ => ()
      }
    }
    chosen.values.toSeq
  }

  /** Serialize definitions for the sinks' `schema_defs_inline` option
    * — the channel [[graft.ros.Transcode]] uses to hand TRANSLATED
    * definitions (which exist in no source container) to a sink.
    * One line per definition: `name \t encoding \t md5 \t base64(data)`
    * (type names and encodings never carry tabs/newlines).
    */
  def encodeInline(defs: Seq[TypeDef]): String =
    defs.map(d => s"${d.name}\t${d.encoding}\t${d.md5sum}\t" +
      java.util.Base64.getEncoder.encodeToString(d.data)).mkString("\n")

  /** Inverse of [[encodeInline]]; blank lines tolerated (option-merge
    * concatenation).
    */
  def decodeInline(s: String): Seq[TypeDef] =
    s.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(name, enc, md5, b64) =>
          TypeDef(name, enc, java.util.Base64.getDecoder.decode(b64), md5)
        case _ => throw new IllegalArgumentException(
          s"malformed schema_defs_inline line: '${line.take(80)}'")
      }
    }

  /** The wire (MESSAGE) encodings present under `path`, from metadata
    * alone: "ros1" for every rosbag1 file, mcap channel
    * message_encodings, db3 topic serialization_formats. Drives e.g.
    * the mcap sink's profile conformance choice.
    */
  def messageEncodings(path: String): Set[String] =
    MixedRead.resolve(path).toSeq.flatMap {
      case ("mcap", files) =>
        DriverPool.parMap(files)(f =>
          mcap.McapIO.scanIndex(f).channels.values.map(_.messageEncoding).toSeq)
          .flatten
      case ("db3", files) =>
        db3.Db3IO.scanMetas(files).flatMap(_._2.topics.values.map(_._3))
      case ("rosbag", _) => Seq("ros1")
      case _ => Seq.empty
    }.toSet
}
