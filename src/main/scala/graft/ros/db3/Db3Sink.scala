package graft.ros.db3

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** rosbag2 `.db3` export sink — the write half of the `db3`
  * DataSource: `df.write.format("db3").mode("append").save(dir)`, the
  * `ros2 bag convert` re-emit toward the sqlite container, written by
  * the engine's own b-tree writer (`SqliteFormat.writeDb`, the one
  * cross-validated against genuine sqlite3 `PRAGMA integrity_check`).
  *
  * A sqlite file is a page TREE — it cannot stream record-by-record
  * the way bag/mcap chunks can — so the task ROLLS files instead:
  * rows buffer up to `rows_per_file` (default 100k) or `file_bytes`
  * (default 64 MiB of payload), then one `part-<p>-<t>-<job>-<n>.db3`
  * is built and uploaded. Task memory is O(one rolled file's rows),
  * set by the options, independent of partition size — the same split
  * behavior rosbag2's own recorder uses (`--max-bag-size`). The file
  * protocol is [[graft.ros.ContainerSink]]'s; on top of it every job
  * and epoch commit merges `metadata.yaml` ([[Db3BagMetadata]]), and a
  * streaming abort keeps an epoch that metadata already counts.
  *
  * Column contract (spine names): `topic`, `type`,
  * `serialization_format`, `timestamp`, `data` drive the output;
  * `file_path`/`msg_id`/`topic_id`/`size` are read-derived and
  * ignored (rowids and topic ids are re-assigned per file).
  * `schema_defs_from` harvests a `message_definitions` table
  * (topic_type, encoding, text) from an existing db3 path so typed
  * readers can decode the export; [[Db3Export.prepare]] conforms
  * arbitrary frames.
  */
final class Db3Sink private (topic: Int, tpe: Int, fmt: Int, timestamp: Int,
    data: Int, filePath: Int, rowsPerFile: Int, fileBytes: Long,
    defs: Map[String, (String, String)], private val compression: String)
    extends graft.ros.ContainerSink.Format {
  override def suffixes: Seq[String] = Seq(".db3", ".db3.zstd")

  override def commitHook(fs: FileSystem, dir: String, stats: Seq[AnyRef],
      truncate: Boolean, epoch: Option[(String, Long)]): Unit =
    Db3BagMetadata.mergeMetadata(fs, dir,
      stats.collect { case t: Db3BagMetadata.TaskStats => t }, truncate, epoch,
      compression)

  // a replay of an already-MERGED epoch re-commits the same names over
  // identical bytes; aborting such a replay must not delete them
  override def epochCommitted(fs: FileSystem, dir: String, qid: String,
      epoch: Long): Boolean =
    Db3BagMetadata.ledger(fs, dir).get(qid).exists(_ >= epoch)

  /** One task's rolled files: `<stem>-<n>.db3`. */
  override def encoder(out: graft.ros.ContainerSink.TaskFiles)
      : graft.ros.ContainerSink.Encoder = new graft.ros.ContainerSink.Encoder {
    // current batch: (topic, type, fmt, timestamp, data); flushed to one
    // rolled .db3 when either budget trips
    private val batch =
      scala.collection.mutable.ArrayBuffer[(String, String, String, Long, Array[Byte])]()
    private var batchBytes = 0L
    private var fileSeq = 0
    // metadata.yaml inputs, carried on the commit message: per-topic
    // counts (tiny dimension) + the task's time range.
    // typeSrc keeps a SMALL SET of source files per type (not just the
    // first): a mixed stream can route a type's first row through a file
    // that does NOT define it (the definition lives in a sibling
    // container of the same type) — the flush-time lookup tries each
    // observed file until one resolves
    private val typeSrc =
      scala.collection.mutable.HashMap[String, scala.collection.mutable.LinkedHashSet[String]]()
    private val TypeSrcMax = 8
    // divergence diagnostic: type -> source files that define it with
    // SEVERAL distinct layouts (per-row attribution impossible, so the
    // defs table honestly omits the row) — surfaced via _divergent.json
    // at commit so a reader of undecodable rows has a pointer
    private val divergentSrc =
      scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    private val topicStats =
      scala.collection.mutable.LinkedHashMap[(String, String, String), Long]()
    private var tsMin = Long.MaxValue
    private var tsMax = Long.MinValue
    override def write(row: InternalRow): Unit = {
      val payload = row.getBinary(data)
      val key = (row.getUTF8String(topic).toString,
        if (row.isNullAt(tpe)) "" else row.getUTF8String(tpe).toString,
        if (row.isNullAt(fmt)) "cdr" else row.getUTF8String(fmt).toString)
      // remember up to TypeSrcMax source files per type for the
      // late-binding defs lookup at flush (a type missing from the
      // plan-time channel — first landed mid-stream — still exports with
      // its definition, even when the first row's file doesn't carry it)
      if (key._2.nonEmpty && !defs.contains(key._2) && filePath >= 0 &&
          !row.isNullAt(filePath)) {
        val f = row.getUTF8String(filePath).toString
        if (f.nonEmpty) {
          val set = typeSrc.getOrElseUpdate(key._2,
            scala.collection.mutable.LinkedHashSet[String]())
          if (set.size < TypeSrcMax) { set += f; () }
        }
      }
      val ts = row.getLong(timestamp)
      batch += ((key._1, key._2, key._3, ts, payload))
      batchBytes += payload.length
      topicStats(key) = topicStats.getOrElse(key, 0L) + 1L
      if (ts < tsMin) tsMin = ts
      if (ts > tsMax) tsMax = ts
      if (batch.size >= rowsPerFile || batchBytes >= fileBytes) flushFile()
    }

    private def flushFile(): Unit = {
      if (batch.isEmpty) return
      // topic ids 1..n in order of appearance within this file
      val topicIds = scala.collection.mutable.LinkedHashMap[(String, String, String), Long]()
      batch.foreach { case (t, tp, f, _, _) =>
        topicIds.getOrElseUpdate((t, tp, f), topicIds.size + 1L); ()
      }
      val topicRows = topicIds.keys.map { case (t, tp, f) =>
        Seq[Any](null, t, tp, f, "")
      }.toSeq
      val msgRows = batch.map { case (t, tp, f, ts, d) =>
        // message mode: each payload its own zstd frame (rosbag2
        // --compression-mode message); the reader sniffs per-message
        val payload =
          if (compression == "zstd_message") com.github.luben.zstd.Zstd.compress(d)
          else d
        Seq[Any](null, topicIds((t, tp, f)), ts, payload)
      }.toSeq
      val defRows = topicIds.keys.map(_._2).toSeq.distinct
        .flatMap { tp =>
          val files = typeSrc.getOrElse(tp, Nil)
          val resolved = defs.get(tp).orElse(files.iterator
            .map(graft.ros.SourceDefs.ros2DefFor(_, tp))
            .collectFirst { case Some(v) => v })
          if (resolved.isEmpty) {
            // unresolvable: if any observed file defines the type
            // DIVERGENTLY, record it for the _divergent.json diagnostic
            // (the defs row is honestly omitted either way)
            val div = files.iterator
              .filter(graft.ros.SourceDefs.ros2DefDivergent(_, tp)).toSeq
            if (div.nonEmpty)
              divergentSrc(tp) = (divergentSrc.getOrElse(tp, Seq.empty) ++ div).distinct
          }
          resolved.map { case (enc, text) => Seq[Any](null, tp, enc, text, "") }
        }
      val tables = Seq(
        ("topics",
          "CREATE TABLE topics(id INTEGER PRIMARY KEY, name TEXT, type TEXT, serialization_format TEXT, offered_qos_profiles TEXT)",
          topicRows),
        ("messages",
          "CREATE TABLE messages(id INTEGER PRIMARY KEY, topic_id INTEGER, timestamp INTEGER, data BLOB)",
          msgRows)) ++
        (if (defRows.nonEmpty) Seq(("message_definitions",
          "CREATE TABLE message_definitions(id INTEGER PRIMARY KEY, topic_type TEXT, encoding TEXT, encoded_message_definition TEXT, type_hash TEXT)",
          defRows)) else Seq.empty)
      val raw = SqliteFormat.writeDb(tables)
      // file mode: the whole database as one zstd frame, rosbag2's
      // <name>.db3.zstd convention — the read side inflates it once per
      // plan and pages the inflation
      val (bytes, ext) =
        if (compression == "zstd_file")
          (com.github.luben.zstd.Zstd.compress(raw), ".db3.zstd")
        else (raw, ".db3")
      val file = out.create(f"-$fileSeq%04d", ext)
      try file.write(bytes) finally file.close()
      fileSeq += 1
      batch.clear()
      batchBytes = 0L
    }

    override def finish(): AnyRef = {
      flushFile()
      Db3BagMetadata.TaskStats(
        Db3BagMetadata.Stats(topicStats.toMap, tsMin, tsMax), divergentSrc.toSeq)
    }
  }
}

object Db3Sink {
  def apply(w: graft.ros.ContainerSink.Request): Db3Sink = {
    val sink = new Db3Sink(
      topic = w.need("topic", StringType),
      tpe = w.need("type", StringType, nullable = true),
      fmt = w.need("serialization_format", StringType, nullable = true),
      timestamp = w.need("timestamp", LongType),
      data = w.need("data", BinaryType),
      // OPTIONAL source-file column: feeds the late-binding defs
      // lookup (SourceDefs.ros2DefFor)
      filePath = w.opt("file_path", StringType),
      rowsPerFile = w.option("rows_per_file").map(_.toInt).getOrElse(100000),
      fileBytes = w.option("file_bytes").map(_.toLong).getOrElse(64L * 1024 * 1024),
      // inline entries (graft.ros.Transcode's translations — ros2msg by
      // construction) win over the path harvest: they exist in no
      // source container
      defs = w.option("schema_defs_from")
        .map(harvestDefs(_, w.option("foreign_defs").getOrElse("error")))
        .getOrElse(Map.empty) ++
        w.option("schema_defs_inline").toSeq
          .flatMap(graft.ros.DefsHarvest.decodeInline)
          .filter(d => graft.ros.DefsHarvest.isRos2(d.encoding))
          .map(d => d.name -> (d.encoding,
            new String(d.data, java.nio.charset.StandardCharsets.UTF_8))),
      compression = compressionOf(w.option("compression_format"),
        w.option("compression_mode")))
    // the append-mismatch guard, before any task runs
    Db3BagMetadata.preflightCompression(
      new Path(w.dir).getFileSystem(Db3IO.hadoopConf()), w.dir, w.truncate,
      sink.compression)
    sink
  }

  /** rosbag2's own compression axes (--compression-format zstd,
    * --compression-mode file|message); the read side already inflates
    * both modes transparently.
    */
  private def compressionOf(format: Option[String], mode: Option[String]): String =
    (format.getOrElse("none"), mode) match {
      case ("none", Some(m)) => throw new IllegalArgumentException(
        s"db3 write: compression_mode '$m' without compression_format " +
          "(rosbag2 rejects mode-without-format too; the write would " +
          "silently be uncompressed)")
      case ("none", None) => "none"
      case ("zstd", None | Some("file")) => "zstd_file"
      case ("zstd", Some("message")) => "zstd_message"
      case (f0, m0) => throw new IllegalArgumentException(
        s"db3 write: unsupported compression_format '$f0' / compression_mode " +
          s"'${m0.getOrElse("")}' (supported: none; zstd with file|message)")
    }

  /** topic_type -> (encoding, definition text) harvested from ANY
    * container path (db3 message_definitions rows verbatim; mcap
    * Schema records of ros2msg/ros2idl encoding), driver-side on the
    * bounded pool. A rosbag2 message_definitions table is
    * ros2-dialect BY DEFINITION — a harvested ros1msg/protobuf
    * definition is a genuine cross-dialect type translation this
    * engine does not guess at: `foreign` = "error" (the default for
    * an explicitly named path) fails loudly; "skip" (what
    * [[graft.ros.Convert]]'s best-effort auto-wire passes) carries
    * the ros2 subset and drops the rest.
    */
  private def harvestDefs(path: String,
      foreign: String = "error"): Map[String, (String, String)] = {
    // dialect filter BEFORE dedupe: a same-named foreign definition
    // must not shadow the representable ros2 one
    val (ok0, bad) = graft.ros.DefsHarvest.fromPath(path)
      .partition(d => graft.ros.DefsHarvest.isRos2(d.encoding))
    val ok = graft.ros.DefsHarvest.dedupe(ok0)
    if (bad.nonEmpty && foreign != "skip") throw new IllegalArgumentException(
      "db3 write: schema_defs_from harvested non-ros2 definitions (" +
        bad.map(d => s"${d.name}: ${d.encoding}").distinct.take(5).mkString(", ") +
        ") — a rosbag2 message_definitions table carries ros2msg/ros2idl " +
        "only, and translating ros1msg/protobuf definitions is a " +
        "cross-dialect type translation; set foreign_defs=skip to carry " +
        "the ros2 subset")
    ok.map(d => d.name ->
      (d.encoding, new String(d.data, java.nio.charset.StandardCharsets.UTF_8)))
      .toMap
  }
}

/** The bag-directory `metadata.yaml` rosbag2 tooling locates storage
  * files through — without it `ros2 bag info` / `ros2 bag play
  * <exportDir>` cannot consume the export at all. Written on JOB (and
  * epoch) commit from the tasks' [[TaskStats]] (per-topic counts, time
  * range — no file re-scan); an append job merges with the previous
  * graft-written metadata.yaml so successive appends stay accurate
  * (overwrite resets). Foreign `.db3` files placed in the directory
  * outside this sink are not reflected.
  */
private[ros] object Db3BagMetadata {
  private val logger = org.slf4j.LoggerFactory.getLogger(Db3BagMetadata.getClass)

  final case class Stats(counts: Map[(String, String, String), Long],
      minTs: Long, maxTs: Long)
  val Empty: Stats = Stats(Map.empty, Long.MaxValue, Long.MinValue)

  /** One task's contribution: its stats and the types it found defined
    * divergently (type -> source files).
    */
  final case class TaskStats(stats: Stats,
      divergent: Seq[(String, Seq[String])] = Seq.empty)

  def merge(a: Stats, b: Stats): Stats = Stats(
    (a.counts.keySet ++ b.counts.keySet).map { k =>
      k -> (a.counts.getOrElse(k, 0L) + b.counts.getOrElse(k, 0L))
    }.toMap,
    math.min(a.minTs, b.minTs), math.max(a.maxTs, b.maxTs))

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def unescape(s: String): String = {
    val sb = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { sb += s.charAt(i + 1); i += 2 }
      else { sb += c; i += 1 }
    }
    sb.result()
  }

  /** Internal compression mode -> metadata.yaml's (format, MODE) enum
    * pair — one mapping for the renderer AND the append-mismatch guard.
    */
  def yamlComp(compression: String): (String, String) = compression match {
    case "zstd_file" => ("zstd", "FILE")
    case "zstd_message" => ("zstd", "MESSAGE")
    case _ => ("", "")
  }

  def render(relPaths: Seq[String], st: Stats,
      ledger: Map[String, Long] = Map.empty,
      compression: String = "none"): String = {
    val (cfmt, cmode) = yamlComp(compression)
    val total = st.counts.valuesIterator.sum
    val start = if (total == 0L) 0L else st.minTs
    val dur = if (total == 0L) 0L else st.maxTs - st.minTs
    val sb = new StringBuilder
    sb ++= "rosbag2_bagfile_information:\n"
    sb ++= "  version: 4\n"
    sb ++= "  storage_identifier: sqlite3\n"
    if (relPaths.isEmpty) sb ++= "  relative_file_paths: []\n"
    else {
      sb ++= "  relative_file_paths:\n"
      relPaths.sorted.foreach(p => sb ++= s"    - ${q(p)}\n")
    }
    sb ++= "  duration:\n"
    sb ++= s"    nanoseconds: $dur\n"
    sb ++= "  starting_time:\n"
    sb ++= s"    nanoseconds_since_epoch: $start\n"
    sb ++= s"  message_count: $total\n"
    if (st.counts.isEmpty) sb ++= "  topics_with_message_count: []\n"
    else {
      sb ++= "  topics_with_message_count:\n"
      st.counts.toSeq.sortBy(_._1).foreach { case ((t, tp, f), n) =>
        sb ++= "    - topic_metadata:\n"
        sb ++= s"        name: ${q(t)}\n"
        sb ++= s"        type: ${q(tp)}\n"
        sb ++= s"        serialization_format: ${q(f)}\n"
        sb ++= "        offered_qos_profiles: \"\"\n"
        sb ++= s"      message_count: $n\n"
      }
    }
    sb ++= s"  compression_format: ${q(cfmt)}\n"
    sb ++= s"  compression_mode: ${q(cmode)}\n"
    // streaming-sink ledger: per QUERY id, the max epoch whose stats
    // are already merged — a YAML comment, invisible to rosbag2's
    // parser, so a replayed epoch (sink committed, checkpoint
    // commit-log write crashed) cannot double-count. Epoch ids are
    // monotone per query, so the max is sufficient AND the ledger
    // stays O(#queries), not O(#epochs). Kept in THIS file so ledger
    // and stats publish together.
    if (ledger.nonEmpty)
      sb ++= s"# graft_epochs: ${ledger.toSeq.sorted
        .map { case (q, e) => s"$q:$e" }.mkString(",")}\n"
    sb.result()
  }

  /** Parse OUR OWN emission (append-merge only — a hand-edited or
    * foreign metadata.yaml fails loudly; delete it to reset).
    */
  def parse(text: String): (Seq[String], Stats) = {
    val (p, s, _) = parseWithEpochs(text); (p, s)
  }

  /** The (compression_format, compression_mode) a previous emission
    * recorded — the append-mismatch guard's input.
    */
  def compressionOf(text: String): (String, String) = {
    def field(prefix: String): String =
      text.linesIterator.find(_.startsWith(prefix))
        .map(l => l.stripPrefix(prefix).trim.stripPrefix("\"").stripSuffix("\""))
        .getOrElse("")
    (field("  compression_format:"), field("  compression_mode:"))
  }

  def parseWithEpochs(text: String): (Seq[String], Stats, Map[String, Long]) = {
    val Quoted = """"(.*)"""".r
    def unq(raw: String): String = raw.trim match {
      case Quoted(inner) => unescape(inner)
      case other => throw new IllegalArgumentException(
        s"metadata.yaml merge: expected a quoted string, got '$other' " +
          "(hand-edited? delete metadata.yaml to reset)")
    }
    val lines = text.linesIterator.toVector
    val paths = lines.filter(_.startsWith("    - \""))
      .map(l => unq(l.stripPrefix("    - ")))
    def long(prefix: String): Long = lines.find(_.startsWith(prefix)) match {
      case Some(l) => l.stripPrefix(prefix).trim.toLong
      case None => throw new IllegalArgumentException(
        s"metadata.yaml merge: missing '$prefix' (delete metadata.yaml to reset)")
    }
    val total = long("  message_count:")
    val start = long("    nanoseconds_since_epoch:")
    val dur = long("    nanoseconds:")
    val counts = scala.collection.mutable.ArrayBuffer[((String, String, String), Long)]()
    var i = 0
    while (i < lines.length) {
      if (lines(i).startsWith("    - topic_metadata:")) {
        require(i + 5 < lines.length &&
          lines(i + 1).startsWith("        name:") &&
          lines(i + 2).startsWith("        type:") &&
          lines(i + 3).startsWith("        serialization_format:") &&
          lines(i + 5).startsWith("      message_count:"),
          "metadata.yaml merge: unexpected topic block shape " +
            "(hand-edited? delete metadata.yaml to reset)")
        counts += (((unq(lines(i + 1).stripPrefix("        name:")),
          unq(lines(i + 2).stripPrefix("        type:")),
          unq(lines(i + 3).stripPrefix("        serialization_format:"))),
          lines(i + 5).stripPrefix("      message_count:").trim.toLong))
        i += 6
      } else i += 1
    }
    val st =
      if (total == 0L) Empty
      else Stats(counts.toMap, start, start + dur)
    val ledger = lines.find(_.startsWith("# graft_epochs:"))
      .map(_.stripPrefix("# graft_epochs:").trim.split(",").toSeq
        .filter(_.nonEmpty).map { tok =>
          val i = tok.lastIndexOf(':')
          tok.take(i) -> tok.drop(i + 1).toLong
        }.toMap)
      .getOrElse(Map.empty[String, Long])
    (paths, st, ledger)
  }

  /** Surface DIVERGENT definitions loudly: a db3 message_definitions
    * table holds one row per type, so a type whose source files define
    * it with several distinct layouts lands honest-EMPTY — correct,
    * but a user reading the export then hits undecodable rows with no
    * pointer. `_divergent.json` in the bag dir names each such type
    * and the source files carrying the divergence (underscore-prefixed:
    * invisible to rosbag2 tooling and to data-file counts), and the
    * commit logs a warning. Append merges with the previous sidecar;
    * truncate resets it. No divergence anywhere = no sidecar (a stale
    * one from a replaced generation is deleted on truncate).
    */
  private[db3] def writeDivergent(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, fresh: Seq[(String, Seq[String])], truncate: Boolean): Unit = {
    val p = new Path(dir, "_divergent.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val prev: Map[String, Seq[String]] =
      if (truncate || !fs.exists(p)) Map.empty
      else try {
        val node = mapper.readTree(readText(fs, p))
        val it = node.properties().iterator()
        val b = Map.newBuilder[String, Seq[String]]
        while (it.hasNext) {
          val e = it.next()
          val files = (0 until e.getValue.size()).map(e.getValue.get(_).asText())
          b += e.getKey -> files
        }
        b.result()
      } catch { case _: Exception => Map.empty }
    val merged = (prev.keySet ++ fresh.map(_._1)).toSeq.sorted.map { tp =>
      tp -> (prev.getOrElse(tp, Seq.empty) ++
        fresh.collect { case (`tp`, fls) => fls }.flatten).distinct.sorted
    }.filter(_._2.nonEmpty)
    if (merged.isEmpty) {
      if (truncate && fs.exists(p)) { fs.delete(p, false); () }
      return
    }
    val root = mapper.createObjectNode()
    merged.foreach { case (tp, fls) =>
      val arr = root.putArray(tp)
      fls.foreach(arr.add)
    }
    val tmp = new Path(dir, "._divergent.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"db3 write: _divergent.json publish failed in $dir")
    logger.warn(s"db3 write: ${merged.size} type(s) carry DIVERGENT " +
      "definitions across their source files — their message_definitions " +
      s"rows are omitted (undecodable without the original sources); see " +
      s"$dir/_divergent.json (" +
      merged.take(5).map(_._1).mkString(", ") + ")")
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The directory's committed metadata: `metadata.yaml`, or its
    * `.next` sidecar when a crash landed between "delete metadata.yaml"
    * and "rename .next into place" (`.next` IS the complete committed
    * state then).
    */
  private def committedText(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[String] =
    Seq(new Path(dir, "metadata.yaml"), new Path(dir, ".metadata.yaml.next"))
      .find(fs.exists).map(readText(fs, _))

  /** The streaming epoch ledger: per query, the max merged epoch. */
  private[db3] def ledger(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Map[String, Long] =
    committedText(fs, dir)
      .flatMap(t => scala.util.Try(parseWithEpochs(t)._3).toOption)
      .getOrElse(Map.empty)

  /** The compression options a COMPACT rewrite must inherit from the
    * archive's own metadata.yaml — a zstd archive must not silently
    * decompress just because the caller didn't repeat the setting. A
    * caller-passed compression_format still wins.
    */
  private[ros] def compactCompressionOptions(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      user: Map[String, String]): Map[String, String] = {
    if (user.keys.exists(_.equalsIgnoreCase("compression_format")))
      return Map.empty
    val metaPath = new Path(dir, "metadata.yaml")
    if (!fs.exists(metaPath)) return Map.empty
    compressionOf(readText(fs, metaPath)) match {
      case ("zstd", "FILE") =>
        Map("compression_format" -> "zstd", "compression_mode" -> "file")
      case ("zstd", "MESSAGE") =>
        Map("compression_format" -> "zstd", "compression_mode" -> "message")
      case _ => Map.empty
    }
  }

  /** Rewrite the STAGED metadata.yaml for a compact promotion: the
    * stats and compression come from the stage write's own emission,
    * the relative paths take the FINAL (post-rename) compacted names,
    * and the streaming epoch LEDGER carries over from the live
    * metadata.yaml — a stream restarting after the compact must keep
    * its replay protection. Written back into the stage dir, where the
    * compact journal promotes it with the data files.
    */
  private[ros] def regenCompactMetadata(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, stageDir: String, finalNames: Seq[String]): Unit = {
    val stagedPath = new Path(stageDir, "metadata.yaml")
    require(fs.exists(stagedPath),
      s"compact: the db3 stage write left no metadata.yaml under $stageDir")
    val stagedText = readText(fs, stagedPath)
    val (_, stats, _) = parseWithEpochs(stagedText)
    val compression = compressionOf(stagedText) match {
      case ("zstd", "FILE") => "zstd_file"
      case ("zstd", "MESSAGE") => "zstd_message"
      case _ => "none"
    }
    val yaml = render(finalNames, stats, ledger(fs, dir), compression)
    val out = fs.create(stagedPath, true)
    try out.write(yaml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The append-mismatch guard (a rosbag2 bag dir records ONE
    * format/mode pair for every listed file). Called EARLY — at write
    * construction on the driver, before any task runs — and again at
    * commit (cheap, covers a racing writer).
    */
  private[db3] def requireCompatibleCompression(prevYaml: String,
      compression: String, prevHasFiles: Boolean): Unit = {
    val jobComp = yamlComp(compression)
    val prevComp = compressionOf(prevYaml)
    require(!prevHasFiles || prevComp == jobComp,
      s"db3 write: directory already holds a generation with " +
        s"compression_format='${prevComp._1}' mode='${prevComp._2}', this " +
        s"job writes '${jobComp._1}'/'${jobComp._2}' — a rosbag2 bag dir " +
        "has one compression; use mode('overwrite') or a new directory")
  }

  /** Driver-side pre-flight for the guard above: fail BEFORE tasks
    * launch, not after a multi-GB write lands and has to be aborted.
    */
  private[db3] def preflightCompression(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, truncate: Boolean, compression: String): Unit = {
    if (!truncate) committedText(fs, dir).foreach { text =>
      val hasFiles = scala.util.Try(parse(text)._1.nonEmpty).getOrElse(false)
      requireCompatibleCompression(text, compression, hasFiles)
    }
  }

  /** metadata.yaml — the handle rosbag2 tooling opens the directory
    * through; stats come from the tasks' [[TaskStats]] (no file
    * re-scan), merged with the previous graft-written metadata on
    * append (`truncate` resets); `relative_file_paths` is re-derived
    * from the ACTUAL directory listing every commit (self-healing
    * against replaced replay files). `epoch` (streaming): a
    * (queryId, epochId) at or below the ledger's max for that query is
    * a replay of a committed epoch — its stats are already counted,
    * skip the merge. The yaml publishes via a `.next` sidecar +
    * delete/rename, so a crash mid-rewrite never leaves a truncated
    * file ([[committedText]] recovers from `.next` when the rename
    * itself was the casualty). Concurrency contract: one metadata-writing JOB
    * per directory at a time (data files tolerate concurrent jobs via
    * unique names; the yaml read-modify-write does not).
    */
  private[db3] def mergeMetadata(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, tasks: Seq[TaskStats], truncate: Boolean,
      epoch: Option[(String, Long)], compression: String = "none"): Unit = {
    val metaPath = new Path(dir, "metadata.yaml")
    val nextPath = new Path(dir, ".metadata.yaml.next")
    val prevText = if (truncate) None else committedText(fs, dir)
    val (prevPaths, prevStats, prevLedger) =
      prevText.map(parseWithEpochs).getOrElse(
        (Seq.empty[String], Empty, Map.empty[String, Long]))
    // a rosbag2 bag dir has ONE compression (metadata v4 records a
    // single format/mode pair for every listed file) — an append with
    // a different setting would mislabel one generation or the other
    // for ros2 tooling; refuse loudly
    prevText.foreach(t =>
      requireCompatibleCompression(t, compression, prevPaths.nonEmpty))
    // divergence diagnostic BEFORE the epoch-ledger skip (a replayed
    // epoch's sidecar merge is idempotent, and the pointer must not be
    // lost to a crashed checkpoint commit)
    writeDivergent(fs, dir, tasks.flatMap(_.divergent), truncate)
    if (epoch.exists { case (q, e) => prevLedger.get(q).exists(_ >= e) }) return
    val jobStats = tasks.map(_.stats).foldLeft(Empty)(merge)
    val dirPaths = fs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && Db3IO.isDb3(s.getPath.getName))
      .map(_.getPath.getName)
    val ledger = epoch.fold(prevLedger) { case (q, e) => prevLedger + (q -> e) }
    val yaml = render(dirPaths, merge(prevStats, jobStats), ledger, compression)
    val out = fs.create(nextPath, true)
    try out.write(yaml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(metaPath)) fs.delete(metaPath, false)
    require(fs.rename(nextPath, metaPath),
      s"db3 write: metadata.yaml publish failed in $dir")
  }
}

/** Conform an arbitrary frame to the db3 write spine: `topic`,
  * nanosecond `timestampNs` and `data` are required; `type` defaults
  * empty and `serialization_format` to "cdr"; read-derived spine
  * columns are filled with placeholders the writer ignores.
  */
object Db3Export {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  def prepare(df: DataFrame, topic: Column, timestampNs: Column, data: Column,
      tpe: Column = lit(""), serializationFormat: Column = lit("cdr"),
      sourcePath: Column = null): DataFrame =
    df.select(
      coalesce(Option(sourcePath).map(_.cast("string")).getOrElse(lit("")),
        lit("")).as("file_path"),
      lit(0L).as("msg_id"),
      lit(0L).as("topic_id"),
      coalesce(topic.cast("string"), lit("")).as("topic"),
      coalesce(tpe.cast("string"), lit("")).as("type"),
      coalesce(serializationFormat.cast("string"), lit("cdr"))
        .as("serialization_format"),
      coalesce(timestampNs.cast("long"), lit(0L)).as("timestamp"),
      coalesce(length(data).cast("int"), lit(0)).as("size"),
      coalesce(data.cast("binary"), lit(Array.emptyByteArray)).as("data"))
}
