package graft.ros.db3

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `db3` batch source: rosbag2's sqlite3 storage — the
  * ROS 2 default before MCAP, still what most recorded Foxy/Galactic/
  * Humble fleets sit on. Same engine role as the `rosbag`/`mcap`
  * sources (reference rosbag2parquet.cpp:41-63's scan loop, over the
  * third container), built on [[SqliteFormat]]'s pure-bytes walker —
  * no sqlite library, no JDBC.
  *
  * Storage schema (rosbag2_storage_default_plugins, public):
  * `topics(id, name, type, serialization_format, ...)`,
  * `messages(id, topic_id, timestamp, data)`, and — Humble onward —
  * `message_definitions(topic_type, encoding,
  * encoded_message_definition, ...)`, which makes self-contained typed
  * reads possible with the SAME ros2msg → flatSchema → CDR decode
  * stack as the MCAP source.
  *
  * Parallelism grain: one InputPartition per (file, messages-b-tree
  * subtree) — the root's children split a single large .db3 into
  * independent rowid ranges ([[SqliteFormat.rootChildren]]), and
  * rosbag2's own file-splitting provides the coarser grain. A live
  * `-wal` sidecar means the main file is stale; refused loudly.
  *
  * Typed reads: `option("schema_name", "pkg/msg/Type")` resolves the
  * definition from message_definitions (md5-drift contract of the
  * rosbag/mcap typed reads; `option("schema_md5", prefix)` selects a
  * variant; ros2msg and ros2idl encodings both resolve). Pre-Humble
  * bags carry no definitions table — pass
  * `option("schema_text", <ros2msg definition>)` explicitly.
  *
  * Pushed filters prune files via exact `file_path` URIs and the
  * topics catalog; timestamp ranges additionally prune whole b-tree
  * subtrees via per-subtree edge probes, assuming rosbag2's
  * single-writer receive-time order (boundary-checked per file; for
  * foreign/merged files set `option("timestamp_pruning", "false")`).
  *
  * Compressed recordings (rosbag2 --compression zstd): file mode
  * (`<name>.db3.zstd`, the whole database in one frame) inflates once
  * per JVM to executor-local scratch; message mode (each payload a
  * zstd frame) inflates transparently at read, keyed on the frame
  * magic (unambiguous against CDR's 0x00 first byte).
  *
  * No LIVE-file tailing BY DESIGN: a live sqlite writer's pages are
  * only consistent through its WAL + shared-memory index, which cannot
  * be tailed from outside the writing process — stream live robots via
  * the mcap source's growing-file support; db3 is the at-rest format.
  * `readStream` over a db3 path IS supported at FILE granularity
  * ([[Db3Read.stream]]): each trigger discovers newly LANDED
  * complete files (fleet uploads into a prefix) and reads each exactly
  * once; files still being written (live sidecar, truncated header
  * range) are deferred to a later trigger, never refused.
  */
class Db3DataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "db3"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("schema_name")) match {
      case Some(sn) =>
        val t = Db3TypedRead.resolveTarget(graft.ros.ContainerSource.pathSpec(options), sn,
          Option(options.get("schema_md5")), Option(options.get("schema_text")))
        Db3TypedRead.typedSchema(t.bundle, options.getBoolean("includeRaw", false))
      case None => Db3DataSource.SpineSchema
    }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new Db3Table(graft.ros.ContainerSource.pathSpec(opts), Option(opts.get("schema_name")),
      opts.getBoolean("includeRaw", false), Option(opts.get("schema_md5")),
      Option(opts.get("schema_text")),
      opts.getBoolean("timestamp_pruning", true),
      opts.getLong("timestamp_jitter_ns", 100000000L))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object Db3DataSource {
  import graft.ros.ContainerSource._

  /** The db3 files `spec` denotes (a directory lists its *.db3 and
    * *.db3.zstd children). A file a writer's sidecar marks inconsistent
    * fails loudly: sidecar presence comes from ONE listing per parent
    * directory, not two fs.exists per file — each miss constructs a
    * stack-traced FileNotFoundException inside the local filesystem
    * (~0.5 s per 1200-file plan, FleetBench).
    */
  def files(spec: String): Seq[String] = {
    val out = resolve(spec, Db3IO.isDb3, ".db3")
    val siblings = Db3IO.siblingNames(out)
    out.foreach(f => Db3IO.sidecarProblem(f, siblings).foreach(m =>
      throw new IllegalArgumentException(m)))
    out
  }

  val Roles: graft.ros.ContainerSource.Roles = {
    val cols = Set("file_path", "msg_id", "topic_id", "topic", "type",
      "serialization_format", "timestamp")
    graft.ros.ContainerSource.Roles("file_path", Some("timestamp"), cols, cols,
      Seq("file_path", "topic", "topic_id"))
  }

  /** A messages b-tree row: (rowid, (id, topic_id, timestamp, data)). */
  type Row = (Long, Seq[Any])
  type Topic = (Long, (String, String, String))

  /** The topics catalog's filter columns: a file whose topics table
    * cannot satisfy `topic == x` is never planned (the most common
    * recording query skips whole files before any page is fetched).
    */
  val catalog: PartialFunction[String, Col[Topic]] = {
    case "topic_id" => LongCol[Topic](_._1)
    case "topic" => StrCol[Topic](_._2._1)
    case "type" => StrCol[Topic](_._2._2)
    case "serialization_format" => StrCol[Topic](_._2._3)
  }

  /** The filter columns of one file's rows, on the pre-decode values: a
    * filtered row is never inflated or decoded.
    */
  def cols(path: String, topics: Map[Long, (String, String, String)])
      : PartialFunction[String, Col[Row]] = {
    def topic(r: Row): (String, String, String) = {
      val tid = r._2(1).asInstanceOf[Long]
      topics.getOrElse(tid, throw new IllegalStateException(
        s"message row ${r._1} references unknown topic_id $tid in $path"))
    }
    val cols: PartialFunction[String, Col[Row]] = {
      case "file_path" => StrCol[Row](_ => path)
      case "msg_id" => LongCol[Row](_._1)
      case "topic_id" => LongCol[Row](_._2(1).asInstanceOf[Long])
      case "timestamp" => LongCol[Row](_._2(2).asInstanceOf[Long])
      case "topic" => StrCol[Row](topic(_)._1)
      case "type" => StrCol[Row](topic(_)._2)
      case "serialization_format" => StrCol[Row](topic(_)._3)
    }
    cols
  }

  /** The spine or typed readers of a scan. Every spine column vectorizes
    * (longs / interned strings / binary); db3 typed payloads are CDR by
    * contract, so the typed scan is columnar whenever every required
    * column has a columnar shape (array-of-struct projections take the
    * row reader).
    */
  def readers(required: StructType, filters: Array[Filter], limit: Int,
      typed: Option[Db3TypedRead.TypedTarget], includeRaw: Boolean): PartitionReaderFactory = {
    import graft.ros.bag.RosbagColumnarRead.{enabled, supportsColumnar}
    typed match {
      case Some(t) =>
        val (name, enc, text) = (t.schemaName, t.encoding, t.schemaText)
        new Readers(
          p => new Db3TypedReader(p.asInstanceOf[Db3InputPartition], name, enc, text,
            required, includeRaw, filters, limit),
          if (enabled && supportsColumnar(required))
            Some(p => new Db3TypedColumnarReader(p.asInstanceOf[Db3InputPartition], name, enc,
              text, required, includeRaw, filters, limit))
          else None)
      case None => new Readers(
        p => new Db3SpineReader(p.asInstanceOf[Db3InputPartition], required, filters, limit),
        if (enabled) Some(p => new Db3SpineColumnarReader(p.asInstanceOf[Db3InputPartition],
          required, filters, limit))
        else None)
    }
  }

  /** Message spine: rosbag2's own columns plus the file identity.
    * `timestamp` is nanoseconds since epoch (rosbag2's convention,
    * same as the mcap spine's log_time).
    */
  val SpineSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("msg_id", LongType, nullable = false), // sqlite rowid
    StructField("topic_id", LongType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("serialization_format", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("size", IntegerType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

/** File resolution + per-file metadata scans (driver side). */
object Db3IO {
  import SqliteFormat._

  private[db3] def hadoopConf() = graft.ros.bag.RosbagIO.hadoopConf()

  private[db3] def isDb3(name: String): Boolean =
    name.endsWith(".db3") || name.endsWith(".db3.zstd")

  /** Every file path under the parent directories of `files` — ONE
    * listStatus per distinct parent, the shared existence oracle for
    * the per-file sidecar checks.
    */
  private[db3] def siblingNames(files: Seq[String]): Set[String] =
    files.map(f => new Path(f).getParent).distinct.flatMap { par =>
      val fs = par.getFileSystem(hadoopConf())
      try fs.listStatus(par).toSeq.filter(_.isFile).map(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    }.toSet

  /** Is the file unsafe to read because a writer's sidecar says its
    * pages are not yet consistent? Batch reads THROW the returned
    * message (an at-rest corpus should never carry one); the
    * discovery stream DEFERS the file to a later trigger instead
    * (the recorder just hasn't closed it yet). `siblings`
    * ([[siblingNames]]) answers existence from directory listings —
    * the qualified-URI name set the listing produced must match how
    * `f` itself was produced (both come from the same listings here).
    */
  private[db3] def sidecarProblem(f: String, siblings: Set[String])
      : Option[String] = {
    if (siblings.contains(f + "-wal"))
      return Some(s"$f has a live -wal sidecar: the main file may be " +
        "stale. Close/checkpoint the recording before reading.")
    // rollback-journal mode's equivalent: a HOT journal (valid magic)
    // means a crashed writer's partially-applied pages are sitting in
    // the main file. A cold/zeroed journal (PERSIST mode after a
    // clean commit) is fine — test the magic, not mere existence.
    if (siblings.contains(f + "-journal")) {
      val jrn = new Path(f + "-journal")
      val jfs = jrn.getFileSystem(hadoopConf())
      if (jfs.getFileStatus(jrn).getLen >= 8) {
        val in = jfs.open(jrn)
        val head = new Array[Byte](8)
        try in.readFully(0L, head) finally in.close()
        val hotMagic = Array(0xd9, 0xd5, 0x05, 0xf9, 0x20, 0xa1, 0x63, 0xd7)
          .map(_.toByte)
        if (head.sameElements(hotMagic))
          return Some(s"$f has a HOT -journal sidecar: a writer crashed " +
            "mid-transaction and the main file holds partially-applied " +
            "pages. Let sqlite recover (open/close the db) before reading.")
      }
    }
    None
  }

  /** The file's subtree count if it has LANDED, else None = defer it
    * to a later trigger (the db3 stream's offer check, [[Db3Read.stream]]).
    * `siblings` = the directory listing's name set (one listing answers
    * every sidecar check).
    */
  private[db3] def offer(f: String, siblings: Set[String]): Option[Long] =
    try {
      if (sidecarProblem(f, siblings).isDefined) None
      else {
        if (f.endsWith(".db3")) {
          // complete modern-sqlite files satisfy pageCount·pageSize == length
          val p = new Path(f)
          val len = p.getFileSystem(hadoopConf()).getFileStatus(p).getLen
          val pager = new Pager(f)
          val complete =
            try pager.header.pageCount.toLong * pager.header.pageSize <= len
            finally pager.close()
          if (!complete) return None
        }
        Some(scanMeta(f).subtrees.size.toLong)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // rosbag2 --compression-mode file wraps the WHOLE database in one
  // zstd frame (<name>.db3.zstd). SQLite paging needs random access,
  // so the frame is inflated ONCE per JVM to an executor-local temp
  // file (atomic rename = completion marker; keyed on (uri, len,
  // mtime) so a republished recording re-inflates).
  private val inflatedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[db3] def materialize(file: String): String =
    if (!file.endsWith(".db3.zstd")) file
    else {
      val p = new Path(file)
      val fs = p.getFileSystem(hadoopConf())
      val st = fs.getFileStatus(p)
      val key = s"$file:${st.getLen}:${st.getModificationTime}"
      inflatedCache.computeIfAbsent(key, { _ =>
        val local = new java.io.File(
          sys.props("java.io.tmpdir"),
          "graft_db3_" + java.security.MessageDigest.getInstance("MD5")
            .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(20) + ".db3")
        if (!local.exists()) {
          val tmp = new java.io.File(local.getAbsolutePath + ".tmp-" +
            java.util.UUID.randomUUID().toString.take(8))
          tmp.deleteOnExit() // a failed inflation must not leak scratch
          val in = new com.github.luben.zstd.ZstdInputStream(
            new java.io.BufferedInputStream(fs.open(p), 1 << 20))
          val out = new java.io.FileOutputStream(tmp)
          try { in.transferTo(out); () }
          finally {
            in.close(); out.close()
            () // tmp removed below on rename or by deleteOnExit on failure
          }
          if (!tmp.renameTo(local)) {
            require(local.exists(), s"inflate rename failed for $file")
            tmp.delete()
            ()
          }
        }
        // JVM-lifetime executor scratch: reclaimed on exit (a
        // per-recording TTL would add little — the cache keys on
        // (uri, len, mtime), so only REPUBLISHED recordings create
        // additional copies within one JVM's life)
        local.deleteOnExit()
        local.getAbsolutePath
      })
    }

  /** Transparently inflate a message-mode compressed payload
    * (rosbag2 --compression-mode message, zstd): a CDR payload's first
    * byte is always 0x00 (the encapsulation header), so the zstd frame
    * magic 0x28 B5 2F FD is unambiguous.
    */
  private[db3] def inflate(data: Array[Byte]): Array[Byte] =
    if (data.length < 4 || data(0) != 0x28.toByte || data(1) != 0xB5.toByte ||
        data(2) != 0x2F.toByte || data(3) != 0xFD.toByte) data
    else {
      val n = com.github.luben.zstd.Zstd.getFrameContentSize(data)
      if (n >= 0 && n <= Int.MaxValue)
        com.github.luben.zstd.Zstd.decompress(data, n.toInt)
      else { // frame without content size: stream it
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(data))
        try in.readAllBytes() finally in.close()
      }
    }

  /** Open a positioned page fetch over `file`. Caller must close.
    * An inflated .db3.zstd reads via plain local IO — its temp path is
    * executor-LOCAL, and a scheme-less Hadoop Path would resolve
    * against fs.defaultFS (hdfs/s3a on a real cluster) and miss it.
    */
  final class Pager(file: String) extends AutoCloseable {
    private val resolved = materialize(file)
    private val raf: java.io.RandomAccessFile =
      if (resolved != file) new java.io.RandomAccessFile(resolved, "r") else null
    private val in =
      if (raf != null) null
      else { val p = new Path(file); p.getFileSystem(hadoopConf()).open(p) }
    private def readAt(pos: Long, b: Array[Byte]): Unit =
      if (raf != null) {
        raf.seek(pos)
        raf.readFully(b)
      } else in.readFully(pos, b)
    val header: Header = {
      val h = new Array[Byte](100)
      readAt(0L, h)
      parseHeader(h)
    }
    val page: Int => Array[Byte] = { i =>
      val b = new Array[Byte](header.pageSize)
      readAt((i.toLong - 1) * header.pageSize, b)
      b
    }
    override def close(): Unit = if (raf != null) raf.close() else in.close()
  }

  final case class Db3Meta(
      topics: Map[Long, (String, String, String)], // id -> (name, type, fmt)
      definitions: Seq[(String, String, String)],  // (topic_type, encoding, text)
      messagesRoot: Int,
      subtrees: Seq[Int])

  /** Parallel per-file metadata scans — the plan-time twin of
    * RosbagSource.scanIndexes: a 10k-file fleet directory must not pay
    * 10k sequential header+schema walks on the driver before the first
    * task launches. Bounded pool (32 readers saturate any filesystem's
    * metadata path); results keep the input order; the ORIGINAL
    * failure surfaces, not the pool's ExecutionException.
    */
  def scanMetas(files: Seq[String]): Seq[(String, Db3Meta)] =
    graft.ros.DriverPool.parMap(files)(f => f -> scanMeta(f))

  // one meta per path, latest (mtime, length) version — same shape and
  // rationale as RosbagIO/McapIO's index caches: at fleet scale every
  // re-plan otherwise re-walks every file's catalog b-trees
  // (FleetBench measured warm db3 plans ≈ cold before this cache;
  // rosbag/mcap warm plans were 3-7× cheaper than cold).
  // Freshness contract (shared with those caches): a file REPLACED
  // in place with different content but identical length inside the
  // filesystem's mtime granularity window would serve stale metadata
  // — at-rest container files must land via temp+rename (which
  // refreshes mtime), the convention every writer in this engine and
  // rosbag2's own recorder follow
  private val metaCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), Db3Meta)]()

  def scanMeta(file: String): Db3Meta = {
    val p = new Path(file)
    val st = p.getFileSystem(hadoopConf()).getFileStatus(p)
    val version = (st.getModificationTime, st.getLen)
    metaCache.compute(file, (_, cached) =>
      if (cached != null && cached._1 == version) cached
      else (version, scanMetaUncached(file))
    )._2
  }

  private def scanMetaUncached(file: String): Db3Meta = {
    val pager = new Pager(file)
    try {
      val roots = tableRoots(pager.page, pager.header.usable)
      require(roots.contains("messages") && roots.contains("topics"),
        s"$file lacks rosbag2's messages/topics tables " +
          s"(has: ${roots.keys.toSeq.sorted.mkString(", ")})")
      val topics = tableRows(pager.page, pager.header.usable, roots("topics"))
        .map { case (rowid, v) =>
          rowid -> (v(1).asInstanceOf[String], v(2).asInstanceOf[String],
            v(3).asInstanceOf[String])
        }.toMap
      val defs = roots.get("message_definitions").map { r =>
        tableRows(pager.page, pager.header.usable, r).map { case (_, v) =>
          (v(1).asInstanceOf[String], v(2).asInstanceOf[String],
            v(3).asInstanceOf[String])
        }.toSeq
      }.getOrElse(Seq.empty)
      Db3Meta(topics, defs, roots("messages"),
        rootChildren(pager.page, pager.header.usable, roots("messages")))
    } finally pager.close()
  }

  /** Per-subtree (firstTs, lastTs) pruning probes over the messages
    * b-tree: two spine descents per subtree (page-path reads only, no
    * row walk). rosbag2's single-threaded SequentialWriter stamps
    * `timestamp` at receive time, so rows are written in nondecreasing
    * timestamp order and each subtree's true range IS its edge probes.
    *
    * The probe sequence check below is a NECESSARY condition for that
    * assumption, not a proof: a non-monotone sequence across the
    * file's subtrees (ascending rowid ranges) refutes it — this
    * returns None and the caller keeps every subtree — but interior
    * disorder that happens to look ordered at every subtree boundary
    * would pass and could prune a subtree holding matching rows. Two
    * probes per subtree cannot see interior rows; only a full walk
    * could, which would defeat plan-time pruning. Genuine rosbag2
    * recordings cannot hit this (sqlite rowid = single-writer
    * insertion order = receive-time order); for foreign or merged
    * files, `option("timestamp_pruning", "false")` disables subtree
    * pruning entirely (row-level filters still apply).
    */
  def subtreeTsRanges(file: String, subtrees: Seq[Int])
      : Option[Seq[(Int, Long, Long)]] = {
    val pager = new Pager(file)
    try {
      val probes = subtrees.flatMap { st =>
        edgeRows(pager.page, pager.header.usable, st, 3).map {
          case ((_, fv), (_, lv)) =>
            (st, fv(2).asInstanceOf[Long], lv(2).asInstanceOf[Long])
        }
      }
      val monotone = probes.forall { case (_, lo, hi) => lo <= hi } &&
        probes.sliding(2).forall {
          case Seq((_, _, hi), (_, lo, _)) => hi <= lo
          case _ => true
        }
      if (monotone) Some(probes) else None
    } finally pager.close()
  }

  /** Keep/drop per subtree under a timestamp-range predicate, with two
    * defenses on top of the raw edge probes (the boundary-monotonicity
    * check alone cannot see interior disorder):
    *
    *   1. every probed range is WIDENED by `jitterNs` before the
    *      may-match test — receive-stamp inversions from concurrent
    *      subscription callbacks (multithreaded executors, composed
    *      recorders) are bounded by callback latency — microseconds
    *      to low milliseconds — far under the default 100 ms margin
    *      (`option("timestamp_jitter_ns", n)` to widen for exotic
    *      recorders), so the margin costs little pruning even on
    *      high-rate topics whose subtrees span well under a second;
    *   2. every dropped subtree at a FILTER CUT is re-checked EXACTLY
    *      with [[SqliteFormat.countMinMax]] (every leaf cell's
    *      timestamp prefix; no write-order assumption, no
    *      blob/overflow reads). A cut is anywhere the filter's
    *      accepted region meets dropped coverage: a dropped subtree
    *      adjacent (rowid order) to a kept one, BOTH subtrees around
    *      an interior gap the filter may match (a window landing in a
    *      recording pause keeps nothing, yet its stray rows would sit
    *      in the gap's neighbors), and the first/last subtree when
    *      the filter may match before/after the probed global range.
    *      An exact range escaping its widened probe range refutes the
    *      write-order assumption for the whole FILE → all subtrees
    *      are kept, same as a failed monotonicity probe.
    *
    * Residual (stated plainly): two edge probes per subtree cannot
    * see interior rows, so a timestamp inversion LARGER than
    * `jitterNs` whose stray row lands in a dropped subtree that is
    * not at any filter cut remains undetectable — only a full leaf
    * walk of every dropped subtree could find it, which would defeat
    * plan-time pruning. The margin default (100 ms) is sized against
    * the mechanism that produces inversions in genuine rosbag2
    * recordings — receive-stamped messages from concurrent
    * subscription callbacks racing into the single SequentialWriter
    * queue, a window bounded by executor callback-to-enqueue latency
    * (microseconds to low milliseconds on a loaded host; see the ROS 2
    * executor-latency literature, e.g. Casini et al., ECRTS 2019) —
    * leaving ~2 orders of magnitude of headroom. It is NOT a bound on
    * arbitrary disorder: for foreign, merged, or clock-stepped files
    * use `option("timestamp_jitter_ns", n)` to widen, or
    * `option("timestamp_pruning", "false")` to disable subtree
    * pruning entirely (row-level filters still apply).
    *
    * Cost: the exact re-check touches only the O(#filter-cuts)
    * candidate subtrees per file, not the pruned interior — at fleet
    * scale the narrow-time-window query still skips almost every
    * page.
    */
  def pruneSubtrees(file: String, rs: Seq[(Int, Long, Long)],
                    mayMatch: (Long, Long) => Boolean,
                    jitterNs: Long): Seq[Int] = {
    def wLo(lo: Long): Long =
      if (lo < Long.MinValue + jitterNs) Long.MinValue else lo - jitterNs
    def wHi(hi: Long): Long =
      if (hi > Long.MaxValue - jitterNs) Long.MaxValue else hi + jitterNs
    val flags: Seq[(Int, Boolean)] =
      rs.map { case (st, lo, hi) => (st, mayMatch(wLo(lo), wHi(hi))) }
    // dropped subtrees at a filter cut (scaladoc above): kept-adjacent,
    // around a may-matching interior gap, or at a file edge the filter
    // may reach past. Gap test: if both neighbors dropped yet their
    // widened ranges don't cover the space between them, a window in
    // that space matches neither subtree but its stray rows would sit
    // in one of the two — exact-verify both.
    val keptAdj = flags.indices.filter { i =>
      !flags(i)._2 && ((i > 0 && flags(i - 1)._2) ||
        (i + 1 < flags.size && flags(i + 1)._2))
    }
    val gapAdj = (0 until rs.size - 1).flatMap { i =>
      val gLo = wHi(rs(i)._3); val gHi = wLo(rs(i + 1)._2)
      if (!flags(i)._2 && !flags(i + 1)._2 && gLo < gHi &&
        mayMatch(gLo, gHi)) Seq(i, i + 1)
      else Nil
    }
    val edgeAdj =
      (if (rs.nonEmpty && !flags.head._2 &&
        Long.MinValue < wLo(rs.head._2) &&
        mayMatch(Long.MinValue, wLo(rs.head._2))) Seq(0) else Nil) ++
      (if (rs.nonEmpty && !flags.last._2 &&
        wHi(rs.last._3) < Long.MaxValue &&
        mayMatch(wHi(rs.last._3), Long.MaxValue)) Seq(rs.size - 1) else Nil)
    val boundary = (keptAdj ++ gapAdj ++ edgeAdj).distinct.sorted
    if (boundary.isEmpty) return flags.collect { case (st, true) => st }
    val pager = new Pager(file)
    try {
      var refuted = false
      val verified = boundary.map { i =>
        val (st, lo, hi) = rs(i)
        val (_, mn, mx) = SqliteFormat.countMinMax(
          pager.page, pager.header.usable, st, valueIdx = 2)
        val keep = (mn, mx) match {
          case (Some(a), Some(b)) =>
            if (a < wLo(lo) || b > wHi(hi)) refuted = true
            mayMatch(a, b)
          case _ => false // empty subtree matches nothing
        }
        i -> keep
      }.toMap
      if (refuted) rs.map(_._1)
      else flags.zipWithIndex.collect {
        case ((st, k), i) if k || verified.getOrElse(i, false) => st
      }
    } finally pager.close()
  }
}

/** Typed-read resolution + the shared flat frame. */
object Db3TypedRead {
  val MetaFields: Seq[StructField] = Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("msg_id", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("topic_id", LongType, nullable = false),
    StructField("topic", StringType, nullable = false))

  private[db3] val reserved = MetaFields.map(_.name).toSet + "data" + "seqno"

  final case class TypedTarget(schemaName: String, encoding: String,
                               schemaText: String, files: Seq[String],
                               md5: String) {
    def bundle: graft.ros.RosMsgBundle =
      graft.ros.mcap.McapPayload.bundle(encoding, schemaName,
        schemaText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Resolve the ros2msg definition for `schemaName` across the path's
    * files — md5-drift contract of the rosbag/mcap typed reads. An
    * explicit `schemaText` (pre-Humble bags without a
    * message_definitions table) bypasses the catalog.
    */
  def resolveTarget(path: String, schemaName: String,
                    md5: Option[String] = None,
                    schemaText: Option[String] = None): TypedTarget = {
    val files = Db3DataSource.files(path)
    schemaText match {
      case Some(text) =>
        return TypedTarget(schemaName, "ros2msg", text, files,
          graft.ros.mcap.McapTypedRead.md5hex(text.getBytes("UTF-8")))
      case None => ()
    }
    val variants = Db3IO.scanMetas(files).flatMap { case (f, meta) =>
      val defs = meta.definitions.filter(_._1 == schemaName)
      if (defs.isEmpty && meta.topics.values.exists(_._2 == schemaName))
        throw new IllegalArgumentException(
          s"$f records topic type $schemaName but carries no " +
            "message_definitions table (pre-Humble rosbag2); pass the " +
            "definition explicitly via option(\"schema_text\", ...)")
      defs.map { case (_, enc, text) =>
        require(enc == "ros2msg" || enc == "ros2idl",
          s"$schemaName in $f is defined under encoding '$enc'; typed db3 " +
            "reads support ros2msg and ros2idl")
        (graft.ros.mcap.McapTypedRead.md5hex(text.getBytes("UTF-8")), enc, text, f)
      }
    }
    require(variants.nonEmpty, s"schema $schemaName not present in $path")
    val byMd5 = variants.groupBy(_._1)
    val chosen = md5 match {
      case Some(m) => byMd5.filter { case (k, _) => k.startsWith(m) }
      case None => byMd5
    }
    require(chosen.size == 1,
      s"schema $schemaName has ${byMd5.size} definition variants across $path " +
        s"(md5s: ${byMd5.keys.toSeq.sorted.mkString(", ")})" +
        (if (md5.isDefined) s"; md5 prefix '${md5.get}' matches ${chosen.size}"
         else "; pass option(\"schema_md5\", <prefix>) to select one"))
    val (m, vs) = chosen.head
    TypedTarget(schemaName, vs.head._2, vs.head._3, vs.map(_._4).distinct, m)
  }

  def typedSchema(bundle: graft.ros.RosMsgBundle, includeRaw: Boolean): StructType = {
    val payload = graft.ros.RosSchemaMapper.flatSchema(bundle).fields.map(f =>
      if (reserved(f.name)) f.copy(name = f.name + "_field") else f)
    val raw = if (includeRaw) Seq(StructField("data", BinaryType, nullable = false)) else Nil
    StructType(MetaFields ++ payload ++ raw)
  }
}

class Db3Table(path: String, schemaName: Option[String],
               includeRaw: Boolean, md5: Option[String],
               schemaText: Option[String],
               tsPruning: Boolean = true,
               tsJitterNs: Long = 100000000L)
    extends graft.ros.ContainerSource.ContainerTable("db3", path, schemaName,
      if (schemaName.isEmpty && schemaText.isEmpty) None
      else Some("schema_name/schema_text read options"), "Db3Export.prepare") {
  private lazy val target: Option[Db3TypedRead.TypedTarget] =
    schemaName.map(sn => Db3TypedRead.resolveTarget(path, sn, md5, schemaText))
  override def schema(): StructType = target match {
    case Some(t) => Db3TypedRead.typedSchema(t.bundle, includeRaw)
    case None => Db3DataSource.SpineSchema
  }
  override protected def read: graft.ros.ContainerSource.Read =
    new Db3Read(path, target, includeRaw, tsPruning, tsJitterNs)
  override protected def sink(req: graft.ros.ContainerSink.Request): graft.ros.ContainerSink.Format =
    Db3Sink(req)
}

/** The db3 read: one unit per (file, messages-b-tree subtree); the
  * topics catalog prunes topic / type / format / topic_id. Format hooks:
  * timestamp ranges prune whole subtrees through per-subtree edge probes
  * ([[Db3IO.subtreeTsRanges]] / [[Db3IO.pruneSubtrees]]), assuming
  * rosbag2's single-writer receive-time order (boundary-checked per
  * file; `option("timestamp_pruning", "false")` disables it for
  * foreign/merged files), and `count(*)`/min/max push down to a b-tree
  * walk ([[Db3MetaAggScan]]).
  */
final class Db3Read(val spec: String, target: Option[Db3TypedRead.TypedTarget],
    includeRaw: Boolean, tsPruning: Boolean, tsJitterNs: Long)
    extends graft.ros.ContainerSource.Read {
  import graft.ros.ContainerSource._
  override def kind: String = "db3"
  override def roles: Roles = Db3DataSource.Roles
  override def typed: Option[String] = target.map(_.schemaName)
  // typed reads push only meta-column filters (payload columns never
  // reach the reader's filter)
  override def typedCols: Set[String] = Set("file_path", "msg_id", "timestamp", "topic_id", "topic")
  override lazy val files: Seq[String] = target.map(_.files).getOrElse(Db3DataSource.files(spec))
  // a subtree is one task: the b-tree already splits a file into
  // independent rowid ranges
  override def packs: Boolean = false

  // probes, like the metadata scans, fan out over files on the bounded
  // pool; the keep/drop decision needs plan-time page IO (the
  // cut-boundary exact re-check in pruneSubtrees)
  override def units(files: Seq[String], s: Planning): Seq[Planned] = {
    val probe = tsPruning && s.filters.exists(_.references.head == "timestamp")
    val metas = Db3IO.scanMetas(files).filter { case (_, meta) =>
      catalogMayMatch(s.filters, meta.topics, Db3DataSource.catalog) }
    graft.ros.DriverPool.parMap(metas) { case (f, meta) =>
      val keep =
        if (!probe) meta.subtrees
        else Db3IO.subtreeTsRanges(f, meta.subtrees) match {
          case Some(rs) => Db3IO.pruneSubtrees(f, rs,
            (lo, hi) => rangeMayMatch(s.filters, "timestamp", lo, hi), tsJitterNs)
          case None => meta.subtrees
        }
      keep.map(st => Planned(Db3InputPartition(f, st, meta.topics), 0L))
    }.flatten
  }

  override def readers(required: StructType, filters: Array[Filter],
      limit: Int): PartitionReaderFactory =
    Db3DataSource.readers(required, filters, limit, target, includeRaw)

  /** Streaming over a db3 path at FILE granularity — the at-rest member
    * of the mixed fleet-upload stream (a live sqlite writer's pages are
    * only consistent through its WAL and shared-memory index, so db3 is
    * never tailed): each trigger plans every newly LANDED recording's
    * subtrees exactly once, `{"files":{path:subtrees}}`, and the start's
    * entry wins (the offered count is the replay contract).
    *
    * "Landed" is verified, not assumed, before a file is offered
    * ([[Db3IO.offer]]): a live `-wal` / hot `-journal` sidecar, a plain
    * `.db3` whose header page count reaches past its length (a truncated
    * in-flight upload), or a metadata scan that throws all DEFER the
    * file to a later trigger. The residual — an uploader writing a valid
    * prefix IN PLACE whose header already claims the final length — is
    * unverifiable from outside; write-to-temp + rename (every standard
    * uploader's landing contract) rules it out. `file_path` filters and
    * the topics catalog skip whole files; a typed stream skips a DRIFTED
    * file landing mid-stream rather than mis-decoding it, and a
    * pre-Humble file without a definitions table streams under an
    * explicit `option("schema_text", ...)` exactly as it batch-reads.
    */
  override def stream(required: StructType, filters: Array[Filter],
      limit: Int): MicroBatchStream = {
    val t = target
    new CountsStream(PerFile("files"), () => resolveTolerant(spec, Db3IO.isDb3),
      cands => {
        val siblings = Db3IO.siblingNames(cands)
        graft.ros.DriverPool.parMap(cands)(f => f -> Db3IO.offer(f, siblings))
          .collect { case (f, Some(n)) => f -> Seq(n) }.toMap
      },
      startWins, pathMayMatch(filters, "file_path", _),
      (f, from, until) =>
        if (from.isDefined) Nil // at-rest: one offer per file
        else {
          val meta = Db3IO.scanMeta(f)
          val carries = t.forall(tt => meta.definitions.isEmpty ||
            meta.definitions.exists { case (name, _, text) =>
              name == tt.schemaName && graft.ros.mcap.McapTypedRead.md5hex(
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) == tt.md5
            })
          if (!carries || !catalogMayMatch(filters, meta.topics, Db3DataSource.catalog)) Nil
          // take(n): a file mutated after landing (outside the
          // contract) must not make a replayed batch non-deterministic
          else meta.subtrees.take(until.head.toInt).map(st =>
            Db3InputPartition(f, st, meta.topics): InputPartition)
        },
      readers(required, filters, -1))
  }

  /** `count(*)` and `min/max(timestamp)` pushdown from the b-tree
    * itself — grouped or not: sqlite has no writer-stamped counts or
    * time ranges (unlike chunk-info / MCAP Statistics), but each leaf
    * page header carries its cell count, and (topic_id, timestamp)
    * sit in the first ~20 bytes of each record — before the blob. The
    * distributed agg scan walks page headers per subtree (ungrouped
    * count) or prefix-decodes leaf cells ([[SqliteFormat.countMinMax]]
    * / [[SqliteFormat.groupedCountMinMax]]) — never a full record
    * parse, an overflow chain, or a payload inflation. Exact on ANY
    * file (no write-order assumption, unlike the edge-probe pruning).
    * db3 is the one container where GROUPED min/max is exact from
    * metadata (the walk reads key and value together), completing the
    * reference's per-connection stats TODO (rosbag2parquet.cpp:22-24)
    * from pure metadata; grouping columns are the catalog-derivable
    * five (file_path + topic_id → topic/type/format).
    */
  override def aggregate(a: Aggregation, offered: Array[Filter]): Option[Scan] =
    graft.ros.MetadataAgg.parse(a,
        Set("file_path", "topic_id", "topic", "type", "serialization_format"),
        Set("timestamp"), groupedMinMax = true)
      .map { case (cols, specs) => new Db3MetaAggScan(spec, cols, specs) }
}

/** The pushed-aggregate scan: the normal per-subtree partitions, but
  * each reader emits PARTIAL rows — ungrouped: one row with the
  * subtree's page-header count plus its timestamp min/max from
  * leaf-cell prefix decodes when requested ([[SqliteFormat.countRows]]
  * / [[SqliteFormat.countMinMax]]); grouped: one row per topic_id in
  * the subtree with per-group count/min/max
  * ([[SqliteFormat.groupedCountMinMax]]), group columns resolved from
  * the topics catalog the partition already carries. Spark's final
  * aggregate re-groups the partials, sums the counts and re-min/maxes
  * the ranges (an empty subtree's nulls drop out).
  */
class Db3MetaAggScan(path: String, cols: Seq[String],
                     specs: Seq[graft.ros.MetadataAgg.AggSpec])
    extends Scan with Batch {
  import graft.ros.MetadataAgg
  override def readSchema(): StructType =
    if (cols.isEmpty) MetadataAgg.schemaFor(specs, Db3DataSource.SpineSchema)
    else MetadataAgg.schemaGrouped(cols, Db3DataSource.SpineSchema, specs)
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Db3IO.scanMetas(Db3DataSource.files(path)).flatMap { case (f, meta) =>
      meta.subtrees.map(st =>
        Db3InputPartition(f, st, meta.topics): InputPartition)
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    val sp = specs // serializable captures, not the Scan
    val gCols = cols
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val part = p.asInstanceOf[Db3InputPartition]
          private val needMinMax = sp.exists(_ != MetadataAgg.CountStarSpec)
          // materialized eagerly (tiny: ≤ one row per topic per
          // subtree) so the pager never outlives next()
          private lazy val rows: Iterator[InternalRow] = {
            val pager = new Db3IO.Pager(part.path)
            try {
              if (gCols.isEmpty) {
                val (n, mn, mx) =
                  if (needMinMax)
                    SqliteFormat.countMinMax(pager.page, pager.header.usable,
                      part.subtree, valueIdx = 2) // (id, topic_id, TIMESTAMP, data)
                  else
                    (SqliteFormat.countRows(pager.page, pager.header.usable,
                      part.subtree), None, None)
                Iterator.single(InternalRow.fromSeq(sp.map {
                  case MetadataAgg.CountStarSpec => n
                  case MetadataAgg.MinSpec(_) =>
                    mn.map(java.lang.Long.valueOf).orNull
                  case MetadataAgg.MaxSpec(_) =>
                    mx.map(java.lang.Long.valueOf).orNull
                }))
              } else {
                val grouped = SqliteFormat.groupedCountMinMax(
                  pager.page, pager.header.usable, part.subtree,
                  keyIdx = 1, valueIdx = 2, needValue = needMinMax)
                grouped.toSeq.map { case (tid, slot) =>
                  val (tn, tt, tf) = part.topics.getOrElse(tid,
                    throw new IllegalStateException(
                      s"message rows reference unknown topic_id $tid in ${part.path}"))
                  val groupVals: Seq[Any] = gCols.map {
                    case "file_path" => UTF8String.fromString(part.path)
                    case "topic_id" => tid
                    case "topic" => UTF8String.fromString(tn)
                    case "type" => UTF8String.fromString(tt)
                    case "serialization_format" => UTF8String.fromString(tf)
                  }
                  InternalRow.fromSeq(groupVals ++ sp.map {
                    case MetadataAgg.CountStarSpec => slot(0)
                    case MetadataAgg.MinSpec(_) => slot(1)
                    case MetadataAgg.MaxSpec(_) => slot(2)
                  })
                }.iterator
              }
            } finally pager.close()
          }
          private var current: InternalRow = _
          override def next(): Boolean =
            rows.hasNext && { current = rows.next(); true }
          override def get(): InternalRow = current
          override def close(): Unit = ()
        }
    }
  }
  override def description(): String = s"db3 $path metadataAgg=true"
}

final case class Db3InputPartition(path: String, subtree: Int,
    topics: Map[Long, (String, String, String)]) extends InputPartition

/** Spine rows straight off the messages b-tree subtree. Pushed filters
  * evaluate on the pre-decode values in `next()` — a filtered row is
  * never inflated, and the pushed limit counts only SURVIVING rows.
  */
class Db3SpineReader(p: Db3InputPartition, required: StructType,
    filters: Array[Filter], limit: Int)
    extends PartitionReader[InternalRow] {
  private val pager = new Db3IO.Pager(p.path)
  private val rows = SqliteFormat.tableRows(pager.page, pager.header.usable, p.subtree)
  private val projection: Array[Int] =
    required.fields.map(f => Db3DataSource.SpineSchema.fieldIndex(f.name))
  // message-mode inflation: only for PROJECTED payload/size columns
  // (a count/meta scan must not decompress every message) and only on
  // cdr channels — CDR's first byte is always 0x00, so the frame
  // magic is unambiguous THERE; other serializations are retained
  // byte-exact (a non-cdr payload could legitimately start with the
  // magic bytes)
  private val needsData: Boolean =
    projection.exists(i => i == 7 || i == 8) // size, data
  private val pathUtf8 = UTF8String.fromString(p.path)
  private val topicUtf8 = p.topics.map { case (id, (n, t, f)) =>
    id -> (UTF8String.fromString(n), UTF8String.fromString(t), UTF8String.fromString(f)) }
  private var current: (Long, Seq[Any]) = _
  private var emitted = 0

  private val passes = graft.ros.ContainerSource.compile(filters,
    Db3DataSource.cols(p.path, p.topics))

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (rows.hasNext) {
      val c = rows.next()
      if (passes(c)) { current = c; emitted += 1; return true }
    }
    false
  }

  override def get(): InternalRow = {
    val (rowid, v) = current
    val tid = v(1).asInstanceOf[Long]
    // loud on drift: a messages row whose topic_id has no topics row is
    // a corrupt/foreign file — empty-string metadata would fabricate
    // plausible rows AND silently skip cdr message-mode zstd inflation
    val (tn, tt, tf) = topicUtf8.getOrElse(tid, throw new IllegalStateException(
      s"message row $rowid references unknown topic_id $tid in ${p.path}"))
    val isCdr = p.topics(tid)._3 == "cdr"
    val data =
      if (needsData && isCdr) Db3IO.inflate(v(3).asInstanceOf[Array[Byte]])
      else v(3).asInstanceOf[Array[Byte]]
    val full = Array[Any](pathUtf8, rowid, tid, tn, tt, tf,
      v(2).asInstanceOf[Long], data.length, data)
    InternalRow.fromSeq(projection.toSeq.map(full))
  }
  override def close(): Unit = pager.close()
}

/** Typed rows: CDR payloads of the schema's topics flattened through
  * the shared frame (same decode stack as the mcap typed reader).
  * Pushed meta-column filters evaluate BEFORE decode, so a filtered
  * row never pays CDR decoding or message-mode inflation.
  */
class Db3TypedReader(p: Db3InputPartition, schemaName: String, encoding: String,
    schemaText: String,
    required: StructType, includeRaw: Boolean, filters: Array[Filter],
    limit: Int)
    extends PartitionReader[InternalRow] {
  import Db3TypedRead._

  private lazy val bundle = graft.ros.mcap.McapPayload.bundle(encoding,
    schemaName, schemaText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private lazy val fullSchema = typedSchema(bundle, includeRaw)
  private lazy val projection: Array[Int] =
    required.fields.map(f => fullSchema.fieldIndex(f.name))
  // topics of THIS type; rosbag2 stores one serialization per topic
  private val typeTopics: Map[Long, (String, String, String)] =
    p.topics.filter { case (_, (_, t, _)) => t == schemaName }
  private val pager = new Db3IO.Pager(p.path)
  private val rows = SqliteFormat
    .tableRows(pager.page, pager.header.usable, p.subtree)
    .filter { case (_, v) => typeTopics.contains(v(1).asInstanceOf[Long]) }
  private val passes = graft.ros.ContainerSource.compile(filters,
    Db3DataSource.cols(p.path, typeTopics))
  private val pathUtf8 = UTF8String.fromString(p.path)
  private val topicUtf8 = typeTopics.map { case (id, (n, _, _)) =>
    id -> UTF8String.fromString(n) }
  private var current: (Long, Seq[Any]) = _
  private var emitted = 0

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (rows.hasNext) {
      val c = rows.next()
      val tid = c._2(1).asInstanceOf[Long]
      val (tname, _, fmt) = typeTopics(tid)
      require(fmt == "cdr",
        s"topic $tname serializes as '$fmt'; typed db3 reads decode cdr")
      if (passes(c)) { current = c; emitted += 1; return true }
    }
    false
  }

  private lazy val needsPayload: Boolean =
    projection.exists(i => i >= MetaFields.size &&
      !(includeRaw && i == fullSchema.size - 1))

  override def get(): InternalRow = {
    val (rowid, v) = current
    val tid = v(1).asInstanceOf[Long]
    // cdr-only by the reader's contract, so the magic sniff is safe;
    // meta-only projections skip the decompression entirely
    val data =
      if (needsPayload || includeRaw) Db3IO.inflate(v(3).asInstanceOf[Array[Byte]])
      else v(3).asInstanceOf[Array[Byte]]
    val nFields = fullSchema.size
    val full = new Array[Any](nFields)
    full(0) = pathUtf8; full(1) = rowid; full(2) = v(2).asInstanceOf[Long]
    full(3) = tid; full(4) = topicUtf8(tid)
    if (includeRaw) full(nFields - 1) = data
    if (needsPayload) {
      val vals = graft.ros.mcap.CdrCodec.decode(bundle, data)
      var i = 0
      val it = vals.iterator
      while (it.hasNext) { full(MetaFields.size + i) = it.next(); i += 1 }
    }
    InternalRow.fromSeq(projection.toSeq.map { i =>
      graft.ros.bag.RosbagTypedRead.toCatalyst(full(i), fullSchema.fields(i).dataType)
    })
  }
  override def close(): Unit = pager.close()
}

/** Dimension tables for db3 inputs (the Connections/Channels analog). */
object Db3Tables {
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}

  /** The message_definitions catalog (Humble+) as a dimension — what a
    * schema-inventory query joins against; empty for pre-Humble files.
    */
  def definitions(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("topic_type", StringType, nullable = false),
      StructField("encoding", StringType, nullable = false),
      StructField("definition", StringType, nullable = false)))
    val rows = Db3IO.scanMetas(Db3DataSource.files(path)).flatMap { case (f, m) =>
      m.definitions.map { case (t, enc, text) => Row(f, t, enc, text) }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  val TopicsSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("topic_id", LongType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("serialization_format", StringType, nullable = false)))

  /** One [[TopicsSchema]] row per (file, topic), by topic id. */
  def topicRows(metas: Seq[(String, Db3IO.Db3Meta)]): Seq[Row] =
    metas.flatMap { case (f, m) =>
      m.topics.toSeq.sortBy(_._1).map { case (id, (n, t, fmt)) => Row(f, id, n, t, fmt) }
    }

  def topics(spark: SparkSession, path: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      topicRows(Db3IO.scanMetas(Db3DataSource.files(path))), 1), TopicsSchema)
}
