package graft.ros.etl

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ros.{MsgDefParser, RosMsgBundle, RosSchemaMapper}
import graft.ros.bag.RosbagTypedRead

/** The reference's whole pipeline (reference rosbag2parquet.cpp:41-63,
  * FlattenedRosWriter.cpp:226-271): read a bag via the DSv2 `rosbag`
  * source, assign the dense global seqno in time order, and write
  * `Messages`, `Connections` and one flattened parquet table per
  * datatype (snappy, like TableBuffer.cpp:49-51).
  *
  * Scale shape: ONE Spark job, then Connections — [[RoutedEtl]], the
  * route-by-type core McapEtl and Db3Etl run too. The bag scan
  * parallelizes per overlap group of chunks and numbers the seqno
  * itself from the chunk index (the source's `seqno` metadata column,
  * graft.ros.bag.RosbagSeqno) — no shuffle, no staging, no join — and
  * reads every chunk once. Each task hands every message to the
  * Messages writer and decodes its payload once into its type's table
  * writer: the reference's serial route-by-type
  * (FlattenedRosWriter.cpp:273-289) at cluster parallelism, through
  * [[RoutedTableWrite]], which commits all those tables together.
  * Connections is driver-side tiny, written without a Spark job, and
  * lands last, as the increment's commit record. Loads the index cannot
  * number cheaply (a chunk without chunk-info, a multi-chunk overlap
  * group over the partition byte budget, or a group mixing bags with
  * different message types — see RosbagSeqno.cheapGroups) stage an
  * (identity, time) spine, number it with the Seqno range-shuffle
  * operator, and join that seqno map to the raw scan once.
  */
object BagEtl {
  private val logger = org.slf4j.LoggerFactory.getLogger(BagEtl.getClass)

  /** The reference's `info` result (rosbag2parquet.h:6-10) plus the
    * per-file checksum of reference TODO rosbag2parquet.cpp:28 ("and
    * while we are at it: per file crc"): `crcXor` is the bit-xor of all
    * per-message CRC32s — order-independent, so it aggregates
    * distributed with no shuffle-order sensitivity, and any single
    * corrupted message flips it. (It is a message-content checksum, not
    * a CRC of the container file's bytes — chunk compression codec or
    * re-chunking don't change it, which is the useful invariant.)
    */
  final case class Info(bagname: String, count: Long, sizeBytes: Long, crcXor: Long)

  /** reference main.cpp:38-54: probe `<base>`, `<base>.1`, ... —
    * via Hadoop FS so remote outDirs (hdfs://, s3a://) version too.
    */
  def versionedOutputDir(base: String): String = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    if (!fs.exists(p)) base
    else Iterator.from(1).map(i => s"$base.$i")
      .find(c => !fs.exists(new org.apache.hadoop.fs.Path(c))).get
  }

  /** Run the conversion; returns the reference's `info` result
    * (rosbag2parquet.h:6-10), summed from the data job's tasks.
    * One data job writes Messages and every per-type table; every
    * table directory lands with its `_SUCCESS`, or, if the job fails,
    * none of them does.
    *
    * @param maxMessages mirrors --max_mbs's test-scope-limiting role
    *        (main.cpp:26) with row granularity: every table keeps the
    *        first n messages in merge-time order (seqno < n); a type
    *        with none of them left still lands as an empty table.
    * @param keepRawBlob retain the raw serialized `data` column on
    *        per-type tables (reference README.md:106 "you don't lose
    *        any data"). Since this engine ALSO materializes arrays
    *        (unlike the reference), blob-dominated types store their
    *        payload twice with the default; pass false for the
    *        storage-lean layout (the typed columns alone are lossless
    *        for all materialized fields).
    * @param blobSideTable split raw blobs larger than `blobThreshold`
    *        out of each per-type table into `<table>_blobs.parquet`
    *        keyed by seqno (reference wishlist rosbag2parquet.cpp:26
    *        "emit blobs as a standalone table"; README.md:137). The
    *        main table keeps small blobs inline, nulls the big ones and
    *        carries a `data_externalized` flag — scan-heavy queries
    *        stop paying for image bytes they never read, and the side
    *        table joins back on seqno when they do. Requires
    *        keepRawBlob (no blob column to externalize otherwise).
    * @param nativeTimestamp additionally emit `time` as a parquet
    *        TIMESTAMP (micros, NTZ) derived from time_sec/time_nsec
    *        (floor to micros) — reference TODO rosbag2parquet.cpp:31-32
    *        "use parquet timestamps rather than ros sec/nsec". Additive:
    *        the raw sec/nsec pair stays (the reference's load-time
    *        compatibility concern), and parquet min/max column stats
    *        cover it like every other column (Spark's writer generates
    *        chunk statistics for all columns — reference TODO :33 is
    *        free here).
    */
  def run(spark: SparkSession, bagPath: String, outDir: String,
          maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
          blobSideTable: Boolean = false, blobThreshold: Int = 1 << 20,
          nativeTimestamp: Boolean = false): Info =
    // bagPath may be one file, a directory, or a glob — the dataset
    // shape a 100 TB robotics corpus actually arrives in.
    convert(spark, RoutedEtl.Slice(graft.ros.bag.RosbagDataSource.files(bagPath)),
      new java.io.File(bagPath).getName, versionedOutputDir(outDir), maxMessages,
      keepRawBlob, blobSideTable, blobThreshold, nativeTimestamp)

  /** Incremental multi-bag conversion: ETL only the bags under
    * `bagPath` not yet present in `outDir`'s Connections (matched by
    * bag_path, see RoutedEtl.increment), appending Messages/Connections/
    * per-type rows with seqnos continuing after the committed maximum —
    * the daily fleet-upload shape: new drives arrive, the corpus tables
    * grow, nothing already converted is re-read or re-written. Table
    * naming stays consistent across increments via the `_tables.json`
    * manifest: a (datatype, md5) variant keeps its historical table;
    * a NEW variant of a known datatype always gets the md5-namespaced
    * name (the historical table is never renamed). Seqnos are dense
    * overall; cross-bag time interleave holds WITHIN each increment
    * (across increments, arrival order dominates — an ingest log, not
    * a global re-sort). Returns the `info` of the appended increment
    * (zero-count when there is nothing new). On an outDir without
    * Messages this is `run` into outDir itself: a pre-created or
    * crash-remnant outDir must not fork the corpus into outDir.1, .2,
    * ... on every call, and a table left by a crashed bootstrap fails
    * the write loudly.
    */
  def runIncremental(spark: SparkSession, bagPath: String, outDir: String,
          keepRawBlob: Boolean = true,
          blobSideTable: Boolean = false, blobThreshold: Int = 1 << 20,
          nativeTimestamp: Boolean = false): Info = {
    val slice = RoutedEtl.increment(spark, outDir,
      graft.ros.bag.RosbagDataSource.files(bagPath), "bag_path", "Connections")
    val name = new java.io.File(bagPath).getName
    if (slice.files.isEmpty) Info(name, 0L, 0L, 0L)
    else convert(spark, slice, name, outDir, None, keepRawBlob, blobSideTable,
      blobThreshold, nativeTimestamp)
  }

  /** The rosbag half of the conversion: the chunk-index census, the
    * decoders and the Messages layout; [[RoutedEtl]] does the rest.
    */
  private def convert(spark: SparkSession, slice: RoutedEtl.Slice, bagName: String,
          out: String, maxMessages: Option[Long], keepRawBlob: Boolean,
          blobSideTable: Boolean, blobThreshold: Int, nativeTimestamp: Boolean): Info = {
    require(!blobSideTable || keepRawBlob,
      "blobSideTable requires keepRawBlob=true (there is no blob column to externalize)")
    val r = RoutedEtl.run(spark, out, slice, maxMessages, keepRawBlob, nativeTimestamp,
        if (blobSideTable) Some(blobThreshold) else None) {
      val indexes = graft.ros.bag.RosbagIO.scanIndexes(slice.files)
      // md5 consistency per datatype WITHIN each bag (reference
      // FlattenedRosWriter.cpp:287 asserts per-bag).
      indexes.foreach { case (b, index) =>
        index.connections.groupBy(_.datatype).foreach { case (dt, cs) =>
          require(cs.map(_.md5sum).distinct.size == 1,
            s"datatype $dt has conflicting md5sums across connections in $b")
        }
      }
      // ACROSS bags a datatype may drift (SURVEY §7.4.3: a fleet with a
      // mid-life message-definition change): each (datatype, md5)
      // variant becomes its own table (RoutedEtl.tableNames)
      val defs = indexes.flatMap(_._2.connections.map(c => (c.datatype, c.md5sum) -> c.msgDef))
        .groupBy(_._1).map { case (k, vs) => k -> vs.head._2 }
      val keys = defs.keys.toSeq.sorted
      // Global seqno in merge-time order with storage-order tie-break —
      // rosbag::View semantics (reference rosbag2parquet.cpp:45-52; seqno
      // FlattenedRosWriter.cpp:195,256), bag_path breaking equal-time
      // ties across bags. Numbered inside the scan from the chunk index
      // (RosbagSeqno) whenever the index can do it cheaply.
      val numbering = graft.ros.bag.RosbagSeqno.cheapGroups(indexes)
      logger.info(numbering.fold(
        why => s"seqno: staged spine + Seqno.globalSeqno, because $why",
        gs => s"seqno: numbered in the scan from the chunk index (${gs.size} overlap groups)"))
      // ONE scan relation over the whole bag list (the "bags" option) —
      // not an N-way union, which bloats the analyzer at fleet scale
      val scan = spark.read.format("rosbag")
        .option("bags", graft.ros.ContainerSource.filesSpec(slice.files)).load()
      RoutedEtl.Source(scan,
        // Messages fact table (reference FlattenedRosWriter.cpp:49-87),
        // plus the sensor-time header stamp (nullable; reference TODO
        // rosbag2parquet.cpp:28-30) read in the source from the wire prefix
        messages = Seq("bag_path", "time_sec", "time_nsec", "size", "connection_id",
          "header_stamp_sec", "header_stamp_nsec", "data_crc32").map(col),
        // floor-to-micros. Built with pure NTZ arithmetic (timestampadd
        // on an NTZ epoch literal): a timestamp_micros→NTZ cast would
        // render the instant in the WRITER's session timezone and shift
        // the stored value for any non-UTC session — this form is
        // timezone-independent by construction.
        nativeTime = expr("timestampadd(MICROSECOND, " +
          "cast(time_sec as bigint) * 1000000 + time_nsec div 1000, " +
          "TIMESTAMP_NTZ '1970-01-01 00:00:00')").as("time"),
        order = Seq("time_sec", "time_nsec", "bag_path", "chunk_idx", "offset"),
        identity = Seq("bag_path", "chunk_idx", "offset"),
        indexSeqno = numbering.toOption.map(_ =>
          scan.metadataColumn(graft.ros.bag.RosbagSeqno.Column)),
        // per-type tables: seqno + the flattened payload + connection_id
        // + bag_path [+ data], the columns a typed `rosbag` read decodes
        // (MessageTable.cpp:326-343)
        key = ("bag_path", "connection_id"), tail = Seq("connection_id", "bag_path"),
        raw = Nil,
        variants = keys.map { case (dt, md5) =>
          // reference MessageTable.cpp:315
          RoutedEtl.Variant(dt, md5, dt.replace("/", "_"),
            payloadFields(MsgDefParser.parse(dt, defs((dt, md5)))))
        },
        decoders = keys.indices.map(v => v -> new RosDecoder(keys(v)._1, defs(keys(v)))),
        // (bag_path, connection_id) → route, fixed here from the indexes
        routeOf = indexes.map { case (b, index) =>
          b -> index.connections.map(c => c.connId.toLong -> keys.indexOf((c.datatype, c.md5sum))).toMap
        }.toMap,
        // Connections dimension (reference FlattenedRosWriter.cpp:209-224),
        // keyed (bag_path, connection_id) — connection ids are per-bag
        dimension = RoutedEtl.Dimension("Connections", graft.ros.bag.RosbagTables.ConnectionsSchema,
          indexes.flatMap { case (b, index) => graft.ros.bag.RosbagTables.indexRows(index, b) }))
    }
    Info(bagName, r.count, r.bytes, r.crcXor)
  }

  /** A connection's payload decode, the typed `rosbag` source's: its
    * definition parses once per task.
    */
  private final class RosDecoder(datatype: String, msgDef: String)
      extends RoutedEtl.PayloadDecoder {
    @transient private lazy val bundle = MsgDefParser.parse(datatype, msgDef)
    def decode(data: Array[Byte]): Seq[Any] = RosSchemaMapper.decode(bundle, data)
  }

  /** Write (or in append mode, extend) the run's Vertica DDL script —
    * shared by all three container ETLs (O14).
    */
  private[ros] def writeDdlFile(out: String, ddl: String, append: Boolean): Unit = {
    val ddlPath = new org.apache.hadoop.fs.Path(s"$out/vertica_load_tables.sql")
    val ddlFs = ddlPath.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val priorDdl =
      if (append && ddlFs.exists(ddlPath)) {
        val in = ddlFs.open(ddlPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } else ""
    val os = ddlFs.create(ddlPath, true)
    try os.write((priorDdl + ddl)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Table-name manifest `<out>/_tables.json`: (datatype, md5) → table
    * name, maintained by every run of the three container ETLs so
    * increments keep naming stable.
    * Keys are ROS identifiers + hex digests — no JSON escaping needed.
    */
  private def manifestFsPath(out: String) =
    new org.apache.hadoop.fs.Path(s"$out/_tables.json")
  private[ros] def readManifest(out: String): Map[(String, String), String] = {
    val p = manifestFsPath(out)
    val fs = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val pair = """"([^"]*)\|([^"]*)"\s*:\s*"([^"]*)"""".r
      pair.findAllMatchIn(s).map(m => (m.group(1), m.group(2)) -> m.group(3)).toMap
    }
  }
  private[ros] def writeManifest(out: String, m: Map[(String, String), String]): Unit = {
    val p = manifestFsPath(out)
    val fs = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val body = m.toSeq.sortBy(t => (t._1._1, t._1._2))
      .map { case ((dt, md5), n) => s""""$dt|$md5":"$n"""" }
      .mkString("{", ",", "}")
    val os = fs.create(p, true)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Incremental commit record `<out>/_commit.json`:
    * `{"committed": M, "inflight": [files...]}`. `committed` is the
    * max seqno of the last COMMITTED increment; `inflight` is the file
    * set of an increment currently writing (recorded BEFORE its first
    * data write, cleared -- with the new max -- only AFTER its dimension
    * commit landed). [[repairCrashedIncrement]] reads it to make the
    * steady-state append metadata-only: without it, knowing the
    * committed max required a seqno scan of Messages on EVERY append
    * (driver cost growing with total corpus size -- VERDICT r11 #2).
    * Same regex-parsed flat format as the `_tables.json` manifest.
    */
  private def commitRecordFsPath(out: String) =
    new org.apache.hadoop.fs.Path(s"$out/_commit.json")
  private[ros] def readCommitRecord(out: String): Option[(Long, Seq[String])] =
    try {
      val p = commitRecordFsPath(out)
      val fs = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val com = """"committed"\s*:\s*(-?\d+)""".r.findFirstMatchIn(s)
          .map(_.group(1).toLong)
        // the array body must be cut at the UNQUOTED ']' -- a ']' is
        // legal inside a file path, and `[^\]]*` would truncate there,
        // parsing a non-empty inflight set as empty (a crashed
        // increment would then be mis-repaired as steady state)
        val flight = extractInflightBody(s)
          .map(body => """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(body)
            .map(f => unescapeJson(f.group(1))).toSeq)
        // a half-written/corrupt record must NOT be trusted: None sends
        // the caller down the exact legacy-scan path
        for (c <- com; fl <- flight) yield (c, fl)
      }
    } catch { case _: Throwable => None }
  private[ros] def writeCommitRecord(out: String, committed: Long,
      inflight: Seq[String]): Unit = {
    val p = commitRecordFsPath(out)
    val fs = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val body = s"""{"committed":$committed,"inflight":[""" +
      inflight.map(f => "\"" + escapeJson(f) + "\"").mkString(",") + "]}"
    val os = fs.create(p, true)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }
  /** Substring between `"inflight":[` and its matching UNQUOTED `]`,
    * tracking in-string/escape state so bracket characters inside
    * quoted file paths don't terminate the scan. None when the key is
    * absent or the array is unterminated (half-written record).
    */
  private[ros] def extractInflightBody(s: String): Option[String] = {
    """"inflight"\s*:\s*\[""".r.findFirstMatchIn(s).flatMap { m =>
      var i = m.end
      var inStr = false
      var escaped = false
      var end = -1
      while (i < s.length && end < 0) {
        val c = s.charAt(i)
        if (inStr) {
          if (escaped) escaped = false
          else if (c == '\\') escaped = true
          else if (c == '"') inStr = false
        } else if (c == '"') inStr = true
        else if (c == ']') end = i
        i += 1
      }
      if (end < 0) None else Some(s.substring(m.end, end))
    }
  }
  // full JSON string escaping incl. control characters (shared with the
  // streaming offset logs) -- the minimal quote/backslash pair would
  // emit invalid JSON for a path containing a raw newline
  private def escapeJson(s: String): String =
    graft.ros.ContainerSource.esc(s)
  private def unescapeJson(s: String): String =
    graft.ros.ContainerSource.unesc(s)

  /** Per-part-file (path, min seqno, max seqno) of a table directory,
    * read DRIVER-SIDE from the parquet footers on the bounded
    * [[graft.ros.DriverPool]] -- O(#files) metadata reads, zero row
    * scans, no Spark jobs. Parquet footers store exact min/max column
    * statistics per row group; seqno is a never-null INT64, so the
    * stats are authoritative. Returns None when the table has no
    * seqno column (dimension-shaped table -- nothing to purge) and
    * Left when any footer lacks usable statistics (caller falls back
    * to an exact Spark scan for that table). Zero-row-group files
    * (the empty schema-preserving part written when a purge empties a
    * table) contribute no range.
    */
  private[ros] def footerSeqnoRanges(dir: String)
      : Option[Either[Unit, Seq[(String, Long, Long)]]] = {
    import scala.jdk.CollectionConverters._
    import scala.language.existentials  // parquet's Statistics[_ <: Comparable[_]]
    val conf = graft.ros.bag.RosbagIO.hadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val parts = fs.listStatus(p).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (parts.isEmpty) return Some(Right(Seq.empty))
    // per file: None = no seqno field; Some(Left) = stats missing;
    // Some(Right(None)) = zero rows; Some(Right(Some(range)))
    val perFile = graft.ros.DriverPool.parMap(parts) { st =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val md = rd.getFooter
        if (!md.getFileMetaData.getSchema.containsField("seqno")) None
        else {
          val ranges = md.getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "seqno")
              .flatMap { c =>
                val s = c.getStatistics
                if (s == null || s.isEmpty || !s.hasNonNullValue) None
                else Some((s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                  s.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
              }
          }
          if (ranges.exists(_.isEmpty))
            Some(Left(())): Option[Either[Unit, Option[(String, Long, Long)]]]
          else if (ranges.isEmpty) Some(Right(None))
          else Some(Right(Some((st.getPath.toString,
            ranges.map(_.get._1).min, ranges.map(_.get._2).max))))
        }
      } finally rd.close()
    }
    if (perFile.forall(_.isEmpty)) None          // no seqno column anywhere
    else if (perFile.exists(_.exists(_.isLeft))) Some(Left(()))
    else Some(Right(perFile.flatten.collect { case Right(Some(r)) => r }))
  }

  /** Crash repair for the incremental ETLs (all three containers),
    * run at the START of every incremental append: an increment that
    * died between its data writes and its dimension commit record
    * (Connections / Channels / Topics, written LAST) left rows for
    * undone files in Messages / RawMessages / the per-type tables /
    * the blob side tables. Purging them BEFORE the redo makes the
    * redo exactly-once -- no consumer-side dropDuplicates contract.
    *
    * The purge key is `seqno`, which every data table carries
    * (including the (seqno, data) blob side tables the path column
    * cannot reach): repair runs before every append, so at most ONE
    * dead increment exists, and its seqnos all exceed the committed
    * maximum (the dead offset was committed+1 at its run). Granularity
    * is the part FILE: a dead increment's append jobs wrote part files
    * holding only its own rows, so files with min(seqno) > committed
    * drop outright; a mixed file (possible only if a foreign
    * compaction rewrote the table between crash and redo) falls back
    * to rewriting that table's surviving rows.
    *
    * Steady state is METADATA-ONLY (VERDICT r11 #2): the `_commit.json`
    * record supplies the committed max, and debris detection reads
    * per-file seqno min/max from parquet FOOTERS driver-side
    * ([[footerSeqnoRanges]]) -- a no-crash append launches no Spark job
    * over any historical table. The exact Spark-scan path survives for
    * dirs predating the record, for footers without statistics, and
    * for two inconsistent states the record cannot resolve (dimension
    * table wiped externally; a partially-visible dimension commit).
    * A crash AFTER the dimension write but BEFORE the record finalize
    * shows `inflight` fully inside `done`: that increment committed,
    * so its end is recovered from the Messages footer max and stamped.
    *
    * Returns the committed max -- the redo continues seqnos at max+1,
    * re-using a dead increment's range (dense, collision-free: its
    * old rows are gone).
    */
  private[ros] def repairCrashedIncrement(spark: SparkSession, outDir: String,
      pathCol: String, done: Set[String], dimension: String): Long = {
    recoverRenameAside(outDir)
    readCommitRecord(outDir) match {
      case Some((committed, _)) if done.isEmpty && committed >= 0 =>
        // inconsistent: committed rows imply a non-empty dimension
        // (every message row has a connection). The dimension was
        // wiped outside the protocol -- fall back to the exact scan,
        // which purges everything uncommitted-by-done and lets the
        // caller redo it.
        legacyRepair(spark, outDir, pathCol, done, dimension)
      case Some((committed, inflight)) =>
        val inDone = inflight.count(done)
        if (inflight.nonEmpty && inDone == inflight.size) {
          // crash between the dimension write and the record finalize:
          // the increment landed whole. Its end is the Messages footer
          // max (repair ran before it started, so no older debris).
          val m = footerSeqnoRanges(s"$outDir/Messages.parquet") match {
            case Some(Right(rs)) if rs.nonEmpty => rs.map(_._3).max
            case Some(Right(_)) => -1L
            case _ =>
              val r = spark.read.parquet(s"$outDir/Messages.parquet")
                .agg(max(col("seqno"))).head()
              if (r.isNullAt(0)) -1L else r.getLong(0)
          }
          writeCommitRecord(outDir, m, Nil)
          m
        } else if (inflight.nonEmpty && inDone > 0) {
          // partially-visible dimension commit (non-atomic multi-file
          // commit observed mid-window) -- exact scan resolves it
          legacyRepair(spark, outDir, pathCol, done, dimension)
        } else {
          // steady state (inflight empty) or a dead increment
          // (inflight fully absent from done): any row above
          // `committed` is debris. Footer-verified on every append --
          // metadata-only when clean.
          purgeAbove(spark, outDir, dimension, committed)
          writeCommitRecord(outDir, committed, Nil)
          committed
        }
      case None =>
        legacyRepair(spark, outDir, pathCol, done, dimension)
    }
  }

  /** The data-table directories of an ETL output (everything but the
    * dimension commit record).
    */
  private def dataTableDirs(fs: org.apache.hadoop.fs.FileSystem,
      outPath: org.apache.hadoop.fs.Path, dimension: String): Seq[String] =
    fs.listStatus(outPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.endsWith(".parquet") &&
        s.getPath.getName != s"$dimension.parquet")
      .map(_.getPath.toString).sorted

  /** Delete dead part files / rewrite a mixed table so no row with
    * seqno > maxClean survives, given the per-file (path, min, max)
    * ranges. A purge that would empty the table preserves its SCHEMA
    * (one empty part file) instead: a bare directory bricks every
    * later `spark.read.parquet` with "unable to infer schema"
    * (ADVICE r11), and in incremental mode the dimension may still
    * list done files, so a silent directory delete would send the
    * next run down the bootstrap path into an ErrorIfExists failure.
    */
  private def purgeWithRanges(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, maxClean: Long,
      ranges: Seq[(String, Long, Long)]): Unit = {
    val dead = ranges.filter(_._2 > maxClean)
    val mixed = ranges.exists(r => r._2 <= maxClean && r._3 > maxClean)
    if (mixed) rewriteTableBelow(spark, fs, dir, maxClean)
    else if (dead.nonEmpty) {
      val emptied = dead.size == ranges.size
      val schema = if (emptied) Some(spark.read.parquet(dir).schema) else None
      dead.foreach { r =>
        // a silent delete no-op would leave dead seqnos to collide with
        // the redo's range -- fail loudly like rewriteTableBelow's renames
        require(fs.delete(new org.apache.hadoop.fs.Path(r._1), false),
          s"repair: delete failed for ${r._1}")
      }
      schema.foreach { sc =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(Seq.empty[Row], 1), sc)
          .write.mode(SaveMode.Overwrite)
          .option("compression", "snappy").parquet(dir)
      }
    }
  }

  /** Rewrite a table keeping only rows with seqno <= maxClean -- the
    * mixed-file fallback. Promotion is rename-ASIDE, never
    * delete-then-rename: a crash between a delete and the promoting
    * rename would lose the whole table (ADVICE r11); with the aside
    * dance every crash window leaves either the original or the
    * rewrite recoverable ([[recoverRenameAside]]).
    */
  private def rewriteTableBelow(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, maxClean: Long): Unit = {
    val dp = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__repair")
    val aside = new org.apache.hadoop.fs.Path(dir + "__old")
    spark.read.parquet(dir).filter(col("seqno") <= maxClean)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "snappy").parquet(tmp.toString)
    fs.delete(aside, true)
    require(fs.rename(dp, aside), s"repair: rename aside failed for $dir")
    require(fs.rename(tmp, dp), s"repair: promote failed for $dir")
    fs.delete(aside, true)
    ()
  }

  /** Recover from a crash inside [[rewriteTableBelow]]'s swap: a
    * `X.parquet__old` with no `X.parquet` means the promote rename
    * never ran -- restore the original (the rewrite is a pure filter of
    * it, so redoing the repair is idempotent). Leftover `__repair` /
    * `__old` dirs next to a live table are stale scratch and drop.
    */
  private def recoverRenameAside(outDir: String): Unit = {
    val conf = graft.ros.bag.RosbagIO.hadoopConf()
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(conf)
    if (!fs.exists(outPath)) return
    fs.listStatus(outPath).toSeq.filter(_.getPath.getName.endsWith("__old"))
      .foreach { s =>
        val base = new org.apache.hadoop.fs.Path(
          s.getPath.toString.stripSuffix("__old"))
        if (!fs.exists(base)) { fs.rename(s.getPath, base); () }
        else { fs.delete(s.getPath, true); () }
      }
    fs.listStatus(outPath).toSeq.filter(_.getPath.getName.endsWith("__repair"))
      .foreach { s => fs.delete(s.getPath, true); () }
  }

  /** Metadata-only debris purge: every data table's per-file seqno
    * ranges come from parquet footers; rows above `maxClean` are
    * purged. Tables whose footers lack statistics fall back to an
    * exact per-table Spark scan.
    */
  private def purgeAbove(spark: SparkSession, outDir: String,
      dimension: String, maxClean: Long): Unit = {
    val conf = graft.ros.bag.RosbagIO.hadoopConf()
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(conf)
    dataTableDirs(fs, outPath, dimension).foreach { dir =>
      footerSeqnoRanges(dir) match {
        case None => ()                        // no seqno column: skip
        case Some(Right(ranges)) =>
          purgeWithRanges(spark, fs, dir, maxClean, ranges)
        case Some(Left(_)) =>                  // stats missing: exact scan
          purgeWithRanges(spark, fs, dir, maxClean, scanSeqnoRanges(spark, dir))
      }
    }
  }

  /** Exact per-file seqno ranges via a Spark scan -- the fallback when
    * footers carry no statistics, and the legacy path's workhorse.
    */
  private def scanSeqnoRanges(spark: SparkSession, dir: String)
      : Seq[(String, Long, Long)] =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("__part"))
      .agg(min(col("seqno")).as("__mn"), max(col("seqno")).as("__mx"))
      .collect()
      .map(r => (decodeFileName(r.getString(0)),
        r.getAs[Long]("__mn"), r.getAs[Long]("__mx")))
      .toSeq

  /** `input_file_name()` yields a URI-ENCODED string (space as `%20`,
    * `%` as `%25`...); `new Path(string)` does NOT decode percent
    * escapes, so deleting by the raw value targets a non-existent
    * literal path. Round-trip through java.net.URI to recover the
    * filesystem path the footers/listings would report.
    */
  private def decodeFileName(name: String): String =
    try new org.apache.hadoop.fs.Path(new java.net.URI(name)).toString
    catch { case _: java.net.URISyntaxException => name }

  /** The pre-record exact repair: derives the committed max from the
    * dimension's done-set with full scans (the r10 behavior), then
    * stamps a commit record so the NEXT append takes the metadata-only
    * path. Also the escape hatch for the record-inconsistent states.
    */
  private def legacyRepair(spark: SparkSession, outDir: String,
      pathCol: String, done: Set[String], dimension: String): Long = {
    val conf = graft.ros.bag.RosbagIO.hadoopConf()
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(conf)
    val messages = spark.read.parquet(s"$outDir/Messages.parquet")
    val msgFiles = messages.select(col(pathCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val undone = msgFiles -- done
    val maxClean: Long = {
      val clean =
        if (undone.isEmpty) messages
        else messages.filter(!col(pathCol).isin(undone.toSeq.sorted: _*))
      val r = clean.agg(max(col("seqno"))).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    dataTableDirs(fs, outPath, dimension).foreach { dir =>
      val t = spark.read.parquet(dir)
      if (t.columns.contains("seqno"))
        purgeWithRanges(spark, fs, dir, maxClean, scanSeqnoRanges(spark, dir))
    }
    writeCommitRecord(outDir, maxClean, Nil)
    maxClean
  }

  /** Per-table result of [[compact]]. `rewritten = false` means the
    * table was already at or under its target file count and was left
    * untouched.
    */
  final case class CompactStat(table: String, filesBefore: Int,
      filesAfter: Int, bytes: Long, rewritten: Boolean)

  /** Small-file compaction for an ETL output directory — the table
    * maintenance a fleet-ingest corpus needs. Every `runIncremental`
    * call and every streaming trigger APPENDS files; a year of daily
    * increments leaves thousands of tiny parquet files per table, and
    * at 100 TB the scan planner then drowns in per-file overhead
    * (footer reads, task scheduling, row groups far below the HDFS
    * block size). This is the table-lifecycle generalization of the
    * reference's row-group sizing discipline (TableBuffer.cpp:149-174
    * buffers rows until a target byte size before cutting a row
    * group): rewrite each table's files so each is ~`targetFileBytes`.
    *
    * Semantics preserved:
    *  - rows are IDENTICAL before and after (pure file re-layout);
    *  - tables carrying `seqno` are range-partitioned and sorted by it,
    *    so file k holds a contiguous seqno range below file k+1 — the
    *    storage order consumers (and parquet min/max pruning on seqno)
    *    rely on;
    *  - the `_tables.json` manifest, Vertica DDL and incremental
    *    done-set are untouched — a subsequent `runIncremental` appends
    *    exactly as before;
    *  - the incremental commit record (Connections / Channels /
    *    Topics, per layout) is compacted LAST — belt-and-braces on top
    *    of the per-table swap recovery: if compaction dies midway, the
    *    commit record still matches some fully-converted state.
    *
    * Crash safety: each table swaps via rename — new files land in
    * `.compact_tmp/<table>`, the live table moves to
    * `.compact_trash/<table>`, the tmp moves into place, the trash is
    * dropped. A recovery preamble on the NEXT compact restores any
    * table stranded in trash (live missing) and clears stale tmp
    * output, so every crash window is recoverable and never loses
    * rows. Run it as the single maintainer of the directory — not
    * concurrently with an in-flight increment or streaming query
    * writing the same tables (same discipline every table-maintenance
    * system requires).
    */
  def compact(spark: SparkSession, outDir: String,
      targetFileBytes: Long = 128L << 20): Seq[CompactStat] = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    import org.apache.hadoop.fs.Path
    val root = new Path(outDir)
    val fs = root.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    require(fs.exists(root), s"no such ETL output dir: $outDir")
    val tmpRoot = new Path(root, ".compact_tmp")
    val trashRoot = new Path(root, ".compact_trash")

    // recovery preamble: a prior compact may have died between swap
    // renames — a table sitting in trash with no live counterpart IS
    // the live data; restore it. Tmp output is always incomplete
    // (the swap starts only after a successful write) — drop it.
    if (fs.exists(trashRoot)) {
      fs.listStatus(trashRoot).foreach { st =>
        val live = new Path(root, st.getPath.getName)
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live), s"recovery rename failed for ${st.getPath}")
      }
      fs.delete(trashRoot, true)
    }
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)

    def dataFiles(table: Path) = fs.listStatus(table).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

    val tables = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    val commitRecordNames =
      Set("Connections.parquet", "Channels.parquet", "Topics.parquet")
    val (commitRecs, others) = tables.partition(p => commitRecordNames(p.getName))
    try {
      (others ++ commitRecs).toSeq.map { table =>
        val name = table.getName
        // a streaming parquet SINK dir is transactional (_spark_metadata
        // log lists the valid files) — rewriting files under it would
        // corrupt the log. Compact applies to BagEtl table layouts only.
        require(!fs.exists(new Path(table, "_spark_metadata")),
          s"$name has a _spark_metadata streaming-sink log; compact would corrupt it")
        val before = dataFiles(table)
        val bytes = before.map(_.getLen).sum
        val targetFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        if (before.length <= targetFiles)
          CompactStat(name, before.length, before.length, bytes, rewritten = false)
        else {
          val df = spark.read.parquet(table.toString)
          val relaid =
            if (df.columns.contains("seqno"))
              df.repartitionByRange(targetFiles, col("seqno"))
                .sortWithinPartitions("seqno")
            else if (df.columns.contains("bag_path") && df.columns.contains("connection_id"))
              df.repartitionByRange(targetFiles, col("bag_path"), col("connection_id"))
                .sortWithinPartitions("bag_path", "connection_id")
            else df.repartition(targetFiles)
          val tmp = new Path(tmpRoot, name)
          relaid.write.mode(SaveMode.ErrorIfExists)
            .option("compression", "snappy").parquet(tmp.toString)
          val trash = new Path(trashRoot, name)
          fs.mkdirs(trashRoot)
          require(fs.rename(table, trash), s"compact swap-out rename failed for $name")
          require(fs.rename(tmp, table), s"compact swap-in rename failed for $name")
          fs.delete(trash, true)
          CompactStat(name, before.length, dataFiles(table).length, bytes, rewritten = true)
        }
      }
    } finally {
      fs.delete(tmpRoot, true)
      if (fs.exists(trashRoot) && fs.listStatus(trashRoot).isEmpty)
        fs.delete(trashRoot, true)
    }
  }

  /** A type's flattened payload columns as the typed `rosbag` source
    * names them: payload fields colliding with a reserved frame column
    * (e.g. sensor_msgs/CompressedImage's `data` — the reference never
    * hits this because it drops arrays) get a `_field` suffix.
    */
  private def payloadFields(bundle: RosMsgBundle): Seq[StructField] =
    RosbagTypedRead.typedSchema(bundle, includeRaw = false).fields.toSeq
      .drop(RosbagTypedRead.MetaFields.size)

  /** Flattened per-type DataFrame from (seqno, connection_id, data)
    * rows: seqno + flattened payload columns + connection_id + raw data
    * blob (column frame per reference MessageTable.cpp:326-343; blob
    * retention README.md:106).
    */
  def decodeRows(spark: SparkSession, part: DataFrame, bundle: RosMsgBundle): DataFrame = {
    val outSchema = StructType(
      StructField("seqno", LongType, nullable = false) +:
      (payloadFields(bundle) :+
        StructField("connection_id", IntegerType, nullable = false) :+
        StructField("bag_path", StringType, nullable = false) :+
        StructField("data", BinaryType, nullable = false)))
    val rows = part
      .select(col("seqno"), col("connection_id"), col("bag_path"), col("data"))
      .rdd.map { r =>
        val seqno = r.getLong(0)
        val connId = r.getInt(1)
        val bag = r.getString(2)
        val bytes = r.getAs[Array[Byte]](3)
        val vals = RosSchemaMapper.decode(bundle, bytes)
        Row.fromSeq(seqno +: (vals :+ connId :+ bag :+ bytes))
      }
    spark.createDataFrame(rows, outSchema)
  }
}

/** Parquet/Spark schema → Vertica DDL (reference utils.h:99-136
  * GetVerticaType; loader script visible in README.md:100).
  */
object VerticaDdl {
  def verticaType(dt: DataType): String = dt match {
    case BooleanType => "BOOLEAN"
    case IntegerType | LongType | ShortType | ByteType => "INTEGER"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE PRECISION"
    case StringType => "VARCHAR(65000)"
    case BinaryType => "LONG VARBINARY(10485760)"
    case _: ArrayType | _: StructType => "LONG VARBINARY(10485760)"  // opaque
    case other => throw new IllegalArgumentException(s"no Vertica mapping for $other")
  }

  def createTable(name: String, schema: StructType): String = {
    val cols = schema.fields.map(f => s"  ${f.name} ${verticaType(f.dataType)}")
      .mkString(",\n")
    s"CREATE TABLE $name (\n$cols\n);"
  }
}
