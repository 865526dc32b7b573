package graft.ros

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fleet-scale `ros2 bag convert` / `rosbag filter`: normalize a
  * MIXED container directory (or any frame carrying the mixed spine's
  * `topic`/`type`/`timestamp`/`data` columns) into ONE target format,
  * optionally transformed relationally in between.
  *
  * ```scala
  * // archive a mixed upload prefix as one queryable mcap fleet
  * Convert.run(spark, "/uploads/robot7", "/archive/robot7", "mcap",
  *   transform = _.filter(col("topic") =!= "/camera/raw"))
  * ```
  *
  * The read side is [[MixedRead.spine]] (catalog pruning, filter
  * pushdown and metadata aggregation intact per format); the write
  * side is the target's DSv2 sink, so the plan is scan → optional
  * transform → one layout exchange → embarrassingly-parallel encode.
  * Message payloads pass through byte-exact; the TIMESTAMP convention
  * is normalized to nanoseconds by the spine and re-encoded per
  * target ((sec, nsec) receipt pairs for rosbag1).
  *
  * Output LAYOUT: the default (`layout = "time"`) range-partitions on
  * the message timestamp and sorts within partitions, so each output
  * file — and each chunk inside it — covers a tight, disjoint time
  * range. That is what makes the sinks' own index artifacts (mcap
  * ChunkIndex, rosbag ChunkInfo, db3 metadata.yaml ranges) PRUNE on
  * the converted archive: a time-range query over a 100 TB normalized
  * fleet reads only the overlapping chunks. `layout = "roundrobin"`
  * (`repartition(n)`) balances bytes perfectly but smears every
  * chunk's min/max across the whole corpus — time-range reads then
  * re-scan everything; use it only when downstream never filters on
  * time.
  *
  * Schema/connection DEFINITIONS are harvested from the SOURCE
  * containers automatically (mcap Schema records, db3
  * `message_definitions` rows, bag connection records — see
  * [[DefsHarvest]]) and embedded in the target, so typed readers can
  * decode the converted archive with no extra options for same-dialect
  * transfers. Pass the sink's `schema_defs_from`/`conn_defs_from`
  * explicitly to override (explicit paths harvest STRICTLY: a
  * definition the target dialect cannot represent fails loudly;
  * the automatic harvest carries the representable subset).
  */
object Convert {
  /** Conform a mixed-spine frame to `format`'s write spine. The
    * spine's `encoding` column (each source dialect's wire
    * serialization — "cdr", "protobuf", "ros1") labels the target's
    * channels so typed consumers dispatch correctly.
    *
    * rosbag1 has no per-connection encoding field — everything in a
    * `.bag` is ros1 serialization. Converting cdr/protobuf payloads
    * INTO a bag therefore produces a container rosbag tooling can
    * list but never decode; `prepare` refuses such rows loudly unless
    * `allowForeignEncoding` opts in (spine-level consumers can still
    * read the bytes back).
    */
  def prepare(df: DataFrame, format: String,
      allowForeignEncoding: Boolean = false): DataFrame = {
    def c(n: String): Column = col(n)
    val hasEnc = df.columns.contains("encoding")
    val enc: Column = if (hasEnc) c("encoding") else lit("cdr")
    format match {
      case "mcap" => mcap.McapExport.prepare(df,
        topic = c("topic"), logTimeNs = c("timestamp"), data = c("data"),
        schemaName = c("type"), messageEncoding = enc,
        // the spine carries mcap's second clock and per-channel
        // counter (null for bag/db3 sources) — an mcap→mcap convert
        // must not flatten them into log_time / 0
        publishTimeNs =
          if (df.columns.contains("publish_time")) c("publish_time") else null,
        sequence = if (df.columns.contains("sequence")) c("sequence") else null,
        // the row's source file feeds the sink's late-binding defs
        // fallback: a type first landing MID-STREAM still exports with
        // its real definition (SourceDefs)
        sourcePath =
          if (df.columns.contains("file_path")) c("file_path") else null)
      case "rosbag" =>
        val payload =
          if (!hasEnc || allowForeignEncoding) c("data")
          else when(c("encoding") === lit("ros1"), c("data"))
            .otherwise(raise_error(concat(
              lit("rosbag is a ros1-serialization container but this row " +
                "carries a '"), c("encoding"),
              lit("'-encoded payload (topic "), c("topic"),
              lit("): rosbag tooling could not decode the output and this " +
                "engine does not re-serialize across dialects — set " +
                "allow_foreign_encoding=true to embed the bytes anyway " +
                "(spine-level reads only)"))))
        bag.BagExport.prepare(df,
          topic = c("topic"), timeNs = c("timestamp"), data = payload,
          datatype = c("type"),
          // the row's source file feeds the sink's late-binding conn
          // defs (SourceDefs.ros1ConnFor): types first landing
          // MID-STREAM export with a real definition + genuine md5
          sourcePath =
            if (df.columns.contains("file_path")) c("file_path") else null)
      case "db3" => db3.Db3Export.prepare(df,
        topic = c("topic"), timestampNs = c("timestamp"), data = c("data"),
        tpe = c("type"), serializationFormat = enc,
        // late-binding defs for types first landing mid-stream
        sourcePath =
          if (df.columns.contains("file_path")) c("file_path") else null)
      case other => throw new IllegalArgumentException(
        s"unknown target container format '$other' (mcap | rosbag | db3)")
    }
  }

  /** The prepared frame's message-time columns, in sort-significance
    * order — what the "time" layout ranges and sorts on.
    */
  private def timeCols(format: String): Seq[Column] = format match {
    case "mcap" => Seq(col("log_time"))
    case "rosbag" => Seq(col("time_sec"), col("time_nsec"))
    case "db3" => Seq(col("timestamp"))
    case other => throw new IllegalArgumentException(
      s"unknown target container format '$other' (mcap | rosbag | db3)")
  }

  private def applyLayout(prepared: DataFrame, format: String,
      partitions: Int, layout: String): DataFrame = layout match {
    case "time" =>
      val ts = timeCols(format)
      val ranged =
        if (partitions > 0) prepared.repartitionByRange(partitions, ts: _*)
        else prepared
      ranged.sortWithinPartitions(ts: _*)
    case "roundrobin" =>
      if (partitions > 0) prepared.repartition(partitions) else prepared
    case other => throw new IllegalArgumentException(
      s"unknown layout '$other' (time | roundrobin)")
  }

  private[ros] def defsOptionName(format: String): String =
    if (format == "rosbag") "conn_defs_from" else "schema_defs_from"

  /** The Convert-consumed options (not forwarded to the sink). */
  private val ConvertOnly =
    Set("allow_foreign_encoding", "carry_attachments", "target_file_mb",
      "transcode")

  /** Parse the `transcode` option: "off" (default — payloads pass
    * through byte-exact), "strict" (alias "true" — every ros1 row
    * re-encodes as CDR, untranslatable definitions fail loudly) or
    * "auto" (translatable rows re-encode, the rest byte-embed under
    * their original encoding).
    */
  private def transcodeMode(options: Map[String, String]): String =
    options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("transcode") => v.toLowerCase
    } match {
      case None | Some("false") | Some("off") => "off"
      case Some("true") | Some("strict") => "strict"
      case Some("auto") => "auto"
      case Some(other) => throw new IllegalArgumentException(
        s"transcode must be off | auto | strict (true), got '$other'")
    }

  /** Merge our inline defs with (never override) a caller-passed
    * channel of the same name.
    */
  private def mergedInline(optName: String,
      mine: Seq[DefsHarvest.TypeDef],
      options: Map[String, String]): Map[String, String] =
    if (mine.isEmpty) Map.empty
    else {
      val encoded = DefsHarvest.encodeInline(mine)
      val user = options.collectFirst {
        case (k, v) if k.equalsIgnoreCase(optName) => v
      }
      Map(optName -> user.map(u => u + "\n" + encoded).getOrElse(encoded))
    }

  private def reportFailures(failures: Map[String, String], mode: String,
      inPath: String, toDialect: String, embedHint: String): Unit =
    if (failures.nonEmpty) {
      val detail = failures.toSeq.sortBy(_._1).take(5)
        .map { case (n, m) => s"$n: $m" }.mkString("; ")
      if (mode == "strict") throw new IllegalArgumentException(
        s"transcode: ${failures.size} definition(s) under $inPath " +
          s"do not translate to $toDialect ($detail) — fix the " +
          s"definitions or pass transcode=auto$embedHint")
      logger.warn(s"transcode: ${failures.size} definition(s) under " +
        s"$inPath do not translate to $toDialect and pass through ($detail)")
    }

  /** Resolve the transcode plan for `inPath` and rewrite `spine`'s
    * foreign-dialect rows toward the TARGET's serialization:
    * ros1 → CDR for mcap/db3 targets ([[Transcode.toCdr]]),
    * cdr → ros1 for rosbag targets ([[Transcode.toRos1]] — what turns
    * the bag's foreign-encoding refusal into a fallback; the
    * translated definitions carry GENUINE genmsg md5sums). Returns the
    * rewritten frame, the sink options feeding the translated
    * definitions into the target's defs channel, and (mcap targets)
    * whether every harvested ros1 definition translated — the profile
    * choice.
    */
  private def applyTranscode(spine: DataFrame, mode: String, format: String,
      inPath: String, options: Map[String, String] = Map.empty)
      : (DataFrame, Map[String, String], Boolean) = {
    if (mode == "off") return (spine, Map.empty, false)
    // a USER-pinned defs channel (explicit schema_defs_from /
    // conn_defs_from) is channel-first by the sinks' contract unless
    // defs_priority=file — the transcode re-encode path honors the
    // same pin instead of always resolving per-file (a file carrying
    // a stale definition must not override the pinned truth)
    val pinnedPath = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase(defsOptionName(format)) => v
    }
    val channelFirst = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("defs_priority") => v.toLowerCase
    } match {
      case Some("file") => false
      case Some("channel") => true
      case _ => pinnedPath.isDefined
    }
    format match {
      case "mcap" | "db3" =>
        val (entries, failures) = Transcode.plan(inPath)
        val (pEntries, pFailures) = Transcode.planProto(inPath)
        // a user-PINNED channel resolves names the archive itself
        // cannot (divergent/empty definitions) — that is what pinning
        // is FOR, so a pin-covered name is not a plan failure: strict
        // must not refuse it and auto's profile claim counts it as
        // translated (the UDF consults the pin before everything)
        val pinned =
          if (channelFirst)
            pinnedPath.map(Transcode.pinnedEntries).getOrElse(Map.empty)
          else Map.empty[String, Transcode.Entry]
        val pinnedProto =
          if (channelFirst)
            pinnedPath.map(Transcode.pinnedProtoEntries).getOrElse(Map.empty)
          else Map.empty[String, Transcode.ProtoEntry]
        val unresolved = (failures -- pinned.keys) ++
          (pFailures -- pinnedProto.keys)
        reportFailures(unresolved, mode, inPath, "ros2msg",
          " to embed those rows under their original encoding")
        (Transcode.toCdr(spine, entries, strict = mode == "strict", pinned,
          pEntries, pinnedProto),
          mergedInline("schema_defs_inline",
            Transcode.inlineDefs((entries ++ pinned).values) ++
              Transcode.inlineProtoDefs((pEntries ++ pinnedProto).values),
            options),
          unresolved.isEmpty)
      case "rosbag" =>
        val (entries, failures) = Transcode.planToRos1(inPath)
        val (pEntries, pFailures) = Transcode.planProtoToRos1(inPath)
        val pinned =
          if (channelFirst)
            pinnedPath.map(Transcode.pinnedRos1Entries).getOrElse(Map.empty)
          else Map.empty[String, Transcode.Ros1Entry]
        val pinnedProto =
          if (channelFirst)
            pinnedPath.map(Transcode.pinnedProtoRos1Entries).getOrElse(Map.empty)
          else Map.empty[String, Transcode.ProtoRos1Entry]
        reportFailures((failures -- pinned.keys) ++
            (pFailures -- pinnedProto.keys),
          mode, inPath, "ros1msg",
          " (with allow_foreign_encoding=true) to embed those rows " +
            "as foreign bytes")
        (Transcode.toRos1(spine, entries, strict = mode == "strict", pinned,
          pEntries, pinnedProto),
          mergedInline("conn_defs_inline",
            Transcode.inlineRos1Defs((entries ++ pinned).values) ++
              Transcode.inlineProtoRos1Defs((pEntries ++ pinnedProto).values),
            options),
          false)
      case other => throw new IllegalArgumentException(
        s"transcode targets mcap | db3 | rosbag, not '$other'")
    }
  }

  /** Parse `target_file_mb`, naming the option in every failure. */
  private def targetFileMb(options: Map[String, String]): Option[Long] =
    options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("target_file_mb") =>
        val mb = try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"target_file_mb must be a positive integer MB count, got '$v'")
        }
        require(mb > 0, s"target_file_mb must be positive, got $mb")
        mb
    }

  /** ceil(inputBytes / target), clamped LOUDLY: a count past Int range
    * would wrap and silently skip the repartition.
    */
  private[ros] def partitionsFor(inputBytes: Long, mb: Long): Int = {
    val n = math.max(1L, (inputBytes + mb * 1000000L - 1) / (mb * 1000000L))
    require(n <= Int.MaxValue,
      s"target_file_mb=$mb on $inputBytes input bytes needs $n output " +
        "files — beyond Spark's partition count; raise target_file_mb")
    n.toInt
  }

  private def boolOpt(options: Map[String, String], name: String,
      default: Boolean = false): Boolean =
    options.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => java.lang.Boolean.parseBoolean(v)
    }.getOrElse(default)

  private val logger = org.slf4j.LoggerFactory.getLogger(Convert.getClass)

  /** Auto-wire the target sink's definitions channel to the SOURCE
    * path when the caller did not: the sources already carry the
    * definitions, and a converted archive only spine-level consumers
    * can decode typed is a day-one defect for every typed consumer.
    * The automatic harvest is best-effort (`foreign_defs=skip`): a
    * definition the target dialect cannot represent is dropped, never
    * fatal — an EXPLICIT defs path keeps the strict default.
    */
  private def autoDefs(options: Map[String, String], format: String,
      inPath: String): Map[String, String] = {
    val optName = defsOptionName(format)
    // the AUTO-wired channel is a convenience, not a user pin — each
    // row's own source file stays the definition authority (divergent
    // same-named definitions across a fleet keep their per-file
    // truth); an EXPLICIT defs path keeps the sinks' channel-first
    // default, and a user-set defs_priority always wins. db3 has no
    // per-row late binding (its message_definitions table is
    // plan-level per type) — don't emit an inert option there
    val priority =
      if (format == "db3" ||
          options.keys.exists(_.equalsIgnoreCase("defs_priority")))
        Map.empty[String, String]
      else Map("defs_priority" -> "file")
    if (options.keys.exists(_.equalsIgnoreCase(optName))) Map.empty
    else if (options.keys.exists(_.equalsIgnoreCase("foreign_defs")))
      // the user pinned the dialect policy (e.g. foreign_defs=error to
      // make even the automatic harvest strict) — honor it
      Map(optName -> inPath) ++ priority
    else Map(optName -> inPath, "foreign_defs" -> "skip") ++ priority
  }

  /** The mcap header profile, derived from the SOURCES' message
    * encodings when the caller didn't pick one: "ros2" is only
    * conformant when every channel is cdr, so a corpus carrying
    * protobuf or ros1 payloads exports under the spec's "" (no
    * profile) instead — conformance checkers would reject a
    * ros2-profile file with non-cdr channels. With `transcoded`
    * (every harvested ros1 AND protobuf definition translated and
    * transcode is on), both count as cdr — those rows re-encode
    * before the sink sees them.
    *
    * Derivation is METADATA-ONLY (one cached index sweep, no data
    * scan), so it reflects the SOURCES, not the `transform`'s output:
    * a transform that unions in rows of another encoding must pass
    * `profile` explicitly or the header may overclaim.
    */
  private def autoProfile(options: Map[String, String], format: String,
      inPath: String, transcoded: Boolean = false): Map[String, String] =
    if (format != "mcap" || options.keys.exists(_.equalsIgnoreCase("profile")))
      Map.empty
    else {
      val encs0 = DefsHarvest.messageEncodings(inPath)
      val encs =
        if (transcoded)
          encs0.map(e => if (e == "ros1" || e == "protobuf") "cdr" else e)
        else encs0
      Map("profile" -> (if (encs.nonEmpty && encs.forall(_ == "cdr")) "ros2"
        else ""))
    }

  /** Read `inPath` as a mixed spine, apply `transform`, write
    * `format` containers to `outPath`. `partitions` > 0 controls the
    * output file count (one container file per partition — size for
    * the target filesystem, not for the input's layout); with
    * `partitions = 0`, option `target_file_mb` derives the count from
    * the SOURCE bytes (ceil(inputBytes / target) — a 100 TB corpus
    * with target_file_mb=512 plans ~200k files without the caller
    * pre-counting bytes; compression makes actual files smaller, a
    * conservative direction for file-count limits). The estimate is
    * PRE-`transform`: a selective transform (keep 1% of rows) still
    * plans the full-source file count, each file near-empty — callers
    * filtering heavily should pass `partitions` explicitly (and
    * [[compact]] repairs an archive after the fact). `layout` picks
    * how rows land in those files ("time", the default, clusters and
    * sorts by message time so the output's own chunk indexes prune
    * time-range reads; "roundrobin" balances bytes but destroys time
    * locality).
    *
    * Source mcap ATTACHMENTS and METADATA records (calibration blobs,
    * URDFs, run descriptions) carry over into one `attachments.mcap`
    * alongside the converted files (zero messages — the side-table
    * reads list it with the rest of the directory), streamed one
    * record at a time so driver memory is bounded by the largest
    * attachment. Silently dropping them would lose exactly the data a
    * re-calibration needs, so non-mcap targets get the SAME file as a
    * SIDECAR next to the `.bag`/`.db3` output (their own formats
    * cannot represent the records; `option("table", "attachments")`
    * on the output directory reads them back). Option
    * `carry_attachments=false` opts out.
    */
  def run(spark: SparkSession, inPath: String, outPath: String,
      format: String, partitions: Int = 0,
      transform: DataFrame => DataFrame = identity,
      options: Map[String, String] = Map.empty,
      mode: String = "append", layout: String = "time"): Unit = {
    val spine0 = transform(MixedRead.spine(spark, inPath))
    val (spine, transcodeDefs, allTranscoded) =
      applyTranscode(spine0, transcodeMode(options), format, inPath, options)
    val prepared = prepare(spine, format,
      allowForeignEncoding = boolOpt(options, "allow_foreign_encoding"))
    val effParts =
      if (partitions > 0) partitions
      else targetFileMb(options).map { mb =>
        val inputBytes = DriverPool.totalBytes(
          MixedRead.resolve(inPath).values.flatten.toSeq,
          graft.ros.bag.RosbagIO.hadoopConf())
        partitionsFor(inputBytes, mb)
      }.getOrElse(0)
    val sized = applyLayout(prepared, format, effParts, layout)
    // a user-spelled inline-defs option was MERGED into transcodeDefs
    // — its original key must not survive alongside (case-insensitive
    // last-wins at the sink would let the unmerged value shadow it)
    val sinkOpts = options.filterNot(kv => ConvertOnly(kv._1.toLowerCase) ||
        transcodeDefs.keys.exists(_.equalsIgnoreCase(kv._1))) ++
      autoDefs(options, format, inPath) ++
      autoProfile(options, format, inPath, allTranscoded) ++ transcodeDefs
    sinkOpts.foldLeft(sized.write.format(format).mode(mode)) {
      case (w, (k, v)) => w.option(k, v)
    }.save(outPath)
    if (boolOpt(options, "carry_attachments", default = true)) {
      val n = carryAttachments(inPath, outPath)
      if (n > 0 && format != "mcap") logger.info(
        s"convert: a '$format' container cannot represent the sources' " +
          s"$n attachment/metadata record(s) — carried into the sidecar " +
          s"$outPath/attachments.mcap instead " +
          "(option(\"table\", \"attachments\") reads it back)")
    }
  }

  // ---- attachment / metadata carry ----

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Identity of one attachment, computed the SAME way regardless of
    * whether the source record stored a spec crc: the content crc is
    * always over the data bytes alone, so the same logical attachment
    * harvested from a crc'd file and a non-crc'd one dedupes to one
    * copy.
    */
  private def attachmentKey(a: mcap.McapFormat.McapAttachment): String = {
    val c = new java.util.zip.CRC32()
    c.update(a.data, 0, a.data.length)
    Seq("A", a.logTime, a.createTime, a.data.length, c.getValue,
      b64(a.name), b64(a.mediaType)).mkString("\t")
  }

  private def metadataKey(name: String, kv: Seq[(String, String)]): String =
    ("M" +: b64(name) +: kv.flatMap(p => Seq(b64(p._1), b64(p._2))))
      .mkString("\t")

  /** The merge ledger next to `attachments.mcap`: which SOURCE files
    * are fully merged (so an append re-run skips them without reading
    * a byte of their bodies) and which record identities the archive
    * holds. A cache, not truth — absent or stale (`attachments.mcap`
    * missing), the identities re-derive from the archive itself.
    */
  private final case class CarryLedger(files: Set[String], keys: Set[String])

  private def fileFingerprint(fs: org.apache.hadoop.fs.FileSystem,
      path: String): String = {
    val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(path))
    s"${b64(path)}\t${st.getModificationTime}\t${st.getLen}"
  }

  private val LedgerHeader = "graft-attachments-idx v1"

  private def readLedger(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[CarryLedger] =
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      val text = try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 1 << 16, false)
        new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      val lines = text.linesIterator.toSeq
      require(lines.headOption.contains(LedgerHeader), "ledger version drift")
      CarryLedger(
        lines.filter(_.startsWith("F\t")).map(_.stripPrefix("F\t")).toSet,
        lines.filter(l => l.startsWith("A\t") || l.startsWith("M\t")).toSet)
    }.toOption

  private def writeLedger(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, l: CarryLedger): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (LedgerHeader +: (l.files.toSeq.sorted.map("F\t" + _) ++
        l.keys.toSeq.sorted)).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"convert: ledger publish failed at $p")
  }

  /** Stream every source Attachment/Metadata record into ONE
    * `attachments.mcap` under `outPath`. Append-mode re-runs MERGE by
    * record identity — the archive's messages accumulate across
    * appends, so its attachment dimension must too. Append cost is
    * O(new work), not O(archive history): a ledger of merged source
    * fingerprints short-circuits unchanged sources without reading a
    * body; sources with new bytes have their identities checked
    * against the ledger (or, ledger lost, against the archive's own
    * records) and a no-new-identity run touches `attachments.mcap`
    * not at all. Only a genuine addition re-writes the merge — the
    * dimension is tiny next to the message volume (a fleet's
    * calibrations), so the driver-side record-at-a-time copy is the
    * right shape for THAT path. Publish keeps the previous generation
    * as a `.bak` until the new one is in place: a failed rename never
    * removes the last good archive. Returns the number of records now
    * represented (0 = no sources carry side records).
    */
  private val carryLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[ros] def carryAttachments(inPath: String, outPath: String): Long =
    // one carry per archive per JVM at a time: the per-trigger stream
    // listener and a batch backfill to the same outPath share fixed
    // tmp/bak/ledger names — interleaved publishes could drop a
    // generation (cross-PROCESS writers remain the caller's contract,
    // as for every sink directory)
    carryLocks.computeIfAbsent(outPath, _ => new Object).synchronized {
      carryAttachmentsLocked(inPath, outPath)
    }

  private def carryAttachmentsLocked(inPath: String, outPath: String): Long = {
    import graft.ros.mcap.{McapFormat, McapIO}
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val fin = new org.apache.hadoop.fs.Path(outPath, "attachments.mcap")
    val bak = new org.apache.hadoop.fs.Path(outPath, ".attachments.mcap.bak")
    val tmp = new org.apache.hadoop.fs.Path(outPath, ".attachments.mcap.inprogress")
    val ledgerPath = new org.apache.hadoop.fs.Path(outPath, ".attachments.idx")
    // crash window recovery FIRST — even when the current sources
    // carry nothing (a rotated upload prefix), a backup from a failed
    // publish is still the archive and must come back
    if (!fs.exists(fin) && fs.exists(bak))
      require(fs.rename(bak, fin), s"convert: backup recovery failed at $fin")
    val allMcaps = MixedRead.resolve(inPath).getOrElse("mcap", Seq.empty)
    val refs = allMcaps.map(f => f -> McapIO.scanIndex(f))
      .filter { case (_, i) => i.attachmentRefs.nonEmpty || i.metadataRefs.nonEmpty }
    if (refs.isEmpty) return 0L
    val ledger =
      if (fs.exists(fin)) readLedger(fs, ledgerPath) else None
    val fps = refs.map { case (f, idx) => (f, idx, fileFingerprint(fs, f)) }
    val newFiles = ledger match {
      case Some(l) => fps.filterNot { case (_, _, fp) => l.files.contains(fp) }
      case None => fps
    }
    if (ledger.isDefined && newFiles.isEmpty)
      return ledger.get.keys.size.toLong // fast path: zero body reads
    // prior identities: ledger, else re-derived from the archive
    val priorKeys: Set[String] = ledger.map(_.keys).getOrElse {
      if (!fs.exists(fin)) Set.empty
      else {
        val p = fin.toString
        val idx = McapIO.scanIndex(p)
        (idx.attachmentRefs.map { case (off, len) =>
          attachmentKey(McapFormat.parseAttachment(McapIO.readPayload(p, off, len)))
        } ++ idx.metadataRefs.map { case (off, len) =>
          val (n, kv) = McapFormat.parseMetadata(McapIO.readPayload(p, off, len))
          metadataKey(n, kv)
        }).toSet
      }
    }
    // identities contributed by the not-yet-merged sources
    val newKeys = newFiles.flatMap { case (f, idx, _) =>
      idx.attachmentRefs.map { case (off, len) =>
        attachmentKey(McapFormat.parseAttachment(McapIO.readPayload(f, off, len)))
      } ++ idx.metadataRefs.map { case (off, len) =>
        val (n, kv) = McapFormat.parseMetadata(McapIO.readPayload(f, off, len))
        metadataKey(n, kv)
      }
    }.toSet
    val mergedLedger = CarryLedger(fps.map(_._3).toSet, priorKeys ++ newKeys)
    if (newKeys.subsetOf(priorKeys)) {
      // nothing genuinely new: record the fingerprints so the next
      // run's fast path skips these sources, leave the archive alone
      writeLedger(fs, ledgerPath, mergedLedger)
      return mergedLedger.keys.size.toLong
    }
    // genuine additions: merge re-write (prior generation first so a
    // re-write keeps its records, then every contributing source;
    // identity keys dedupe)
    val sources: Seq[(String, McapFormat.McapIndex)] =
      (if (fs.exists(fin)) {
        val p = fin.toString
        Seq(p -> McapIO.scanIndex(p))
      } else Seq.empty) ++ refs.map { case (f, i) => (f, i) }
    val seen = scala.collection.mutable.HashSet[String]()
    val out = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16)
    try {
      val w = new graft.ros.mcap.McapStreamingWriter(out, "", 4 * 1024 * 1024,
        profile = "")
      sources.foreach { case (f, idx) =>
        idx.attachmentRefs.foreach { case (off, len) =>
          val a = McapFormat.parseAttachment(McapIO.readPayload(f, off, len))
          if (seen.add(attachmentKey(a)))
            w.writeAttachment(a.logTime, a.createTime, a.name, a.mediaType, a.data)
        }
        idx.metadataRefs.foreach { case (off, len) =>
          val (name, kv) = McapFormat.parseMetadata(McapIO.readPayload(f, off, len))
          if (seen.add(metadataKey(name, kv))) w.writeMetadata(name, kv)
        }
      }
      w.finish()
      out.close()
    } catch {
      case t: Throwable =>
        // no .inprogress debris on a failed carry (corrupt source crc,
        // I/O error mid-copy) — mirror the sinks' abort hygiene
        try out.close() catch { case _: java.io.IOException => () }
        fs.delete(tmp, false)
        throw t
    }
    // publish: previous generation steps aside (never deleted) until
    // the new one holds the name
    if (fs.exists(bak)) fs.delete(bak, false)
    if (fs.exists(fin)) require(fs.rename(fin, bak),
      s"convert: could not step the previous attachments.mcap aside under $outPath")
    if (!fs.rename(tmp, fin)) {
      if (fs.exists(bak)) fs.rename(bak, fin)
      throw new IllegalStateException(
        s"convert: attachments.mcap publish failed under $outPath " +
          "(previous generation restored)")
    }
    fs.delete(bak, false)
    writeLedger(fs, ledgerPath, mergedLedger)
    seen.size.toLong
  }

  /** COMPACT a (streaming-)converted archive — ANY of the three target
    * formats: a standing normalizer emits one file per (partition,
    * epoch), accumulating 10⁴–10⁵ small files per year, and file COUNT
    * is what drives plan time at fleet scale (FleetBench's axis).
    * `compact` reads the archive's own full-fidelity spine, re-layouts
    * it time-ranged (the `layout = "time"` machinery — the compacted
    * files' own indexes prune again) and atomically swaps the new
    * generation in ([[CompactJournal]]):
    *
    *  - the format is DETECTED from the directory's data files; a dir
    *    holding several container formats refuses loudly (sink outputs
    *    are single-format by construction);
    *  - definitions carry per row (the write tasks late-bind each
    *    row's schema/connection/defs-table entry from its pre-compact
    *    source file — [[SourceDefs]]);
    *  - mcap: `attachments.mcap`, its ledger, every att-* carrier and
    *    every dotted file stay untouched (a carrier is one file
    *    already, and the message-spine rewrite cannot represent its
    *    side records); sequence, publish_time and schema encodings
    *    survive (the full mcap read spine feeds the sink);
    *  - rosbag: each compacted `.bag` carries its own IndexData
    *    records and connections with their genuine md5s;
    *  - db3: `metadata.yaml` is REGENERATED for the new generation in
    *    the same swap (its relative paths take the compacted names;
    *    the streaming epoch LEDGER carries over so a later stream
    *    restart keeps its replay protection), and the archive's own
    *    compression setting is inherited by the rewrite unless the
    *    caller overrides it;
    *  - the swap is journaled (`.compact.journal` written before any
    *    rename): a crash mid-swap self-heals on the next `compact`
    *    call, every batch directory listing serves ONE consistent
    *    generation meanwhile ([[CompactJournal.maskedNames]]), and the
    *    old generation is deleted only after every compacted file
    *    holds its final name;
    *  - a later stream RESTART is unaffected: compacted stems
    *    (`compact-<tag>-…`) never collide with the sinks' epoch stems
    *    or their replay reconcile sweeps.
    *
    * Run it while the standing normalizer is stopped or quiescent: an
    * epoch REPLAYED from before the compaction (crash before its
    * checkpoint commit) would re-emit rows the compaction already
    * folded in. `partitions` > 0 pins the output file count; 0 sizes
    * from the archive bytes via `target_file_mb` (default 512 MB).
    */
  def compact(spark: SparkSession, outPath: String, partitions: Int = 0,
      options: Map[String, String] = Map.empty): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    CompactJournal.recover(fs, outPath)
    val dir = new org.apache.hadoop.fs.Path(outPath)
    def kindOf(n: String): Option[String] =
      if (n.endsWith(".mcap")) Some("mcap")
      else if (n.endsWith(".bag")) Some("rosbag")
      else if (n.endsWith(".db3") || n.endsWith(".db3.zstd")) Some("db3")
      else None
    val listing = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
    val kinds = listing.flatMap(s => kindOf(s.getPath.getName)).distinct.sorted
    if (kinds.isEmpty) return
    require(kinds.size == 1, s"compact works per format; $outPath holds " +
      s"${kinds.mkString(" + ")} files — compact the formats separately")
    val format = kinds.head
    val files = listing
      .filter(s => kindOf(s.getPath.getName).contains(format))
      .map(_.getPath.toString).sorted
      // mcap attachment/metadata CARRIERS are excluded wholesale — the
      // message-spine rewrite cannot represent their side records, so
      // compacting one (attachments.mcap, an att-* relational write,
      // a raw recording copied in) would silently delete calibrations;
      // they stay as-is (each is one file already)
      .filterNot(f => format == "mcap" && {
        val i = mcap.McapIO.scanIndex(f)
        i.attachmentRefs.nonEmpty || i.metadataRefs.nonEmpty
      })
    if (files.size <= 1) return // nothing to collapse
    // each format reads through its OWN full spine (not the reduced
    // mixed spine) so format-specific columns survive the rewrite
    val prepared = format match {
      case "mcap" =>
        val df = spark.read.format("mcap")
          .option("files", ContainerSource.filesSpec(files)).load()
        mcap.McapExport.prepare(df,
          topic = col("topic"), logTimeNs = col("log_time"),
          data = col("data"), schemaName = col("schema_name"),
          schemaEncoding = col("schema_encoding"),
          messageEncoding = col("message_encoding"),
          publishTimeNs = col("publish_time"), sequence = col("sequence"),
          sourcePath = col("file_path"))
      case "rosbag" =>
        val df = spark.read.format("rosbag")
          .option("bags", ContainerSource.filesSpec(files)).load()
        bag.BagExport.prepare(df, topic = col("topic"),
          timeNs = col("time_sec").cast("long") * lit(1000000000L) +
            col("time_nsec").cast("long"),
          data = col("data"), datatype = col("datatype"),
          sourcePath = col("bag_path"))
      case "db3" =>
        val df = spark.read.format("db3")
          .option("files", ContainerSource.filesSpec(files)).load()
        db3.Db3Export.prepare(df, topic = col("topic"),
          timestampNs = col("timestamp"), data = col("data"),
          tpe = col("type"),
          serializationFormat = col("serialization_format"),
          sourcePath = col("file_path"))
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    val effParts =
      if (partitions > 0) partitions
      else {
        val bytes = DriverPool.totalBytes(files,
          graft.ros.bag.RosbagIO.hadoopConf())
        partitionsFor(bytes, targetFileMb(options).getOrElse(512L))
      }
    val sized = applyLayout(prepared, format, effParts, "time")
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val stagePath = new org.apache.hadoop.fs.Path(outPath, s".compact-$tag")
    val auto = format match {
      case "mcap" =>
        autoProfile(options, "mcap", ContainerSource.filesSpec(files))
      case "db3" =>
        db3.Db3BagMetadata.compactCompressionOptions(fs, outPath, options)
      case _ => Map.empty[String, String]
    }
    val sinkOpts = options.filterNot(kv => ConvertOnly(kv._1.toLowerCase)) ++ auto
    try {
      sinkOpts.foldLeft(sized.write.format(format).mode("append")) {
        case (w, (k, v)) => w.option(k, v)
      }.save(stagePath.toString)
      val staged = fs.listStatus(stagePath).toSeq
        .filter(s => s.isFile && kindOf(s.getPath.getName).contains(format))
        .map(_.getPath.getName).sorted
      // journal BEFORE any rename: a crash mid-swap self-heals. The
      // journal itself publishes via temp + rename — the recovery
      // mechanism must never replay a TRUNCATED plan (promote-without-
      // delete would duplicate every row of the old generation)
      val dataMvs = staged.map(n => s"MV\t.compact-$tag/$n\tcompact-$tag-$n")
      val metaMvs =
        if (format == "db3") {
          // the staged metadata.yaml lists STAGE-relative names; swap
          // in a rendering for the final names (epoch ledger carried
          // over) as one more journaled promotion
          db3.Db3BagMetadata.regenCompactMetadata(fs, outPath,
            stagePath.toString, staged.map(n => s"compact-$tag-$n"))
          Seq(s"MV\t.compact-$tag/metadata.yaml\tmetadata.yaml")
        } else Seq.empty
      // the _divergent.json diagnostic must survive the swap with the
      // GENERATION it describes: promote the stage write's sidecar
      // (fresh divergent-type list) when one exists, else remove a
      // stale old-generation sidecar that would otherwise keep naming
      // part files the swap deletes
      val sidecarMvs =
        if (format != "db3") Seq.empty
        else if (fs.exists(new org.apache.hadoop.fs.Path(stagePath,
          "_divergent.json")))
          Seq(s"MV\t.compact-$tag/_divergent.json\t_divergent.json")
        else if (fs.exists(new org.apache.hadoop.fs.Path(outPath,
          "_divergent.json")))
          Seq("RM\t_divergent.json")
        else Seq.empty
      val plan = dataMvs ++ metaMvs ++ sidecarMvs ++
        files.map(f => s"RM\t${new org.apache.hadoop.fs.Path(f).getName}")
      CompactJournal.write(fs, outPath, plan)
      CompactJournal.execute(fs, outPath, plan)
      fs.delete(CompactJournal.journalPath(outPath), false)
      fs.delete(stagePath, true)
      ()
    } catch {
      case t: Throwable =>
        // staged files are debris ONLY while no journal exists; once
        // the journal is published they are the recovery's inputs —
        // deleting them here would let the replay delete the old
        // generation without fully promoting the new one
        if (!fs.exists(CompactJournal.journalPath(outPath)) &&
            fs.exists(stagePath)) {
          fs.delete(stagePath, true)
          ()
        }
        throw t
    }
  }

  /** The CONTINUOUS convert: a fleet-upload prefix receiving `.bag` +
    * `.mcap` + `.db3` at any time ([[MixedRead.stream]]) normalizes
    * into an ever-growing `format` archive through the streaming sink
    * — exactly-once per the sinks' deterministic (query, epoch,
    * partition) naming, resumable from `checkpoint`. Returns the
    * started query; pass `Trigger.AvailableNow()` for a drain-and-stop
    * catch-up run, or a processing-time trigger for a standing
    * normalizer.
    *
    * Definitions auto-wire like [[run]] when files are already present
    * under `inPath` at START (a query-construction-time scan), and
    * types FIRST LANDING MID-STREAM late-bind per row from their
    * source file inside the write tasks ([[SourceDefs]]) — a new robot
    * model's recordings export with real definitions, no restart
    * (pass `schema_defs_from` explicitly to pin a definitive source
    * instead). Attachments/metadata merge into `attachments.mcap` at
    * start AND after every trigger (a progress/idle listener runs the
    * identity merge, whose ledger makes a no-new-work check
    * O(listing)); restarts stay idempotent. Layout: each epoch's files
    * hold only that epoch's time window, so time locality is already
    * micro-batch-granular; Structured Streaming forbids per-partition
    * sorts, so no further clustering applies.
    */
  def runStream(spark: SparkSession, inPath: String, outPath: String,
      format: String, checkpoint: String,
      transform: DataFrame => DataFrame = identity,
      options: Map[String, String] = Map.empty,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // streaming output files are per (epoch, partition) — an epoch's
    // volume varies with arrival, so a bytes-per-file target cannot be
    // honored; refuse loudly rather than silently ignore it (size a
    // standing normalizer via the trigger interval + source options)
    require(targetFileMb(options).isEmpty,
      "target_file_mb applies to batch Convert.run only: streaming " +
        "epochs size by arrival, not by a per-file byte target")
    // an empty / not-yet-created prefix is a legal stream start — skip
    // the defs auto-wire rather than fail (nothing to harvest yet)
    val resolvable = scala.util.Try(MixedRead.resolve(inPath)).isSuccess
    val spine0 = transform(MixedRead.stream(spark, inPath))
    val mode = transcodeMode(options)
    val (spine, transcodeDefs, allTranscoded) =
      if (mode == "off") (spine0, Map.empty[String, String], false)
      else if (resolvable) applyTranscode(spine0, mode, format, inPath, options)
      else format match {
        // nothing to plan from yet: the per-file fallback inside the
        // transcode UDF harvests definitions as files land
        case "mcap" | "db3" =>
          (Transcode.toCdr(spine0, Map.empty, strict = mode == "strict"),
            Map.empty[String, String], false)
        case "rosbag" =>
          (Transcode.toRos1(spine0, Map.empty, strict = mode == "strict"),
            Map.empty[String, String], false)
        case other => throw new IllegalArgumentException(
          s"transcode targets mcap | db3 | rosbag, not '$other'")
      }
    val prepared = prepare(spine, format,
      allowForeignEncoding = boolOpt(options, "allow_foreign_encoding"))
    val auto =
      if (resolvable)
        autoDefs(options, format, inPath) ++
          autoProfile(options, format, inPath, allTranscoded) ++ transcodeDefs
      else Map.empty[String, String]
    if (resolvable && boolOpt(options, "carry_attachments", default = true)) {
      carryAttachments(inPath, outPath)
      ()
    }
    val sinkOpts = options.filterNot(kv => ConvertOnly(kv._1.toLowerCase) ||
      transcodeDefs.keys.exists(_.equalsIgnoreCase(kv._1))) ++ auto
    val query = sinkOpts.foldLeft(
      prepared.writeStream.format(format)
        .option("checkpointLocation", checkpoint)
        .outputMode("append").trigger(trigger)) {
      case (w, (k, v)) => w.option(k, v)
    }.start(outPath)
    if (boolOpt(options, "carry_attachments", default = true)) {
      // per-EPOCH carry: attachments landing mid-stream merge after
      // the next trigger (progress or idle), not only at restart —
      // [[carryAttachments]]' ledger fast path makes the per-epoch
      // check O(directory listing + cached index scans)
      val streams = spark.streams
      val qid = query.id
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val listener = new StreamingQueryListener {
        import StreamingQueryListener._
        private def carry(): Unit =
          try { carryAttachments(inPath, outPath); () } catch {
            case e: Exception => logger.warn(
              "convert: per-epoch attachment carry failed (retries next " +
                s"trigger): ${e.getMessage}")
          }
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.id == qid) carry()
        override def onQueryIdle(e: QueryIdleEvent): Unit =
          if (e.id == qid) carry()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) streams.removeListener(this)
      }
      streams.addListener(listener)
      if (!query.isActive) {
        // a drain trigger can terminate before the listener landed —
        // don't leak it, and close the window with one final carry
        streams.removeListener(listener)
        try { carryAttachments(inPath, outPath); () }
        catch { case _: Exception => () }
      }
    }
    query
  }
}
