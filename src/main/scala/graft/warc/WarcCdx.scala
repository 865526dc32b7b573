package graft.warc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDX(J) crawl indexing — the layer that makes a WARC archive
  * RANDOM-ACCESS instead of sequential-scan-only: one line per stored
  * record, keyed by the SURT canonical URL, carrying the record's
  * exact (filename, offset, length) compressed byte range. This is
  * how Common Crawl and every wayback deployment serve URL lookups:
  * resolve through the index, fetch ONE gzip member by byte range,
  * never touch the rest of the shard. The warc sink writes a `.cdx`
  * sidecar per shard as it writes the shard ([[WarcSink]]);
  * [[index]] builds the same entries for FOREIGN archives by a
  * one-pass member-boundary scan (a `Convert.compact`-style pass);
  * the `warc` source's `option("cdx", "true")` read path plans byte
  * ranges from the sidecars so only addressed shards — and only the
  * addressed members within them — are read (q103).
  *
  * Line format (CDXJ, the Common Crawl index layout):
  * `<surt> <timestamp14> {"url":…,"ordinal":…,"offset":…,"length":…,
  * "filename":…[,"digest":…]}` — sorted by key within each sidecar
  * (per-shard sorted runs, the layout a merged cluster index builds
  * from). `ordinal` is the record's position in its shard: the scan
  * path's `offset` COLUMN is the ordinal (gzip members are not
  * byte-addressable mid-stream), so carrying it in the index keeps
  * the indexed read's rows byte-identical to the scan's.
  *
  * Byte-range contract: for `.warc.gz` the range is the record's own
  * gzip MEMBER (member-per-record, the spec's recommendation, the
  * sink's output and Common Crawl's layout — [[index]] refuses
  * multi-record members loudly rather than emitting entries that
  * cannot address their records); for plain `.warc` it is the
  * record's rendered byte range.
  *
  * Scale shape: [[index]] parallelizes per shard (the corpus's own
  * partition grain); the plan-time lookup path reads only the
  * sidecars of shards that survive `file_path` pruning — for
  * cluster-scale URL sets, join [[load]] (a distributed read of the
  * sidecars) against the URL relation instead and feed the matched
  * ranges to the same fetch path.
  */
object WarcCdx {

  /** One index line. `timestamp` is the WARC date's digits (14-char
    * wayback form); `digest` empty when the record carried none.
    */
  final case class CdxEntry(surt: String, timestamp: String, url: String,
      ordinal: Int, offset: Long, length: Long, filename: String,
      digest: String = "")

  /** `2024-01-01T00:00:00Z` → `20240101000000` (digits, first 14). */
  def timestamp14(warcDate: String): String = {
    val sb = new java.lang.StringBuilder(14)
    var i = 0
    while (i < warcDate.length && sb.length < 14) {
      val c = warcDate.charAt(i)
      if (c >= '0' && c <= '9') sb.append(c)
      i += 1
    }
    while (sb.length < 14) sb.append('0')
    sb.toString
  }

  def render(e: CdxEntry): String = {
    val sb = new java.lang.StringBuilder(128)
    // a record with no (or an opaque) uri still gets a line — "-" is
    // the wayback placeholder key, kept sortable and parseable
    sb.append(if (e.surt == null || e.surt.isEmpty) "-" else e.surt)
    sb.append(' ').append(e.timestamp).append(" {\"url\":")
    jsonStr(sb, e.url)
    sb.append(",\"ordinal\":").append(e.ordinal)
    sb.append(",\"offset\":").append(e.offset)
    sb.append(",\"length\":").append(e.length)
    sb.append(",\"filename\":")
    jsonStr(sb, e.filename)
    if (e.digest.nonEmpty) { sb.append(",\"digest\":"); jsonStr(sb, e.digest) }
    sb.append('}')
    sb.toString
  }

  private def jsonStr(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\') sb.append('\\').append(c)
      else if (c < ' ') sb.append(f"\\u${c.toInt}%04x")
      else sb.append(c)
      i += 1
    }
    sb.append('"')
    ()
  }

  def parse(line: String): CdxEntry = {
    val sp1 = line.indexOf(' ')
    val sp2 = line.indexOf(' ', sp1 + 1)
    require(sp1 > 0 && sp2 > sp1, s"malformed cdx line: $line")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line.substring(sp2 + 1))
    CdxEntry(
      surt = line.substring(0, sp1),
      timestamp = line.substring(sp1 + 1, sp2),
      url = node.get("url").asText(),
      ordinal = node.get("ordinal").asInt(),
      offset = node.get("offset").asLong(),
      length = node.get("length").asLong(),
      filename = node.get("filename").asText(),
      digest = Option(node.get("digest")).map(_.asText()).getOrElse(""))
  }

  /** The sidecar path of a shard: `x.warc.gz` → `x.cdx`. */
  def sidecarPath(shard: String): String = {
    val stripped =
      if (shard.endsWith(".warc.gz")) shard.dropRight(8)
      else if (shard.endsWith(".warc")) shard.dropRight(5)
      else shard
    stripped + ".cdx"
  }

  /** SURT key via the native canonicalizer (null-safe: opaque uris
    * key as ""). Shared by the sink's sidecar writer and [[index]] so
    * lookups hit regardless of which built the index.
    */
  def surtKey(uri: String): String = {
    if (uri == null || uri.isEmpty) return ""
    val s = org.apache.spark.sql.graftfns.UrlKernel.surt(
      org.apache.spark.unsafe.types.UTF8String.fromString(uri))
    if (s == null) "" else s.toString
  }

  /** Index ONE shard by member-boundary scan — exact compressed byte
    * ranges off [[WarcFormat.StrictGzipStream]]'s strict
    * (CRC-verified) member walk; plain `.warc` shards are refused
    * (see the byte-range contract above — the sink's sidecar covers
    * them, a foreign plain shard has no addressable layout worth
    * indexing half-right).
    */
  def indexFile(shard: String): Seq[CdxEntry] = {
    require(shard.endsWith(".warc.gz"),
      s"cdx indexing requires member-per-record .warc.gz shards: $shard")
    val p = new Path(shard)
    val name = p.getName
    val fs = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val raw = fs.open(p)
    try {
      val gz = new WarcFormat.StrictGzipStream(
        new java.io.BufferedInputStream(raw, 1 << 16))
      gz.memberLimit = true
      val out = Seq.newBuilder[CdxEntry]
      var ordinal = 0
      while (gz.nextMember()) {
        val start = gz.memberStart
        val bytes = drain(gz)
        val end = gz.compressedPos
        val recs = WarcFormat.records(
          new java.io.ByteArrayInputStream(bytes)).toSeq
        require(recs.size == 1,
          s"cdx indexing requires member-per-record gzip: member at " +
            s"offset $start of $shard holds ${recs.size} records")
        val r = recs.head
        out += CdxEntry(surtKey(r.targetUri), timestamp14(r.date),
          r.targetUri, ordinal, start, end - start, name,
          r.headers.getOrElse("warc-payload-digest", ""))
        ordinal += 1
      }
      out.result()
    } finally raw.close()
  }

  private def drain(in: java.io.InputStream): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(1 << 16)
    val b = new Array[Byte](1 << 16)
    var n = in.read(b)
    while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
    buf.toByteArray
  }

  /** Index every shard under `pathSpec` (same file/dir/glob/list
    * grammar as the source), one task per shard, and write each
    * shard's sorted `.cdx` sidecar next to it (temp + rename). Returns
    * the entry count. Foreign-archive path; the sink writes sidecars
    * itself.
    */
  def buildSidecars(spark: SparkSession, pathSpec: String): Long = {
    val files = WarcDataSource.files(pathSpec)
      .filter(_.endsWith(".warc.gz"))
    import spark.implicits._
    spark.createDataset(files)
      .repartition(math.min(files.size, 64).max(1))
      .map { shard =>
        val entries = indexFile(shard).sortBy(e => (e.surt, e.timestamp))
        writeSidecar(shard, entries,
          s"-t${org.apache.spark.TaskContext.get().taskAttemptId()}")
        entries.size.toLong
      }.reduce(_ + _)
  }

  /** A sidecar's bytes: one rendered line per entry. */
  def sidecarBytes(entries: Seq[CdxEntry]): Array[Byte] =
    entries.map(render).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Publish a shard's sidecar via temp + rename (idempotent); the
    * in-progress name carries the writing attempt's tag.
    */
  private def writeSidecar(shard: String, entries: Seq[CdxEntry],
      attempt: String): Unit = {
    val side = new Path(sidecarPath(shard))
    val fs = side.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val base = side.getName.stripSuffix(".cdx")
    val tmp = new Path(side.getParent, s".$base$attempt.cdx.inprogress")
    val out = fs.create(tmp, true)
    try out.write(sidecarBytes(entries))
    finally out.close()
    if (fs.exists(side)) fs.delete(side, false)
    require(fs.rename(tmp, side), s"cdx sidecar rename failed: $side")
  }

  /** Read all sidecar entries of the shards under `pathSpec` on the
    * DRIVER — the plan-time lookup path's resolver (bounded by index
    * size, not archive size; for cluster-scale joins use [[load]]).
    * Keyed back to fully-qualified shard paths.
    */
  def driverEntries(pathSpec: String): Seq[(String, CdxEntry)] = {
    val conf = graft.ros.bag.RosbagIO.hadoopConf()
    WarcDataSource.files(pathSpec).flatMap { shard =>
      val side = new Path(sidecarPath(shard))
      val fs = side.getFileSystem(conf)
      if (!fs.exists(side)) Seq.empty
      else {
        val in = fs.open(side)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map(l => shard -> parse(l)).toList
        finally in.close()
      }
    }
  }

  /** The sidecar entries as a DataFrame (distributed text read +
    * parse) — the join side for cluster-scale URL lookups.
    */
  def load(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(s"$dir/*.cdx").filter(_.nonEmpty)
      .map { l =>
        val e = parse(l)
        (e.surt, e.timestamp, e.url, e.ordinal, e.offset, e.length,
          e.filename, e.digest)
      }
      .toDF("surt", "timestamp", "url", "ordinal", "offset", "length",
        "filename", "digest")
  }
}
