package graft.warc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, StringType}

/** DataSource V2 `warc` WRITE sink — the EXPORT direction of the
  * crawl pipeline, completing the fourth container's source/sink
  * pair (mcap, rosbag and db3 already write): curated or transformed
  * crawl data re-emitted as standard web-archive shards any WARC
  * toolchain (and this engine's own reader) consumes.
  *
  * ```scala
  * WarcExport.prepareConversion(clean, uri = col("target_uri"),
  *     text = col("text"), refersTo = col("record_id"))
  *   .write.format("warc").mode("overwrite").save("/out/wet")
  * ```
  *
  * The canonical use is the WET shape: `conversion` records carrying
  * extracted text, one per stored page, `WARC-Refers-To` pointing at
  * the source record — exactly how Common Crawl publishes its
  * extracted-text sidecar. The sink itself is record-agnostic: rows
  * carry the full record block (helpers in [[WarcExport]] build HTTP
  * response blocks and conversion records).
  *
  * Layout and commit protocol are the container sinks' own
  * ([[graft.ros.ContainerSink]]): one shard file per non-empty task
  * (`part-<p>-<task>-<job>.warc.gz`, member-per-record gzip by default —
  * the spec's recommendation and what the strict reader verifies
  * member-by-member) followed by its `.cdx` sidecar; streaming shards
  * are `part-<p>-q<query8>-e<epoch>.warc.gz`, so an epoch replay
  * replaces its previous attempt's shard and sidecar, and the epoch
  * commit sweeps the extras of a wider crashed attempt.
  *
  * Record ids: an explicit `record_id` column wins; empty ids get a
  * DETERMINISTIC name-UUID of (uri, date, payload) so an epoch replay
  * regenerates byte-identical records (a random UUID would make
  * "replace, don't duplicate" produce different bytes per attempt).
  *
  * The write spine IS the read schema (the mcap sink convention —
  * Spark's V2 write resolves the frame against the table schema, so
  * read-derived columns like `file_path`/`offset`/`http_status` ride
  * along as placeholders the writer ignores; [[WarcExport.prepare]]
  * fills them). `refers_to` and `payload_digest` round-trip to their
  * WARC headers — what the reader surfaces, the writer re-emits.
  */
final class WarcSink private (warcType: Int, payload: Int, warcDate: Int,
    targetUri: Int, contentType: Int, recordId: Int, refersTo: Int,
    payloadDigest: Int, gzip: Boolean, cdx: Boolean)
    extends graft.ros.ContainerSink.Format {
  // both shard kinds and the sidecar: overwrite replaces all three
  override def suffixes: Seq[String] = Seq(".warc.gz", ".warc", ".cdx")

  /** One task's shard: record-at-a-time rendering (no whole-file
    * buffering — a shard is written in one pass at any size), each
    * record its own gzip member when `gzip`. With `cdx` (the default)
    * the encoder tracks each record's exact byte range as it writes and
    * publishes a sorted CDXJ sidecar as the task's second file — the
    * index costs one pass of line buffering (entry-count-bounded,
    * ~100 B/record), never a re-read of the shard.
    */
  override def encoder(out: graft.ros.ContainerSink.TaskFiles)
      : graft.ros.ContainerSink.Encoder = new graft.ros.ContainerSink.Encoder {
    // `written` counts at the FILE layer (below the per-record gzip):
    // the offsets the sidecar publishes are positions in the shard
    private val shard = out.create("", if (gzip) ".warc.gz" else ".warc")
    private var rows = 0
    private val cdxEntries = if (cdx) Seq.newBuilder[WarcCdx.CdxEntry] else null

    override def write(row: InternalRow): Unit = {
      val uri = if (row.isNullAt(targetUri)) "" else row.getUTF8String(targetUri).toString
      val date = row.getUTF8String(warcDate).toString
      val block = row.getBinary(payload)
      val explicitId = if (row.isNullAt(recordId)) ""
        else row.getUTF8String(recordId).toString
      val rid =
        if (explicitId.nonEmpty) explicitId
        else WarcExport.deterministicId(uri, date, block)
      def hdr(ord: Int, name: String): Seq[(String, String)] =
        if (ord < 0 || row.isNullAt(ord)) Seq.empty
        else {
          val v = row.getUTF8String(ord).toString
          if (v.isEmpty) Seq.empty else Seq(name -> v)
        }
      val extra: Seq[(String, String)] =
        hdr(refersTo, "WARC-Refers-To") ++ hdr(payloadDigest, "WARC-Payload-Digest")
      val rec = WarcFormat.WriteRecord(
        warcType = row.getUTF8String(warcType).toString,
        targetUri = uri,
        block = block,
        contentType = if (row.isNullAt(contentType)) ""
          else row.getUTF8String(contentType).toString,
        recordId = rid,
        date = date,
        extraHeaders = extra)
      val bytes = WarcFormat.renderRecord(rec, 0)
      val start = shard.written
      if (gzip) {
        // member per record; the shield keeps the gzip close() (which
        // releases the member's native deflater) off the shard stream
        val gz = new java.util.zip.GZIPOutputStream(
          org.apache.commons.io.output.CloseShieldOutputStream.wrap(shard))
        gz.write(bytes); gz.close()
      } else shard.write(bytes)
      if (cdx)
        cdxEntries += WarcCdx.CdxEntry(WarcCdx.surtKey(uri),
          WarcCdx.timestamp14(date), uri, rows, start, shard.written - start,
          shard.name,
          digest = extra.collectFirst {
            case ("WARC-Payload-Digest", v) => v }.getOrElse(""))
      rows += 1
    }

    override def finish(): AnyRef = {
      if (cdx) {
        val side = out.create("", ".cdx")
        side.write(WarcCdx.sidecarBytes(
          cdxEntries.result().sortBy(e => (e.surt, e.timestamp))))
      }
      null
    }
  }
}

object WarcSink {
  def apply(w: graft.ros.ContainerSink.Request): WarcSink =
    new WarcSink(
      warcType = w.need("warc_type", StringType),
      payload = w.need("payload", BinaryType),
      warcDate = w.need("warc_date", StringType),
      targetUri = w.need("target_uri", StringType, nullable = true),
      contentType = w.need("content_type", StringType, nullable = true),
      recordId = w.need("record_id", StringType, nullable = true),
      refersTo = w.opt("refers_to", StringType),
      payloadDigest = w.opt("payload_digest", StringType),
      gzip = w.option("gzip").forall(_.toBoolean),
      // cdx sidecars ON by default: an archive without its index is
      // sequential-scan-only; `option("cdx", "false")` opts out
      cdx = w.option("cdx").forall(_.toBoolean))
}

/** Conform arbitrary frames to the warc write spine. */
object WarcExport {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  // per-thread digester: getInstance-per-row would dominate the write
  // kernel on short records (the WarcDigest precedent)
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Deterministic record id: a name-UUID over (uri, date, payload) —
    * byte-identical across epoch replays, unlike a random UUID.
    */
  def deterministicId(uri: String, date: String,
      payload: Array[Byte]): String = {
    val md = md5.get()
    md.reset()
    md.update(uri.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    md.update(date.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    md.update(payload)
    "<urn:uuid:" + java.util.UUID.nameUUIDFromBytes(md.digest()) + ">"
  }

  /** Generic conform to the full read-spine schema: only `warcType`
    * and `payload` are semantically required; absent/null everything
    * else defaults (record ids to the deterministic name-UUID at
    * write time); read-derived placeholders (`file_path`, `offset`,
    * the http_* columns) are filled and ignored by the writer.
    */
  def prepare(df: DataFrame, warcType: Column, payload: Column,
      targetUri: Column = lit(""), contentType: Column = lit(""),
      recordId: Column = lit(""),
      warcDate: Column = lit("1970-01-01T00:00:00Z"),
      refersTo: Column = lit(null), payloadDigest: Column = lit(null))
      : DataFrame =
    df.select(
      lit("").as("file_path"),
      lit(0).as("offset"),
      coalesce(warcType.cast("string"), lit("")).as("warc_type"),
      coalesce(recordId.cast("string"), lit("")).as("record_id"),
      coalesce(warcDate.cast("string"), lit("1970-01-01T00:00:00Z"))
        .as("warc_date"),
      coalesce(targetUri.cast("string"), lit("")).as("target_uri"),
      coalesce(contentType.cast("string"), lit("")).as("content_type"),
      payloadDigest.cast("string").as("payload_digest"),
      refersTo.cast("string").as("refers_to"),
      lit(null).cast("int").as("http_status"),
      lit(null).cast("string").as("http_content_type"),
      lit(null).cast("string").as("http_content_encoding"),
      payload.cast("binary").as("payload"))

  /** The WET shape: one `conversion` record per row carrying
    * extracted text (UTF-8 entity bytes, `text/plain` content type),
    * `WARC-Refers-To` naming the source record when given — exactly
    * how Common Crawl publishes its extracted-text sidecar.
    */
  def prepareConversion(df: DataFrame, uri: Column, text: Column,
      refersTo: Column = lit(null),
      warcDate: Column = lit("1970-01-01T00:00:00Z")): DataFrame =
    prepare(df,
      warcType = lit("conversion"),
      payload = encode(text.cast("string"), "UTF-8"),
      targetUri = uri,
      contentType = lit("text/plain; charset=utf-8"),
      warcDate = warcDate,
      refersTo = refersTo)

  /** The response shape: wraps each body in an HTTP 200 head (the
    * [[WarcFormat.httpResponseBlock]] layout) via a deterministic
    * binary concat — one record per crawled document.
    */
  def prepareHttpResponse(df: DataFrame, uri: Column, body: Column,
      httpContentType: Column,
      warcDate: Column = lit("1970-01-01T00:00:00Z")): DataFrame = {
    val b = body.cast("binary")
    val head = concat(
      encode(concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "),
        coalesce(httpContentType.cast("string"), lit("application/octet-stream")),
        lit("\r\nContent-Length: "), length(b).cast("string"),
        lit("\r\n\r\n")), "UTF-8"))
    prepare(df,
      warcType = lit("response"),
      payload = concat(head, b),
      targetUri = uri,
      contentType = lit("application/http; msgtype=response"),
      warcDate = warcDate)
  }
}
