package graft.warc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** WARC crawl-shard ingestion: framing round trips (plain +
  * member-gzip), HTTP response splitting, pushdown, loud refusals.
  */
class WarcSpec extends SparkTestBase {
  import WarcFormat._

  private def doc(i: Int): Array[Byte] =
    s"<html>doc $i body ${"x" * i}</html>".getBytes("UTF-8")

  private def fixtureRecords(n: Int): Seq[WriteRecord] =
    WriteRecord("warcinfo", "", s"software: graft-fixture\r\n".getBytes("UTF-8"),
      contentType = "application/warc-fields") +:
      (0 until n).flatMap { i =>
        Seq(
          WriteRecord("request", s"https://ex.com/d/$i",
            "GET /d HTTP/1.1\r\n\r\n".getBytes("UTF-8"),
            contentType = "application/http; msgtype=request"),
          WriteRecord("response", s"https://ex.com/d/$i",
            httpResponseBlock(doc(i), "text/html; charset=utf-8"),
            contentType = "application/http; msgtype=response"))
      }

  private def writeFixture(dir: java.io.File, name: String, n: Int,
      gz: Boolean): java.io.File = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, writeWarc(fixtureRecords(n), gz))
    f
  }

  test("framing round-trips, plain and member-gzip, parse identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_rt").toFile
    val plain = writeFixture(dir, "a.warc", 5, gz = false)
    val gzf = writeFixture(dir, "a.warc.gz", 5, gz = true)
    def parse(f: java.io.File): Seq[(String, String, Int)] = {
      val in = new java.io.FileInputStream(f)
      val base: java.io.InputStream =
        if (f.getName.endsWith(".gz")) new StrictGzipStream(in)
        else in
      try records(base).map(r => (r.warcType, r.targetUri, r.block.length)).toList
      finally base.close()
    }
    val a = parse(plain)
    assert(a === parse(gzf),
      "member-per-record gzip must parse identically to plain framing")
    assert(a.size === 11 && a.head._1 === "warcinfo")
    assert(a.count(_._1 === "response") === 5)
  }

  test("http split: status, content type, body; headless blocks surface raw") {
    val block = httpResponseBlock("hello".getBytes("UTF-8"), "text/plain")
    val h = httpSplit(block).get
    assert(h.status === 200 && h.contentType === "text/plain")
    assert(new String(h.body, "UTF-8") === "hello")
    assert(httpSplit("no http head here".getBytes("UTF-8")).isEmpty)
  }

  test("source: responses filter + derive, pushdown prunes and limits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_src").toFile
    writeFixture(dir, "s0.warc.gz", 4, gz = true)
    writeFixture(dir, "s1.warc.gz", 3, gz = true)
    val df = spark.read.format("warc").load(dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions === 2, "one task per shard file")
    assert(df.count() === (1 + 8) + (1 + 6))
    val responses = df.filter(col("warc_type") === "response" &&
      col("http_status") === 200)
    assert(responses.count() === 7)
    // body fidelity + per-record identity
    val rows = responses
      .select(col("target_uri"), col("http_content_type"), col("payload"))
      .collect()
    assert(rows.forall(_.getString(1) === "text/html; charset=utf-8"))
    val byUri = rows.map(r => r.getString(0) ->
      new String(r.getAs[Array[Byte]](2), "UTF-8")).toMap
    assert(byUri("https://ex.com/d/2") === new String(doc(2), "UTF-8"))
    // pushed filters reach the scan (plan-visible)
    val plan = responses.queryExecution.executedPlan.toString
    assert(plan.contains("warc_type"), s"pushed filter must show: $plan")
    // limit early-stop
    assert(df.limit(3).count() === 3)
    // meta-only projection works with payload pruned
    assert(df.select("warc_type").where(col("warc_type") === "request")
      .count() === 7)
  }

  test("http body decoding: gzip, deflate (zlib + raw), chunked, chained") {
    val body = ("Etaoin shrdlu " * 40).getBytes("UTF-8")
    def block(wire: Array[Byte], extra: String*) =
      httpResponseBlock(wire, "text/html; charset=utf-8", extra)
    def decoded(wire: Array[Byte], extra: String*) = {
      val h = httpSplit(block(wire, extra: _*), decodeBody = true).get
      (h.body.toSeq, h.remainingEncoding)
    }
    assert(decoded(gzipBody(body), "Content-Encoding: gzip")
      === (body.toSeq, ""))
    assert(decoded(deflateBody(body), "Content-Encoding: deflate")
      === (body.toSeq, ""), "zlib-wrapped deflate (the RFC form)")
    assert(decoded(deflateBody(body, raw = true), "Content-Encoding: deflate")
      === (body.toSeq, ""), "raw deflate (the buggy-server population)")
    assert(decoded(chunkedBody(body, 37), "Transfer-Encoding: chunked")
      === (body.toSeq, ""))
    // the real-wire chain: entity gzipped, message chunked — reversed
    // transfer-first
    assert(decoded(chunkedBody(gzipBody(body), 50),
      "Content-Encoding: gzip", "Transfer-Encoding: chunked")
      === (body.toSeq, ""))
    // x-gzip alias and a chunk-extension size line
    assert(decoded(gzipBody(body), "Content-Encoding: x-gzip")
      === (body.toSeq, ""))
    val ext = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(s"${body.length.toHexString};name=v\r\n".getBytes("UTF-8"))
      b.write(body); b.write("\r\n0\r\n\r\n".getBytes("UTF-8"))
      b.toByteArray
    }
    assert(decoded(ext, "Transfer-Encoding: chunked") === (body.toSeq, ""))
    // identity tokens are transparent
    assert(decoded(body, "Content-Encoding: identity") === (body.toSeq, ""))
    // header-only split (decodeBody = false) leaves the wire bytes
    val h = httpSplit(block(gzipBody(body), "Content-Encoding: gzip")).get
    assert(h.body.toSeq === gzipBody(body).toSeq && h.remainingEncoding === "")
  }

  test("undecodable encodings surface raw bytes plus the leftover chain") {
    val body = "br-compressed-pretend".getBytes("UTF-8")
    val blk = httpResponseBlock(body, "text/html",
      Seq("Content-Encoding: br"))
    val h = httpSplit(blk, decodeBody = true).get
    assert(h.body.toSeq === body.toSeq && h.remainingEncoding === "br",
      "unknown coding: raw bytes kept, chain surfaced — never mojibake-silent")
    // gzip OUTSIDE br decodes; br remains
    val blk2 = httpResponseBlock(gzipBody(body), "text/html",
      Seq("Content-Encoding: br, gzip"))
    val h2 = httpSplit(blk2, decodeBody = true).get
    assert(h2.body.toSeq === body.toSeq && h2.remainingEncoding === "br")
    // transfer decodes first and independently: chunked framing comes
    // off even when the entity stays br-compressed — and the header-
    // only verdict must MATCH what decodePayload leaves
    assert(remainingChain("chunked", "br") === "br")
    val (deBr, remBr) = decodePayload(
      chunkedBody("brrr".getBytes("UTF-8"), 2), "chunked", "br")
    assert(deBr.toSeq === "brrr".getBytes("UTF-8").toSeq && remBr === "br")
    assert(remainingChain("chunked", "gzip") === "")
    assert(remainingChain("", "br, gzip") === "br")
    assert(remainingChain("", "gzip") === "")
    // chunked is a TRANSFER coding: a buggy `Content-Encoding:
    // chunked` is not decodable there, and both paths say so
    assert(remainingChain("", "chunked") === "chunked")
    val (rawC, remC) = decodePayload("x".getBytes("UTF-8"), "", "chunked")
    assert(rawC.toSeq === "x".getBytes("UTF-8").toSeq && remC === "chunked")
    // a transfer leftover blocks the content layer beneath it
    assert(remainingChain("foo", "gzip") === "te:foo,gzip")
  }

  test("corrupt encoded bodies fail loudly, with context") {
    val body = ("quality data " * 30).getBytes("UTF-8")
    def split(wire: Array[Byte], extra: String*) =
      httpSplit(httpResponseBlock(wire, "text/html", extra),
        decodeBody = true)
    // corrupt deflate stream
    val garbage = Array.fill[Byte](64)(0x55)
    val e1 = intercept[IllegalArgumentException] {
      split(garbage, "Content-Encoding: deflate")
    }
    assert(e1.getMessage.contains("deflate"))
    // truncated gzip member
    val gz = gzipBody(body)
    val e2 = intercept[IllegalArgumentException] {
      split(java.util.Arrays.copyOfRange(gz, 0, gz.length - 6),
        "Content-Encoding: gzip")
    }
    assert(e2.getMessage.contains("truncated") ||
      e2.getMessage.contains("trailer"))
    // malformed chunk framing: bad size line, overrun, missing CRLF
    val e3 = intercept[IllegalArgumentException] {
      split("zz\r\nabc\r\n0\r\n\r\n".getBytes("UTF-8"),
        "Transfer-Encoding: chunked")
    }
    assert(e3.getMessage.contains("chunk size"))
    val e4 = intercept[IllegalArgumentException] {
      split("ff\r\nshort\r\n0\r\n\r\n".getBytes("UTF-8"),
        "Transfer-Encoding: chunked")
    }
    assert(e4.getMessage.contains("overruns"))
    val e5 = intercept[IllegalArgumentException] {
      split("3\r\nabcX\r\n0\r\n\r\n".getBytes("UTF-8"),
        "Transfer-Encoding: chunked")
    }
    assert(e5.getMessage.contains("CRLF"))
  }

  test("source: payload projection decodes; http_content_encoding column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_enc").toFile
    val body = "the entity text".getBytes("UTF-8")
    val recs = Seq(
      WriteRecord("response", "https://ex.com/gz",
        httpResponseBlock(gzipBody(body), "text/plain; charset=utf-8",
          Seq("Content-Encoding: gzip")),
        contentType = "application/http; msgtype=response"),
      WriteRecord("response", "https://ex.com/br",
        httpResponseBlock("opaque".getBytes("UTF-8"), "text/plain",
          Seq("Content-Encoding: br")),
        contentType = "application/http; msgtype=response"),
      WriteRecord("response", "https://ex.com/plain",
        httpResponseBlock(body, "text/plain"),
        contentType = "application/http; msgtype=response"))
    val f = new java.io.File(dir, "enc.warc.gz")
    java.nio.file.Files.write(f.toPath, writeWarc(recs, gzipPerRecord = true))
    val df = spark.read.format("warc").load(f.getAbsolutePath)
    val rows = df.select("target_uri", "http_content_encoding", "payload")
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), new String(r.getAs[Array[Byte]](2), "UTF-8")))
      .toMap
    assert(rows("https://ex.com/gz") === (None, "the entity text"),
      "gzip body decodes; no leftover encoding")
    assert(rows("https://ex.com/br") === (Some("br"), "opaque"),
      "br surfaces raw with the chain visible")
    assert(rows("https://ex.com/plain") === (None, "the entity text"))
    // header-only projections never pay for (or trip over) the body:
    // corrupt gzip body + no payload column = clean read
    val bad = new java.io.File(dir, "bad.warc")
    java.nio.file.Files.write(bad.toPath, writeWarc(Seq(
      WriteRecord("response", "https://ex.com/corrupt",
        httpResponseBlock(Array.fill[Byte](32)(0x55),
          "text/plain", Seq("Content-Encoding: gzip")),
        contentType = "application/http; msgtype=response"))))
    val headerOnly = spark.read.format("warc").load(bad.getAbsolutePath)
      .select("target_uri", "http_status", "http_content_encoding")
    assert(headerOnly.collect().map(r =>
      (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSeq ===
      Seq(("https://ex.com/corrupt", 200, None)))
    // ...but projecting payload trips the strict decode (collect, not
    // count — count prunes the payload column and the decode with it)
    val ex = intercept[Exception] {
      spark.read.format("warc").load(bad.getAbsolutePath)
        .select("payload").collect()
    }
    assert(causeMessages(ex).toLowerCase.contains("gzip"))
  }

  test("wire-encoding property: random bodies x random chains round trip") {
    // any stack of the decodable codings, applied in any order, must
    // come back byte-identical with an empty leftover chain — the
    // decode loop walks right-to-left over whatever a server declared
    val rng = new scala.util.Random(4217)
    def enc(tok: String, b: Array[Byte]): Array[Byte] = tok match {
      case "chunked" => chunkedBody(b, 1 + rng.nextInt(97))
      case "gzip" | "x-gzip" => gzipBody(b)
      case "deflate" =>
        deflateBody(b, raw = rng.nextBoolean()) // both server populations
    }
    (1 to 60).foreach { i =>
      val body = {
        val b = new Array[Byte](rng.nextInt(3000))
        rng.nextBytes(b); b
      }
      // content chain (inner-to-outer application order, left-to-right
      // header order); transfer layer optionally chunked on top
      val cts = Seq.fill(rng.nextInt(3))(
        Seq("gzip", "x-gzip", "deflate")(rng.nextInt(3)))
      val te = if (rng.nextBoolean()) Seq("chunked") else Seq.empty
      var wire = body
      cts.foreach(t => wire = enc(t, wire))
      te.foreach(t => wire = enc(t, wire))
      val extra =
        (if (cts.nonEmpty) Seq("Content-Encoding: " + cts.mkString(", "))
         else Seq.empty) ++
          (if (te.nonEmpty) Seq("Transfer-Encoding: chunked") else Seq.empty)
      val h = httpSplit(
        httpResponseBlock(wire, "application/octet-stream", extra),
        decodeBody = true).get
      assert(h.remainingEncoding === "", s"case $i: $cts/$te")
      assert(h.body.toSeq === body.toSeq,
        s"case $i: chain $cts + $te must round trip byte-identically")
    }
  }

  test("revisit resolution: digest attribution, dangling referents visible") {
    import org.apache.spark.sql.graftfns.WarcDigest
    // the canonical empty-payload digest every WARC toolchain agrees on
    assert(WarcDigest.labeled(Array.empty[Byte])
      === "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
    assert(WarcDigest.base32(Array[Byte](0)) === "AA",
      "partial final group is emitted unpadded")
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_rev").toFile
    val bodyA = "<p>stored page A</p>".getBytes("UTF-8")
    val bodyB = "<p>stored page B</p>".getBytes("UTF-8")
    val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
      .getBytes("UTF-8")
    def resp(uri: String, body: Array[Byte], id: String) =
      WriteRecord("response", uri, httpResponseBlock(body, "text/html"),
        contentType = "application/http; msgtype=response", recordId = id)
    def rev(uri: String, digest: String, refersTo: String) =
      WriteRecord("revisit", uri, head,
        contentType = "application/http; msgtype=response",
        extraHeaders = Seq("WARC-Payload-Digest" -> digest,
          "WARC-Refers-To" -> refersTo,
          "WARC-Profile" ->
            "http://netpreservation.org/warc/1.1/revisit/identical-payload-digest"))
    val recs = Seq(
      resp("https://ex.com/a", bodyA, "<urn:uuid:a>"),
      resp("https://ex.com/b", bodyB, "<urn:uuid:b>"),
      // two re-fetches of A, one of B
      rev("https://ex.com/a?r=1", WarcDigest.labeled(bodyA), "<urn:uuid:a>"),
      rev("https://ex.com/a?r=2", WarcDigest.labeled(bodyA), "<urn:uuid:a>"),
      rev("https://ex.com/b?r=1", WarcDigest.labeled(bodyB), "<urn:uuid:b>"),
      // a dangling revisit: its referent lives in a shard not read here
      rev("https://ex.com/gone?r=1",
        WarcDigest.labeled("elsewhere".getBytes("UTF-8")), "<urn:uuid:gone>"))
    val f = new java.io.File(dir, "rev.warc.gz")
    java.nio.file.Files.write(f.toPath, writeWarc(recs, gzipPerRecord = true))
    val crawl = spark.read.format("warc").load(f.getAbsolutePath)
    // the revisit headers surface as columns
    val revRows = crawl.filter(col("warc_type") === "revisit")
      .select("target_uri", "payload_digest", "refers_to").collect()
    assert(revRows.length === 4)
    assert(revRows.forall(r => r.getString(1).startsWith("sha1:") &&
      r.getString(2).startsWith("<urn:uuid:")))
    // resolution: copies = 1 + matching revisits, all columns kept
    val resolved = RevisitResolve.resolve(crawl)
      .select("target_uri", "copies").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resolved === Map("https://ex.com/a" -> 3L, "https://ex.com/b" -> 2L))
    // the dangling referent is visible, never silently dropped
    val gone = RevisitResolve.dangling(crawl)
      .select("target_uri").collect().map(_.getString(0)).toSeq
    assert(gone === Seq("https://ex.com/gone?r=1"))
  }

  test("revisit resolution: header-digest wins for wire-form bodies, " +
      "duplicate responses attribute once") {
    import org.apache.spark.sql.graftfns.WarcDigest
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_rev2").toFile
    val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
      .getBytes("UTF-8")
    def rev(uri: String, digest: String, refersTo: String) =
      WriteRecord("revisit", uri, head,
        contentType = "application/http; msgtype=response",
        extraHeaders = Seq("WARC-Payload-Digest" -> digest,
          "WARC-Refers-To" -> refersTo,
          "WARC-Profile" ->
            "http://netpreservation.org/warc/1.1/revisit/identical-payload-digest"))
    // a self-recorded crawl STORING the wire form: entity gzipped in
    // the block, the crawler's digest computed over the STORED bytes
    // (the header), never the decoded entity the reader surfaces —
    // the ADVICE r17 shape where computed-only matching strands every
    // revisit in dangling()
    val bodyW = "<p>wire-form page</p>".getBytes("UTF-8")
    val storedW = gzipBody(bodyW)
    val wireResp = WriteRecord("response", "https://ex.com/w",
      httpResponseBlock(storedW, "text/html",
        Seq("Content-Encoding: gzip")),
      contentType = "application/http; msgtype=response",
      recordId = "<urn:uuid:w>",
      extraHeaders = Seq(
        "WARC-Payload-Digest" -> WarcDigest.labeled(storedW)))
    // a MERGED archive: two segments each stored page D (same body,
    // distinct records) — n revisits must attach to exactly one
    val bodyD = "<p>doubly stored page</p>".getBytes("UTF-8")
    def respD(id: String) = WriteRecord("response", s"https://ex.com/d",
      httpResponseBlock(bodyD, "text/html"),
      contentType = "application/http; msgtype=response", recordId = id)
    val recs = Seq(
      wireResp,
      rev("https://ex.com/w?r=1", WarcDigest.labeled(storedW), "<urn:uuid:w>"),
      respD("<urn:uuid:d1>"), respD("<urn:uuid:d2>"),
      rev("https://ex.com/d?r=1", WarcDigest.labeled(bodyD), "<urn:uuid:d1>"),
      rev("https://ex.com/d?r=2", WarcDigest.labeled(bodyD), "<urn:uuid:d1>"))
    val f = new java.io.File(dir, "rev2.warc.gz")
    java.nio.file.Files.write(f.toPath, writeWarc(recs, gzipPerRecord = true))
    val crawl = spark.read.format("warc").load(f.getAbsolutePath)
    val resolved = RevisitResolve.resolve(crawl)
      .select("record_id", "copies").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // header digest matched the stored-form revisit: copies = 2, and
    // the wire revisit is NOT dangling
    assert(resolved("<urn:uuid:w>") === 2L)
    // attribute-once: the first record_id takes both revisits, the
    // duplicate keeps copies = 1 — sum(copies) = responses + revisits
    assert(resolved("<urn:uuid:d1>") === 3L)
    assert(resolved("<urn:uuid:d2>") === 1L)
    assert(resolved.values.sum === recs.size.toLong,
      "sum(copies) must equal responses + matched revisits")
    assert(RevisitResolve.dangling(crawl).count() === 0L)
  }

  test("malformed framing fails loudly, never silently skips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_bad").toFile
    val good = writeWarc(fixtureRecords(1))
    // truncate inside the last record's block
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 10)
    val f = new java.io.File(dir, "bad.warc")
    java.nio.file.Files.write(f.toPath, truncated)
    val ex = intercept[Exception] {
      spark.read.format("warc").load(f.getAbsolutePath).count()
    }
    assert(causeMessages(ex).contains("truncated"))
    val junk = new java.io.File(dir, "junk.warc")
    java.nio.file.Files.write(junk.toPath, "not a warc at all".getBytes("UTF-8"))
    val ex2 = intercept[Exception] {
      spark.read.format("warc").load(junk.getAbsolutePath).count()
    }
    assert(causeMessages(ex2).contains("WARC version"))
  }

  test("streaming: shards landing mid-stream ingest exactly once, restart resumes") {
    val in = java.nio.file.Files.createTempDirectory("graft_warc_str").toFile
    val outDir = java.nio.file.Files.createTempDirectory("graft_warc_strout").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_warc_strck").toString
    writeFixture(in, "s0.warc.gz", 2, gz = true)
    def start() = spark.readStream.format("warc").load(in.getAbsolutePath)
      .filter(col("warc_type") === "response")
      .select(col("target_uri"), col("payload"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
      .start()
    def uris(): Set[String] =
      spark.read.parquet(outDir).select("target_uri").collect()
        .map(_.getString(0)).toSet
    val q = start()
    try {
      q.processAllAvailable()
      assert(uris() === (0 until 2).map(i => s"https://ex.com/d/$i").toSet)
      // a NEW shard lands mid-stream: only its records append
      writeFixture(in, "s1.warc.gz", 3, gz = true)
      q.processAllAvailable()
      assert(uris() === (0 until 3).map(i => s"https://ex.com/d/$i").toSet +
        "https://ex.com/d/0" + "https://ex.com/d/1")
      assert(spark.read.parquet(outDir).count() === 5,
        "the already-processed shard must not replay")
    } finally q.stop()
    // RESTART from the checkpoint: nothing replays, new shards ingest
    writeFixture(in, "s2.warc.gz", 1, gz = true)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).count() === 6,
        "a restart must resume from the processed-file offset")
    } finally q2.stop()
  }

  test("truncated or corrupt .warc.gz fails loudly — never parses as complete") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_gzbad").toFile
    val good = writeWarc(fixtureRecords(2), gzipPerRecord = true)
    // (a) cut mid final member: the JDK reader would serve a clean EOF
    val cut = new java.io.File(dir, "cut.warc.gz")
    java.nio.file.Files.write(cut.toPath,
      java.util.Arrays.copyOfRange(good, 0, good.length - 15))
    val ex = intercept[Exception] {
      spark.read.format("warc").load(cut.getAbsolutePath).count()
    }
    assert(causeMessages(ex).contains("truncat"),
      s"mid-member cut must fail loudly: ${causeMessages(ex)}")
    // (b) corrupt a SUBSEQUENT member's magic: the JDK reader treats it
    // as clean EOF and silently drops every record after it
    val memberEnds = {
      // member boundaries = positions where a fresh gzip magic starts
      (1 until good.length - 1).filter(i =>
        (good(i) & 0xff) == 0x1f && (good(i + 1) & 0xff) == 0x8b)
    }
    assert(memberEnds.nonEmpty, "fixture must be multi-member")
    val corrupt = good.clone()
    corrupt(memberEnds.head) = 'X'.toByte
    val cf = new java.io.File(dir, "corrupt.warc.gz")
    java.nio.file.Files.write(cf.toPath, corrupt)
    val ex2 = intercept[Exception] {
      spark.read.format("warc").load(cf.getAbsolutePath).count()
    }
    assert(causeMessages(ex2).contains("magic"),
      s"corrupt next-member header must fail loudly: ${causeMessages(ex2)}")
    // (c) flipped payload byte inside a member: CRC mismatch
    val deepIdx = memberEnds.head + 24 // inside member 2's deflate data
    val flipped = good.clone()
    flipped(deepIdx) = (flipped(deepIdx) ^ 0x55).toByte
    val ff = new java.io.File(dir, "flip.warc.gz")
    java.nio.file.Files.write(ff.toPath, flipped)
    val ex3 = intercept[Exception] {
      spark.read.format("warc").load(ff.getAbsolutePath).count()
    }
    assert(causeMessages(ex3).contains("corrupt") ||
      causeMessages(ex3).contains("truncat") ||
      causeMessages(ex3).contains("invalid"),
      s"corrupt deflate data must fail loudly: ${causeMessages(ex3)}")
  }

  test("stream offset: start unions in, transient listing failures never empty the end") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_off").toFile
    // resolveFiles emits fully-qualified URIs
    val f0 = "file:" + writeFixture(dir, "s0.warc.gz", 1, gz = true).getAbsolutePath
    val f1 = "file:" + writeFixture(dir, "s1.warc.gz", 1, gz = true).getAbsolutePath
    val stream = new WarcMicroBatchStream(dir.getAbsolutePath,
      new WarcRead(dir.getAbsolutePath, false, false).readers(WarcDataSource.Schema, Array.empty, -1),
      Array.empty)
    val zero = stream.initialOffset().asInstanceOf[WarcStreamOffset]
    val end1 = stream.latestOffset(zero, ReadLimit.allAvailable())
      .asInstanceOf[WarcStreamOffset]
    assert(end1.files === Set(f0, f1))
    // the directory goes briefly empty (delete + re-upload window):
    // the served end must RETAIN start's files, not replan them later
    new java.io.File(dir, "s0.warc.gz").delete()
    new java.io.File(dir, "s1.warc.gz").delete()
    val end2 = stream.latestOffset(end1, ReadLimit.allAvailable())
      .asInstanceOf[WarcStreamOffset]
    assert(end2.files === Set(f0, f1),
      "a transiently-empty listing must not drop committed files from the offset")
    assert(stream.planInputPartitions(end1, end2).isEmpty)
    // the shards reappear under the same names: still covered — no dup
    writeFixture(dir, "s0.warc.gz", 1, gz = true)
    writeFixture(dir, "s1.warc.gz", 1, gz = true)
    val end3 = stream.latestOffset(end2, ReadLimit.allAvailable())
      .asInstanceOf[WarcStreamOffset]
    assert(stream.planInputPartitions(end2, end3).isEmpty)
  }

  test("ordered_shards bounds the offset across landing epochs; json round-trips") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_wm").toFile
    val stream = new WarcMicroBatchStream(dir.getAbsolutePath,
      new WarcRead(dir.getAbsolutePath, true, false).readers(WarcDataSource.Schema, Array.empty, -1),
      Array.empty, orderedShards = true)
    var start = stream.initialOffset().asInstanceOf[WarcStreamOffset]
    var plannedTotal = 0
    val epochs = 12
    for (e <- 0 until epochs) {
      writeFixture(dir, f"s$e%04d.warc.gz", 1, gz = true)
      val end = stream.latestOffset(start, ReadLimit.allAvailable())
        .asInstanceOf[WarcStreamOffset]
      val batch = stream.planInputPartitions(start, end)
      plannedTotal += batch.length
      assert(batch.length === 1, s"epoch $e must plan exactly the new shard")
      // BOUNDED: watermark + this epoch's arrivals only — never the
      // full processed history
      assert(end.files.size <= 1,
        s"epoch $e offset carries ${end.files.size} explicit paths")
      // checkpoint resume equality: json round-trip is identity
      assert(WarcStreamOffset.parse(end.json()) === end)
      start = end
    }
    assert(plannedTotal === epochs, "every shard planned exactly once")
    assert(start.watermark.isDefined)
    // legacy (pre-watermark) offset json still parses
    val legacy = WarcStreamOffset(Set("/a/b.warc.gz", "/a/c.warc.gz"))
    assert(WarcStreamOffset.parse(legacy.json()) === legacy)
    // end-to-end: the option threads through readStream and the
    // checkpoint's final offset entry is compact
    val in2 = java.nio.file.Files.createTempDirectory("graft_warc_wm2").toFile
    val outDir = java.nio.file.Files.createTempDirectory("graft_warc_wm2o").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_warc_wm2c").toString
    for (e <- 0 until 3) writeFixture(in2, f"t$e.warc.gz", 1, gz = true)
    val q = spark.readStream.format("warc").option("ordered_shards", "true")
      .load(in2.getAbsolutePath)
      .filter(col("warc_type") === "response")
      .select(col("target_uri"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
      .start()
    try {
      q.processAllAvailable()
      writeFixture(in2, "t3.warc.gz", 1, gz = true)
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() === 4)
    } finally q.stop()
    val offsetFiles = new java.io.File(ck, "offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val lastOffsetJson = {
      val lines = java.nio.file.Files.readAllLines(
        offsetFiles.last.toPath).toArray.map(_.toString)
      lines.last
    }
    assert(lastOffsetJson.contains("watermark"),
      s"checkpointed offset must be compacted: $lastOffsetJson")
  }

  test("header folding and glob/list resolution") {
    val folded = ("WARC/1.0\r\nWARC-Type: metadata\r\n" +
      "WARC-Record-ID: <urn:x>\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
      "X-Long: first\r\n  continued\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
      .getBytes("UTF-8")
    val r = records(new java.io.ByteArrayInputStream(folded)).toSeq
    assert(r.size === 1 && r.head.headers("x-long") === "first continued")
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_glob").toFile
    writeFixture(dir, "g0.warc", 1, gz = false)
    writeFixture(dir, "g1.warc", 1, gz = false)
    assert(WarcDataSource.files(dir.getAbsolutePath + "/*.warc").size === 2)
    val listed = WarcDataSource.files(dir.getAbsolutePath)
    assert(WarcDataSource.files(listed.mkString("\n")) === listed)
  }
}
