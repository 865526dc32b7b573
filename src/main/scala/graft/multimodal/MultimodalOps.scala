package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns as opaque binary + typed
  * metadata — the generalization of the reference's raw `data` blob
  * column (reference MessageTable.cpp:339-343, README.md:106: "you
  * don't lose any data"; blob externalization wishlist
  * rosbag2parquet.cpp:26, README.md:137).
  *
  * Image (PNG/JPEG/BMP/GIF via `javax.imageio`) and audio (WAV/AIFF
  * via `javax.sound.sampled`) decode are REAL — both codecs ship in
  * the JDK, no external libraries. Video: raw MJPEG streams AND
  * AVI-contained MJPEG decode end-to-end (the RIFF walk is pure bytes,
  * each frame a JDK-readable JPEG); only inter-frame codecs (H.264
  * etc.) remain behind a clearly-labeled deterministic stub whose
  * Spark-side plumbing (explode cardinality, per-frame keying) is
  * real and swaps to a codec without touching the shape.
  */
object MultimodalOps {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true)))

  // ---- REAL header parsing (pure bytes, no codec) ----

  /** Parse PNG IHDR / JPEG SOF0 / AVI avih dimensions straight from
    * the blob — metadata extraction without decoding, the exact "read
    * the header before deciding whether to incur I/O for the image"
    * motivation of the reference (README.md:10). Returns null struct
    * fields for unrecognized formats.
    */
  def parseImageMeta(blob: Array[Byte]): Row = {
    if (isAvi(blob)) return parseAviMeta(blob)
    def beInt(o: Int): Int =
      ((blob(o) & 0xFF) << 24) | ((blob(o + 1) & 0xFF) << 16) |
        ((blob(o + 2) & 0xFF) << 8) | (blob(o + 3) & 0xFF)
    def beShort(o: Int): Int = ((blob(o) & 0xFF) << 8) | (blob(o + 1) & 0xFF)
    if (blob.length >= 24 &&
        blob(0) == 0x89.toByte && blob(1) == 'P' && blob(2) == 'N' && blob(3) == 'G') {
      Row("png", beInt(16), beInt(20), 1, null)   // IHDR at offset 16/20
    } else if (blob.length >= 4 && blob(0) == 0xFF.toByte && blob(1) == 0xD8.toByte) {
      // JPEG: walk segments to SOF0/SOF2. 0xFF fill bytes may pad
      // between segments, and TEM (0x01) / RST0-7 (0xD0-0xD7) are
      // standalone markers with NO length field — treating either as
      // marker+length would desynchronize the walk on valid files.
      var o = 2
      var res: Row = Row("jpeg", null, null, 1, null)
      var done = false
      while (!done && o + 1 < blob.length) {
        if (blob(o) != 0xFF.toByte) { done = true }
        else {
          var m = o + 1                       // skip consecutive fill bytes
          while (m < blob.length - 1 && blob(m) == 0xFF.toByte) m += 1
          val marker = blob(m) & 0xFF
          if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
            o = m + 1                         // standalone: no length field
          } else if (marker == 0xD9 || m + 2 >= blob.length) {
            done = true                       // EOI or truncated
          } else {
            val len = beShort(m + 1)
            if (marker == 0xC0 || marker == 0xC2) {
              if (m + 7 < blob.length)        // precision @m+3, h @m+4, w @m+6
                res = Row("jpeg", beShort(m + 6), beShort(m + 4), 1, null)
              done = true
            } else o = m + 1 + len
          }
        }
      }
      res
    } else Row(null, null, null, null, null)
  }

  /** Attach parsed media metadata as a typed struct column. */
  def withImageMeta(df: DataFrame, blobCol: String, out: String = "media"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField(out, mediaMetaSchema, nullable = true))
    val rows = df.rdd.mapPartitions(_.map { r =>
      Row.fromSeq(r.toSeq :+ parseImageMeta(r.getAs[Array[Byte]](blobCol)))
    })
    spark.createDataFrame(rows, schema)
  }

  // ---- blob-budget partitioning ----

  /** Repartition so each partition holds roughly `targetBytes` of blob
    * payload — media rows are KB..MB-scale, so row-count-based
    * partitioning mis-sizes tasks by orders of magnitude. One cheap
    * metadata pass (sum of lengths) sizes the shuffle.
    */
  def repartitionByBlobBudget(df: DataFrame, blobCol: String,
                              targetBytes: Long = 128L << 20): DataFrame = {
    val total = df.agg(coalesce(sum(length(col(blobCol)).cast("long")), lit(0L)))
      .head().getLong(0)
    val parts = math.max(1, math.min(10000, (total / targetBytes).toInt + 1))
    df.repartition(parts)
  }

  // ---- REAL image decode (javax.imageio: PNG/JPEG/BMP/GIF, JDK-native) ----

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("rms", FloatType, nullable = true),
    StructField("peak", FloatType, nullable = true)))

  /** Decode one image blob; None when no installed reader recognizes
    * the bytes (ImageIO probes by content, not extension).
    */
  private def readImage(blob: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob)))
    catch { case _: Exception => None }

  /** REAL image feature extraction: decode the blob and compute
    * `[log-width, log-height, aspect, meanR, meanG, meanB, lumaStd,
    * lumaHist(histBins)...]`, all in [0,1] — the classic cheap visual
    * fingerprint for near-dup / quality filtering over image corpora.
    * Pixels are sampled with a stride that caps work at ~64k samples
    * per image so a 4k frame costs the same as a thumbnail. Rows whose
    * blob no codec recognizes get a null vector (filter with
    * `col(out).isNotNull`).
    */
  def decodeImageFeatures(df: DataFrame, blobCol: String, histBins: Int = 8,
                          out: String = "features"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField(out, ArrayType(FloatType, containsNull = false), nullable = true))
    val rows = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)   // no temp-file cache per decode
      it.map { r =>
        val feats = readImage(r.getAs[Array[Byte]](blobCol)).map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val stride = math.max(1, math.sqrt(w.toLong * h / 65536.0).toInt)
          var n = 0
          var sr = 0.0; var sg = 0.0; var sb = 0.0
          var sl = 0.0; var sl2 = 0.0
          val hist = new Array[Int](histBins)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val cr = (rgb >> 16) & 0xFF; val cg = (rgb >> 8) & 0xFF; val cb = rgb & 0xFF
              val lum = (0.299 * cr + 0.587 * cg + 0.114 * cb) / 255.0
              sr += cr; sg += cg; sb += cb; sl += lum; sl2 += lum * lum
              hist(math.min(histBins - 1, (lum * histBins).toInt)) += 1
              n += 1
              x += stride
            }
            y += stride
          }
          val meanL = sl / n
          val std = math.sqrt(math.max(0, sl2 / n - meanL * meanL))
          Array(
            (math.log1p(w.toDouble) / 16.0).toFloat,   // log-scaled dims: ~[0,1] up to 8.8M px wide
            (math.log1p(h.toDouble) / 16.0).toFloat,
            (w.toDouble / (w + h)).toFloat,            // aspect in (0,1)
            (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat, (sb / n / 255.0).toFloat,
            std.toFloat) ++
            hist.map(c => c.toFloat / n)
        }
        Row.fromSeq(r.toSeq :+ feats.map(_.toSeq).orNull)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** REAL decode + resize to `w`×`h` 8-bit grayscale (row-major bytes)
    * via Java2D bilinear scaling — canonical fixed-shape model-input
    * prep. Null for undecodable blobs.
    */
  def resizeToGray(df: DataFrame, blobCol: String, w: Int = 32, h: Int = 32,
                   out: String = "gray"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField(out, BinaryType, nullable = true))
    val rows = df.rdd.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val gray = readImage(r.getAs[Array[Byte]](blobCol)).map { img =>
          val dst = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
          } finally g.dispose()
          dst.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte]
            .getData.clone()
        }
        Row.fromSeq(r.toSeq :+ gray.orNull)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  // ---- REAL audio decode (javax.sound.sampled: WAV/AIFF/AU, JDK-native) ----

  /** REAL audio decode: parse the blob with `javax.sound.sampled`,
    * normalize to signed 16-bit PCM, and compute
    * `(sample_rate, channels, n_samples per channel, rms, peak)` with
    * rms/peak in [0,1]. Null struct for blobs no audio reader accepts.
    * Streams fixed 64 KiB buffers — constant memory per row regardless
    * of clip length.
    */
  def audioFeatures(df: DataFrame, blobCol: String, out: String = "audio"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField(out, audioMetaSchema, nullable = true))
    val rows = df.rdd.mapPartitions { it =>
      it.map { r =>
        val blob = r.getAs[Array[Byte]](blobCol)
        val meta = try {
          import javax.sound.sampled._
          val in = AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(blob))
          try {
            val src = in.getFormat
            val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
              src.getSampleRate, 16, src.getChannels, 2 * src.getChannels,
              src.getSampleRate, false)
            val pcm = AudioSystem.getAudioInputStream(fmt, in)
            try {
              val buf = new Array[Byte](1 << 16)
              var nSamp = 0L; var sum2 = 0.0; var peak = 0.0
              var read = pcm.read(buf)
              while (read > 0) {
                var i = 0
                while (i + 1 < read) {
                  val s = ((buf(i + 1) << 8) | (buf(i) & 0xFF)) / 32768.0
                  sum2 += s * s; if (math.abs(s) > peak) peak = math.abs(s)
                  nSamp += 1
                  i += 2
                }
                read = pcm.read(buf)
              }
              val perChan = nSamp / math.max(1, fmt.getChannels)
              Row(fmt.getSampleRate.toInt, fmt.getChannels, perChan,
                math.sqrt(sum2 / math.max(1L, nSamp)).toFloat, peak.toFloat)
            } finally pcm.close()
          } finally in.close()
        } catch { case _: Exception => null }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  // ---- STUBBED decode / feature ops (deterministic fakes) ----

  /** STUB: "decode" an image blob to a fixed-size feature vector. The
    * batch shape is real — rows are processed per-partition with a
    * reusable "codec" context (the expensive-init pattern of real
    * decoders); the pixel math is a deterministic fake from the blob
    * bytes (no image libs in this container).
    */
  def decodeFeaturesStub(df: DataFrame, blobCol: String, dim: Int = 16,
                         out: String = "features"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField(out, ArrayType(FloatType, containsNull = false), nullable = false))
    val rows = df.rdd.mapPartitions { it =>
      // per-partition "codec init" happens once, like a real decoder ctx
      val codecSeed = 0x5EED
      it.map { r =>
        val blob = r.getAs[Array[Byte]](blobCol)
        val feats = Array.tabulate(dim) { i =>
          var h = codecSeed + i
          var j = i
          while (j < blob.length) { h = h * 31 + blob(j); j += dim }
          (h & 0xFFFF) / 65535.0f
        }
        Row.fromSeq(r.toSeq :+ feats.toSeq)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Frame byte ranges of a raw MJPEG stream (concatenated JPEGs):
    * each frame spans SOI (FFD8) .. EOI (FFD9). Nested SOIs (embedded
    * thumbnails) are not tracked — camera MJPEG streams don't carry
    * them; a thumbnail-bearing stream would split early at the
    * thumbnail's EOI and the decode require below fails loudly rather
    * than emitting garbage frames.
    */
  private[multimodal] def mjpegFrameRanges(blob: Array[Byte]): Seq[(Int, Int)] = {
    val frames = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = 0
    var start = -1
    while (i + 1 < blob.length) {
      val b0 = blob(i) & 0xFF
      val b1 = blob(i + 1) & 0xFF
      if (b0 == 0xFF && b1 == 0xD8 && start < 0) { start = i; i += 2 }
      else if (b0 == 0xFF && b1 == 0xD9 && start >= 0) {
        frames += ((start, i + 2)); start = -1; i += 2
      } else i += 1
    }
    frames.toSeq
  }

  // ---- AVI (RIFF) container: pure-bytes parse, public format ----

  private[multimodal] def isAvi(blob: Array[Byte]): Boolean =
    blob.length >= 12 &&
      blob(0) == 'R' && blob(1) == 'I' && blob(2) == 'F' && blob(3) == 'F' &&
      blob(8) == 'A' && blob(9) == 'V' && blob(10) == 'I' && blob(11) == ' '

  private def leInt(blob: Array[Byte], o: Int): Long =
    (blob(o) & 0xFFL) | ((blob(o + 1) & 0xFFL) << 8) |
      ((blob(o + 2) & 0xFFL) << 16) | ((blob(o + 3) & 0xFFL) << 24)

  private def fourcc(blob: Array[Byte], o: Int): String =
    new String(blob, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Byte ranges of the FIRST video stream's frame payloads in an AVI
    * (RIFF) container — the pure-bytes walk of the public format:
    * chunks are `fourcc size(le32) data` padded to even offsets; LIST
    * chunks nest, frame data lives in the `movi` LIST (directly or
    * inside `rec ` grouping LISTs) as `NNdc`/`NNdb` chunks where NN is
    * the two-digit stream number. Streams other than the first video
    * stream (audio `NNwb`, a second camera) are skipped; sizes are
    * clamped to the blob so a truncated upload yields the complete
    * prefix of frames instead of an index error.
    */
  private[multimodal] def aviVideoFrameRanges(blob: Array[Byte]): Seq[(Int, Int)] = {
    require(isAvi(blob), "not a RIFF/AVI blob")
    val frames = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var videoStream = -1
    def walk(start: Int, end: Int): Unit = {
      var o = start
      while (o + 8 <= end) {
        val id = fourcc(blob, o)
        val size = leInt(blob, o + 4)            // unsigned le32 as Long
        val data = o + 8
        val dataEnd = math.min(end.toLong, data + size).toInt
        if (id == "LIST" && data + 4 <= dataEnd) {
          val ltype = fourcc(blob, data)
          // only frame-bearing lists recurse; hdrl/strl/odml carry
          // headers the range walk doesn't need
          if (ltype == "movi" || ltype == "rec ") walk(data + 4, dataEnd)
        } else if (id(0).isDigit && id(1).isDigit && id(2) == 'd' &&
                   (id(3) == 'c' || id(3) == 'b')) {
          val strm = (id(0) - '0') * 10 + (id(1) - '0')
          if (videoStream < 0) videoStream = strm
          if (strm == videoStream && dataEnd > data) frames += ((data, dataEnd))
        }
        // advance in LONG space, clamped: a corrupt size near 2^32
        // would wrap an Int advance backwards (or to zero progress) and
        // loop this walk forever — clamping to `end` terminates the
        // walk with the frames found so far, matching the documented
        // truncation tolerance
        o = math.min(end.toLong, data + size + (size & 1L)).toInt
      }
    }
    walk(12, blob.length)
    frames.toSeq
  }

  /** AVI main-header metadata: (format "avi", width, height,
    * n_frames, null) from the `avih` chunk inside LIST hdrl. Null
    * fields when the header is absent/truncated.
    */
  private[multimodal] def parseAviMeta(blob: Array[Byte]): Row = {
    var res: Row = Row("avi", null, null, null, null)
    var o = 12
    while (o + 8 <= blob.length) {
      val id = fourcc(blob, o)
      val size = leInt(blob, o + 4)
      val data = o + 8
      val dataEnd = math.min(blob.length.toLong, data + size).toInt
      if (id == "LIST" && data + 4 <= dataEnd && fourcc(blob, data) == "hdrl") {
        var c = data + 4
        while (c + 8 <= dataEnd) {
          if (fourcc(blob, c) == "avih" && c + 8 + 40 <= dataEnd) {
            // dwTotalFrames @16, dwWidth @32, dwHeight @36 of the payload
            res = Row("avi", leInt(blob, c + 8 + 32).toInt,
              leInt(blob, c + 8 + 36).toInt, leInt(blob, c + 8 + 16).toInt, null)
            c = dataEnd
          } else {
            val csz = leInt(blob, c + 4)
            // clamped Long advance — see aviVideoFrameRanges
            c = math.min(dataEnd.toLong, c + 8 + csz + (csz & 1L)).toInt
          }
        }
        o = blob.length
      } else o = math.min(blob.length.toLong, data + size + (size & 1L)).toInt
    }
    res
  }

  // ---- MP4 (ISO BMFF) container: pure-bytes keyframe index, public
  // format (ISO/IEC 14496-12 box structure). No decode: the index
  // walks `moov/trak/mdia/minf/stbl` and reads the four sample tables
  // (stss sync samples, stsz sizes, stsc sample→chunk runs, stco/co64
  // chunk offsets) to compute each keyframe's absolute byte range —
  // exactly what frame-range slicing/routing needs for inter-frame
  // codecs (H.264 etc.) whose DECODE stays behind sampleFramesStub.
  // Reference trace: blob-dominated bags are the reference's headline
  // output (reference README.md:89, 40 MB CompressedImage table).

  private def beInt(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  private def beLong(b: Array[Byte], o: Int): Long =
    (beInt(b, o) << 32) | beInt(b, o + 4)

  private[multimodal] def isMp4(blob: Array[Byte]): Boolean =
    blob.length >= 12 && fourcc(blob, 4) == "ftyp"

  /** Child boxes of the byte range [start, end): (fourcc, payloadStart,
    * payloadEnd). Handles 64-bit largesize (size==1) and to-end boxes
    * (size==0); a corrupt size smaller than its own header terminates
    * the walk with the boxes found so far (same truncation tolerance as
    * the RIFF walk above).
    */
  private def mp4Children(blob: Array[Byte], start: Long, end: Long): Seq[(String, Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    var o = start
    var ok = true
    while (ok && o + 8 <= end) {
      val size32 = beInt(blob, o.toInt)
      val name = fourcc(blob, o.toInt + 4)
      var hdr = 8L
      var size = size32
      if (size32 == 1L && o + 16 <= end) { size = beLong(blob, o.toInt + 8); hdr = 16L }
      else if (size32 == 0L) size = end - o
      if (size < hdr) ok = false
      else {
        out += ((name, o + hdr, math.min(end, o + size)))
        o += size
      }
    }
    out.toSeq
  }

  /** Absolute byte ranges (start, end) of the KEYFRAME (sync) samples
    * of the first video track in an MP4/ISO-BMFF blob, in sample
    * order. With no `stss` box every sample is sync (the spec's
    * default — true of keyframe-only codecs like MJPEG-in-MP4).
    * Ranges are clamped to the blob, so a truncated upload yields the
    * keyframes whose bytes are actually present.
    */
  private[multimodal] def mp4KeyframeRanges(blob: Array[Byte]): Seq[(Long, Long)] = {
    require(isMp4(blob), "not an ISO-BMFF/MP4 blob")
    val stblOpt = (for {
      (mn, ms, me) <- mp4Children(blob, 0L, blob.length.toLong) if mn == "moov"
      (tn, tks, tke) <- mp4Children(blob, ms, me) if tn == "trak"
      (dn, ds, de) <- mp4Children(blob, tks, tke) if dn == "mdia"
      // hdlr payload: version/flags @0, pre_defined @4, handler_type @8
      if mp4Children(blob, ds, de).exists { case (hn, hs, he) =>
        hn == "hdlr" && hs + 12 <= he && fourcc(blob, (hs + 8).toInt) == "vide" }
      (fn, fs, fe) <- mp4Children(blob, ds, de) if fn == "minf"
      (sn, ss, se) <- mp4Children(blob, fs, fe) if sn == "stbl"
    } yield (ss, se)).headOption
    stblOpt.toSeq.flatMap { case (ss, se) =>
      val tables = mp4Children(blob, ss, se)
      def payload(name: String): Option[(Long, Long)] =
        tables.collectFirst { case (n, s, e) if n == name => (s, e) }
      // all four are "full boxes": version(1)+flags(3) precede the fields
      val sizesOpt = payload("stsz").flatMap { case (p0, pe) =>
        if (p0 + 12 > pe) None else {
          val fixed = beInt(blob, (p0 + 4).toInt)
          val n = beInt(blob, (p0 + 8).toInt).toInt
          if (fixed != 0L) Some(Array.fill(n)(fixed))
          else if (p0 + 12 + 4L * n > pe) None
          else Some(Array.tabulate(n)(i => beInt(blob, (p0 + 12 + 4L * i).toInt)))
        }
      }
      val chunksOpt = payload("stco").flatMap { case (p0, pe) =>
        if (p0 + 8 > pe) None else {
        val n = beInt(blob, (p0 + 4).toInt).toInt
        if (p0 + 8 + 4L * n > pe) None
        else Some(Array.tabulate(n)(i => beInt(blob, (p0 + 8 + 4L * i).toInt)))
        }
      }.orElse(payload("co64").flatMap { case (p0, pe) =>
        if (p0 + 8 > pe) None else {
        val n = beInt(blob, (p0 + 4).toInt).toInt
        if (p0 + 8 + 8L * n > pe) None
        else Some(Array.tabulate(n)(i => beLong(blob, (p0 + 8 + 8L * i).toInt)))
        }
      })
      val stscOpt = payload("stsc").flatMap { case (p0, pe) =>
        if (p0 + 8 > pe) None else {
        val n = beInt(blob, (p0 + 4).toInt).toInt
        if (p0 + 8 + 12L * n > pe) None
        else Some(Array.tabulate(n) { i =>
          val e0 = (p0 + 8 + 12L * i).toInt
          (beInt(blob, e0).toInt, beInt(blob, e0 + 4).toInt) // (firstChunk 1-based, samplesPerChunk)
        })
        }
      }
      (sizesOpt, chunksOpt, stscOpt) match {
        case (Some(sizes), Some(chunkOffs), Some(stsc)) if stsc.nonEmpty =>
          // expand chunk runs to per-sample absolute offsets
          val offsets = new Array[Long](sizes.length)
          var sample = 0
          var chunk = 1
          while (sample < sizes.length && chunk <= chunkOffs.length) {
            // the run whose firstChunk is the largest <= this chunk
            val spc = stsc.takeWhile(_._1 <= chunk).lastOption.map(_._2).getOrElse(0)
            var off = chunkOffs(chunk - 1)
            var i = 0
            while (i < spc && sample < sizes.length) {
              offsets(sample) = off
              off += sizes(sample)
              sample += 1; i += 1
            }
            chunk += 1
          }
          val sync: Seq[Int] = payload("stss") match {
            case Some((p0, pe)) =>
              // a table clipped by truncation yields no keyframes (the
              // count or entries are gone) rather than fake ranges
              val n = if (p0 + 8 > pe) -1 else beInt(blob, (p0 + 4).toInt).toInt
              if (n < 0 || p0 + 8 + 4L * n > pe) Seq.empty
              else (0 until n).map(i => beInt(blob, (p0 + 8 + 4L * i).toInt).toInt)
            case None => (1 to sizes.length) // no stss ⇒ every sample is sync
          }
          sync.filter(s => s >= 1 && s <= sample).flatMap { s =>
            val (a, b) = (offsets(s - 1), offsets(s - 1) + sizes(s - 1))
            // clamp to the blob: keep only keyframes whose bytes exist
            if (a >= blob.length) None
            else Some((a, math.min(b, blob.length.toLong)))
          }
        case _ => Seq.empty
      }
    }
  }

  // ---- MKV/WebM (EBML) container: pure-bytes Cues index, public
  // format (the Matroska EBML element tree). Cues list the keyframe-
  // bearing Cluster positions — the container-level seek index — so
  // (cue time, absolute byte offset) is the slicing handle for
  // inter-frame video without any codec work.

  private[multimodal] def isMkv(blob: Array[Byte]): Boolean =
    blob.length >= 4 && (blob(0) & 0xFF) == 0x1A && (blob(1) & 0xFF) == 0x45 &&
      (blob(2) & 0xFF) == 0xDF && (blob(3) & 0xFF) == 0xA3

  /** EBML element id at `o`: raw bytes INCLUDING the length marker (the
    * conventional id form, e.g. Segment = 0x18538067). Returns (id,
    * lengthInBytes); (0, 0) on a malformed/out-of-range lead byte.
    */
  private def ebmlId(b: Array[Byte], o: Int): (Long, Int) = {
    val first = b(o) & 0xFF
    if (first == 0) return (0L, 0)
    val len = Integer.numberOfLeadingZeros(first) - 23 // 1..8
    if (len < 1 || len > 4 || o + len > b.length) return (0L, 0)
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(o + i) & 0xFF); i += 1 }
    (v, len)
  }

  /** EBML size vint at `o`: marker bit STRIPPED. All-ones payload means
    * "unknown size" (live streams) → Long.MaxValue, which the caller
    * clamps to its enclosing range. (0, 0) length on malformed input.
    */
  private def ebmlSize(b: Array[Byte], o: Int): (Long, Int) = {
    val first = b(o) & 0xFF
    if (first == 0) return (0L, 0)
    val len = Integer.numberOfLeadingZeros(first) - 23
    if (len < 1 || len > 8 || o + len > b.length) return (0L, 0)
    var v = (first & (0xFF >>> len)).toLong
    var allOnes = (first & (0xFF >>> len)) == (0xFF >>> len)
    var i = 1
    while (i < len) {
      val byte = b(o + i) & 0xFF
      allOnes &&= byte == 0xFF
      v = (v << 8) | byte
      i += 1
    }
    (if (allOnes) Long.MaxValue else v, len)
  }

  /** Big-endian unsigned int payload of an EBML element (1-8 bytes). */
  private def ebmlUint(b: Array[Byte], start: Long, end: Long): Long = {
    var v = 0L
    var o = start
    while (o < end && o < b.length) { v = (v << 8) | (b(o.toInt) & 0xFF); o += 1 }
    v
  }

  /** Children of an EBML master element's byte range: (id, payloadStart,
    * payloadEnd). Malformed vints or a zero-advance terminate the walk
    * with the elements found so far (truncation tolerance, as above).
    */
  private def ebmlChildren(blob: Array[Byte], start: Long, end: Long): Seq[(Long, Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var o = start
    var ok = true
    while (ok && o + 2 <= end) {
      val (id, idLen) = ebmlId(blob, o.toInt)
      if (idLen == 0) ok = false
      else {
        val (sz, szLen) = ebmlSize(blob, (o + idLen).toInt)
        if (szLen == 0) ok = false
        else {
          val data = o + idLen + szLen
          val dataEnd = if (sz == Long.MaxValue) end else math.min(end, data + sz)
          out += ((id, data, dataEnd))
          o = math.max(data, dataEnd) // unknown-size/empty still advances
        }
      }
    }
    out.toSeq
  }

  /** (cue time, ABSOLUTE byte offset of the target Cluster) pairs from
    * an MKV/WebM blob's Cues element — the keyframe seek index. Cue
    * positions are spec'd relative to the Segment data start; this
    * resolves them to blob offsets so a slicer can route bytes
    * directly. Empty when the blob has no Cues (e.g. a live-muxed
    * fragment) — loud-empty, not wrong-offset.
    */
  private[multimodal] def mkvCuePoints(blob: Array[Byte]): Seq[(Long, Long)] = {
    require(isMkv(blob), "not an EBML/MKV blob")
    val Segment = 0x18538067L; val Cues = 0x1C53BB6BL; val CuePoint = 0xBBL
    val CueTime = 0xB3L; val CueTrackPositions = 0xB7L; val CueClusterPosition = 0xF1L
    for {
      (sid, ss, se) <- ebmlChildren(blob, 0L, blob.length.toLong) if sid == Segment
      (cid, cs, ce) <- ebmlChildren(blob, ss, se) if cid == Cues
      (pid, ps, pe) <- ebmlChildren(blob, cs, ce) if pid == CuePoint
      kids = ebmlChildren(blob, ps, pe)
      t <- kids.collectFirst { case (id, a, b) if id == CueTime => ebmlUint(blob, a, b) }
      pos <- kids.collect { case (id, a, b) if id == CueTrackPositions =>
        ebmlChildren(blob, a, b).collectFirst {
          case (id2, a2, b2) if id2 == CueClusterPosition => ebmlUint(blob, a2, b2) }
      }.flatten.headOption
      // ss = Segment data start: positions are relative to it. Drop
      // targets past the blob end HERE, so every consumer (the index
      // listing, the slicer) sees the same truncation tolerance: a
      // cues-at-front MKV cut before its clusters legally references
      // bytes that are not present — like the MP4 stbl clamp
      if ss + pos < blob.length
    } yield (t, ss + pos)
  }

  /** Container-dispatching keyframe index over a blob column: one row
    * per keyframe with its absolute byte range — AVI (every MJPEG
    * frame is a keyframe), MP4 (stss sync samples), MKV (Cues; end is
    * null, a cue addresses a Cluster whose extent the index doesn't
    * record). This is the ROUTING half of inter-frame video handling:
    * what still needs a native codec is only the pixel decode inside a
    * range (sampleFramesStub). Unknown containers yield zero rows
    * rather than fake ranges. Same scale shape as the other blob ops:
    * per-partition iteration, no driver-side bytes, output bounded by
    * keyframe count.
    */
  def indexKeyframes(df: DataFrame, blobCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType, nullable = false),
      StructField("container", StringType, nullable = false),
      StructField("keyframe_idx", IntegerType, nullable = false),
      StructField("byte_start", LongType, nullable = false),
      StructField("byte_end", LongType, nullable = true)))
    val rows = df.select(idCol, blobCol).rdd.mapPartitions(_.flatMap { r =>
      val blob = r.getAs[Array[Byte]](1)
      val ranged: Seq[(String, Long, Option[Long])] =
        if (isAvi(blob))
          aviVideoFrameRanges(blob).map { case (s, e) => ("avi", s.toLong, Some(e.toLong)) }
        else if (isMp4(blob))
          mp4KeyframeRanges(blob).map { case (s, e) => ("mp4", s, Some(e)) }
        else if (isMkv(blob))
          mkvCuePoints(blob).map { case (_, off) => ("mkv", off, None) }
        else Seq.empty
      ranged.zipWithIndex.map { case ((c, s, e), i) =>
        Row(r.get(0), c, i, s, e.map(java.lang.Long.valueOf).orNull)
      }
    })
    spark.createDataFrame(rows, schema)
  }

  /** REAL frame sampling for MJPEG video blobs — both RAW concatenated
    * JPEG streams and AVI-contained MJPEG (`.avi` with an MJPG vids
    * stream; the RIFF walk is aviVideoFrameRanges). Each frame is a
    * JPEG javax.imageio reads, so the JDK decodes these two containers
    * end-to-end with no native codec. Emits one row per sampled frame
    * (every `everyNth` stream frame, up to `maxFrames`) with the
    * frame's JPEG bytes and its DECODED dimensions — the decode both
    * proves the split found real frames and is where resize /
    * feature-extract plugs in. Same scale shape as the image ops:
    * per-partition iteration, frame explode bounded by maxFrames, no
    * driver-side bytes. Caveats that stay out of JDK reach: AVI-MJPG
    * files that omit the JPEG Huffman tables (some camera firmwares)
    * fail the decode require loudly, and inter-frame codecs (H.264
    * etc.) need a native decoder — those remain behind the labeled
    * sampleFramesStub.
    */
  def sampleFramesMjpeg(df: DataFrame, blobCol: String, idCol: String,
                        everyNth: Int = 2, maxFrames: Int = 8): DataFrame = {
    require(everyNth >= 1 && maxFrames >= 1,
      s"need everyNth >= 1 and maxFrames >= 1, got $everyNth/$maxFrames")
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false), // index in the stream
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("frame_data", BinaryType, nullable = false)))
    val rows = df.select(idCol, blobCol).rdd.mapPartitions(_.flatMap { r =>
      val blob = r.getAs[Array[Byte]](1)
      val ranges = if (isAvi(blob)) aviVideoFrameRanges(blob)
                   else mjpegFrameRanges(blob)
      ranges.zipWithIndex
        .filter { case (_, fi) => fi % everyNth == 0 }
        .take(maxFrames)
        .map { case ((s0, e0), fi) =>
          val bytes = java.util.Arrays.copyOfRange(blob, s0, e0)
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"frame $fi of ${r.get(0)} is not a decodable JPEG")
          Row(r.get(0), fi, img.getWidth, img.getHeight, bytes)
        }
    })
    spark.createDataFrame(rows, schema)
  }

  /** Extract the CODED keyframe payloads by byte range — the slicing
    * consumer of `indexKeyframes`, still zero-decode: for AVI the
    * slice is the MJPEG frame, for MP4 the sync sample (e.g. an H.264
    * IDR access unit), for MKV the keyframe-bearing Cluster (a cue
    * addresses the cluster; its extent runs to the next cue target or
    * segment end). Output rows carry the coded bytes for a downstream
    * decoder (GPU farm, external transcoder) — the routing/shuffle
    * layer of video processing stays fully in-engine. everyNth /
    * maxFrames bound the explode exactly like sampleFramesMjpeg.
    */
  def sliceKeyframes(df: DataFrame, blobCol: String, idCol: String,
                     everyNth: Int = 1, maxFrames: Int = 8): DataFrame = {
    require(everyNth >= 1 && maxFrames >= 1,
      s"need everyNth >= 1 and maxFrames >= 1, got $everyNth/$maxFrames")
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType, nullable = false),
      StructField("container", StringType, nullable = false),
      StructField("keyframe_idx", IntegerType, nullable = false),
      StructField("byte_start", LongType, nullable = false),
      StructField("frame_data", BinaryType, nullable = false)))
    val rows = df.select(idCol, blobCol).rdd.mapPartitions(_.flatMap { r =>
      val blob = r.getAs[Array[Byte]](1)
      val ranges: Seq[(String, Long, Long)] =
        if (isAvi(blob))
          aviVideoFrameRanges(blob).map { case (s, e) => ("avi", s.toLong, e.toLong) }
        else if (isMp4(blob))
          mp4KeyframeRanges(blob).map { case (s, e) => ("mp4", s, e) }
        else if (isMkv(blob)) {
          // cues are CueTime-ordered per spec; sort by OFFSET so the
          // next-target extent bound holds even for a muxer that cues
          // out of byte order
          // mkvCuePoints already drops targets past the blob end
          // (truncation tolerance centralized with the index consumer)
          val offs = mkvCuePoints(blob).map(_._2).sorted
          // cluster extent: next cue's target (or blob end) bounds it
          offs.zip(offs.drop(1) :+ blob.length.toLong)
            .map { case (s, e) => ("mkv", s, math.max(s, e)) }
        } else Seq.empty
      ranges.zipWithIndex
        .filter { case (_, i) => i % everyNth == 0 }
        .take(maxFrames)
        .map { case ((c, s, e), i) =>
          Row(r.get(0), c, i, s,
            java.util.Arrays.copyOfRange(blob, s.toInt, math.min(e, blob.length.toLong).toInt))
        }
    })
    spark.createDataFrame(rows, schema)
  }

  /** STUB: the remaining gap for inter-frame video is ONLY the pixel
    * decode — container-level keyframe location is real (indexKeyframes
    * walks AVI RIFF, MP4 stbl, MKV Cues with pure bytes); decoding an
    * H.264/VP9 range needs a native codec the JDK doesn't ship. This
    * stub stands in for that decode: real plumbing (explode
    * cardinality, per-frame keying), fake payload (a byte slice).
    * PERMANENT scope decision — rationale, integration surface and
    * revisit condition recorded in DECISIONS.md DR-1.
    */
  def sampleFramesStub(df: DataFrame, blobCol: String, idCol: String,
                       everyNth: Int = 10, maxFrames: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_data", BinaryType, nullable = false)))
    val rows = df.select(idCol, blobCol).rdd.mapPartitions(_.flatMap { r =>
      val blob = r.getAs[Array[Byte]](1)
      val nFrames = math.min(maxFrames, math.max(1, blob.length / everyNth))
      (0 until nFrames).map { f =>
        val start = f * everyNth
        val end = math.min(blob.length, start + everyNth)
        Row(r.get(0), f, java.util.Arrays.copyOfRange(blob, start, math.max(start, end)))
      }
    })
    spark.createDataFrame(rows, schema)
  }

  // ---- blob externalization (reference wishlist) ----

  /** Split rows with blobs above `threshold` into a side table keyed by
    * `keyCol` (reference rosbag2parquet.cpp:26 "emit blobs as a
    * standalone table"; README.md:137). Returns (slim main, side).
    * The main table keeps small blobs inline and nulls out big ones —
    * scan-heavy queries stop paying for image bytes they don't read.
    */
  def externalizeBlobs(df: DataFrame, blobCol: String, keyCol: String,
                       threshold: Int = 1 << 20): (DataFrame, DataFrame) = {
    val big = length(col(blobCol)) > threshold
    val slim = df
      .withColumn(s"${blobCol}_externalized", big)
      .withColumn(blobCol, when(big, lit(null)).otherwise(col(blobCol)))
    val side = df.filter(big).select(col(keyCol), col(blobCol))
    (slim, side)
  }
}
