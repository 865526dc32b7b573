package graft.ros.mcap

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import graft.ros._
import graft.ros.RosPrimitive._
import graft.ros.bag.RosbagColumnarRead

/** Vectorized typed MCAP reads over CDR payloads — the XCDR1 twin of
  * [[graft.ros.bag.RosbagColumnarRead]] (SURVEY §1.1's named
  * optimization path, extended to the ROS 2-era container a growing
  * fleet share records in). The wire walk decodes each message
  * DIRECTLY into `OnHeapColumnVector`s through a per-leaf op program
  * compiled once per partition: no per-row `Seq[Any]`, no boxing, no
  * `InternalRow.fromSeq`, no `String` intermediates. Columns pruned by
  * Catalyst become skip ops that advance (and align) the cursor
  * without materializing anything.
  *
  * The ONE rule CDR adds over the packed ros1 walk is alignment: each
  * primitive of width w aligns to w relative to the post-encapsulation
  * origin (payload offset 4) — [[CdrCodec]]'s Reader, compiled. Both
  * endiannesses decode (the 4-byte header's representation id selects
  * the `ByteBuffer` order per message). Alignment only advances the
  * cursor when a read actually happens, so empty arrays leave the
  * position untouched exactly like the row decoder.
  *
  * Supported column shapes match the rosbag columnar path: scalars,
  * strings, uint8[] blobs, arrays of primitives/strings. A REQUIRED
  * array-of-struct column falls back to the row reader for the scan.
  */
object CdrColumnarRead {
  import CdrCodec.{CdrFlavor, Xcdr1, Xcdr2Final, Xcdr2Delimited, Xcdr1Mutable, Xcdr2Mutable}

  type Op = ByteBuffer => Unit

  /** Alignment origin — 4 (post-encapsulation) except inside a PL_CDR
    * mutable member value, which resets it to the value's start
    * (XTypes §7.4.1 PUSH(ORIGIN=0)). One instance shared by all of a
    * [[CdrPrograms]]'s programs: a partition reader is
    * single-threaded and [[walkMessage]] re-arms it per message.
    */
  final class Origin { var off: Int = 4 }

  private def alignTo(buf: ByteBuffer, w: Int, orig: Origin): Unit = {
    val rem = (buf.position() - orig.off) % w
    if (rem != 0) buf.position(buf.position() + w - rem)
  }
  private def skip(buf: ByteBuffer, n: Int): Unit =
    buf.position(buf.position() + n)

  /** Aligned u32 count/length read (array counts, string lengths) —
    * 4-byte alignment is identical in every flavor.
    */
  private def readLen(buf: ByteBuffer, orig: Origin): Int = {
    alignTo(buf, 4, orig)
    val n = buf.getInt()
    require(n >= 0, s"negative cdr array/string length $n")
    n
  }

  /** Open a DHEADER scope: returns the scope's end position. */
  private def openScope(buf: ByteBuffer, orig: Origin): Int = {
    val dh = readLen(buf, orig)
    buf.position() + dh
  }

  /** Close a DHEADER scope: appendable forward-compat skips to the
    * end; an overrun is corruption.
    */
  private def closeScope(buf: ByteBuffer, end: Int): Unit = {
    require(buf.position() <= end,
      s"cdr decode overran its DHEADER scope: at ${buf.position()}, " +
        s"scope ends at $end — schema/payload mismatch")
    buf.position(end)
  }

  private def scalarWidth(p: RosPrimitive): Int = p match {
    case RBool | RInt8 | RByte | RUInt8 | RChar => 1
    case RInt16 | RUInt16 => 2
    case RInt32 | RUInt32 | RFloat32 => 4
    case RInt64 | RUInt64 | RFloat64 => 8
    case RTime | RDuration => -1 // two i32 columns, handled by caller
    case RString | RWString => -1 // dynamic
  }

  /** Skip one scalar (align to min(width, flavor max), then advance). */
  private def skipScalar(p: RosPrimitive, maxAlign: Int, orig: Origin): Op = p match {
    case RString | RWString => buf => skip(buf, readLen(buf, orig))
    case other =>
      val w = scalarWidth(other)
      require(w > 0, s"unexpected scalar $other")
      val a = math.min(w, maxAlign)
      buf => { alignTo(buf, a, orig); skip(buf, w) }
  }

  /** Append one scalar into `v` — the same type widenings as
    * [[CdrCodec.decode]] / RosSchemaMapper.flatSchema, aligned reads.
    * `maxAlign` caps alignment (xcdr2: 8-byte primitives align to 4).
    */
  private def writeScalar(p: RosPrimitive, v: WritableColumnVector,
      maxAlign: Int, orig: Origin): Op = p match {
    case RBool    => buf => v.appendBoolean(buf.get() != 0)
    case RInt8 | RByte => buf => v.appendInt(buf.get().toInt)
    case RUInt8 | RChar => buf => v.appendInt(java.lang.Byte.toUnsignedInt(buf.get()))
    case RInt16   => buf => { alignTo(buf, 2, orig); v.appendInt(buf.getShort().toInt) }
    case RUInt16  => buf => { alignTo(buf, 2, orig)
      v.appendInt(java.lang.Short.toUnsignedInt(buf.getShort())) }
    case RInt32   => buf => { alignTo(buf, 4, orig); v.appendInt(buf.getInt()) }
    case RUInt32  => buf => { alignTo(buf, 4, orig)
      v.appendLong(java.lang.Integer.toUnsignedLong(buf.getInt())) }
    case RInt64 | RUInt64 =>
      val a = math.min(8, maxAlign)
      buf => { alignTo(buf, a, orig); v.appendLong(buf.getLong()) }
    case RFloat32 => buf => { alignTo(buf, 4, orig); v.appendFloat(buf.getFloat()) }
    case RFloat64 =>
      val a = math.min(8, maxAlign)
      buf => { alignTo(buf, a, orig); v.appendDouble(buf.getDouble()) }
    case RString  => buf => {
      val n = readLen(buf, orig) // length INCLUDES the null terminator
      val arr = buf.array(); val off = buf.arrayOffset() + buf.position()
      val end = if (n > 0 && arr(off + n - 1) == 0) n - 1 else n
      // parity with the row path (CdrCodec.string goes through
      // new String(..., UTF_8), which substitutes U+FFFD): valid UTF-8
      // appends zero-copy, invalid bytes take the round trip
      if (org.apache.spark.unsafe.types.UTF8String.fromBytes(arr, off, end).isValid) {
        v.appendByteArray(arr, off, end)
      } else {
        val fixed = new String(arr, off, end, java.nio.charset.StandardCharsets.UTF_8)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        v.appendByteArray(fixed, 0, fixed.length)
      }
      skip(buf, n)
    }
    case RWString => buf => {
      // DDS CHAR16 string: u32 BYTE length, UTF-16 code units in the
      // buffer's endianness, NO terminator (tolerate one anyway, like
      // the row path's Reader.wstring); transcoded to UTF-8 for the
      // vector — parity with CdrCodec's wstring()
      val n = readLen(buf, orig)
      require(n % 2 == 0, s"cdr wstring byte length $n is odd — " +
        "not UTF-16 code units")
      val arr = buf.array(); val off = buf.arrayOffset() + buf.position()
      val end =
        if (n >= 2 && arr(off + n - 1) == 0 && arr(off + n - 2) == 0) n - 2
        else n
      val cs =
        if (buf.order() == ByteOrder.LITTLE_ENDIAN)
          java.nio.charset.StandardCharsets.UTF_16LE
        else java.nio.charset.StandardCharsets.UTF_16BE
      val utf8 = new String(arr, off, end, cs)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      v.appendByteArray(utf8, 0, utf8.length)
      skip(buf, n)
    }
    case RTime | RDuration =>
      throw new IllegalStateException("time handled by caller (two columns)")
  }

  /** Compile the CDR op program for `msg` under one serialization
    * flavor — one op per leaf, a writer when the leaf's flattened
    * column is in `colFor`, an aligned skip otherwise, plus DHEADER
    * begin/end ops where the flavor requires them. Mirrors
    * [[CdrCodec.decodeMsg]] exactly so wire order and column order
    * stay aligned. `scopes` is the per-PROGRAM nesting stack for
    * struct-member DHEADERs (the reader is single-threaded per
    * partition, so one stack per compiled program is safe).
    */
  def compile(bundle: RosMsgBundle, msg: RosMsgDef, prefix: String,
              colFor: String => Option[WritableColumnVector],
              flavor: CdrFlavor = Xcdr1,
              scopes: java.util.ArrayDeque[Integer] =
                new java.util.ArrayDeque[Integer](),
              origin: Origin = new Origin): Seq[Op] =
    msg.fields.filterNot(_.isConstant)
      .flatMap(f => compileField(bundle, msg, f, prefix, colFor, flavor, scopes, origin))

  private def compileField(bundle: RosMsgBundle, msg: RosMsgDef, f: RosField,
              prefix: String, colFor: String => Option[WritableColumnVector],
              flavor: CdrFlavor, scopes: java.util.ArrayDeque[Integer],
              origin: Origin): Seq[Op] = {
    val maxAlign = flavor.maxAlign
    val delim = flavor.delimited
    val x2 = flavor.xcdr2
    val mut = flavor.mutable
    /** Wrap `inner` in a struct DHEADER scope when delimited. */
    def structScope(inner: Seq[Op]): Seq[Op] =
      if (!delim) inner
      else ((buf: ByteBuffer) => scopes.push(openScope(buf, origin))) +:
        inner :+ ((buf: ByteBuffer) => closeScope(buf, scopes.pop()))
    /** A DHEADER already bounds its object: a fully-PRUNED scoped
      * subtree jumps to the end in O(1) instead of walking its bytes.
      */
    val scopeJump: Op = buf => closeScope(buf, openScope(buf, origin))
    def join(p: String, n: String) = if (p.isEmpty) n else s"${p}_$n"
    val col = join(prefix, f.name)
    f.tpe match {
        case RTime | RDuration =>
          if (mut) Seq(compileMutable(bundle, CdrCodec.MutableTimeMsg, col,
            colFor, flavor, origin))
          else structScope(Seq(colFor(s"${col}_sec") match {
            case Some(v) => (buf: ByteBuffer) => { alignTo(buf, 4, origin); v.appendInt(buf.getInt()) }
            case None    => (buf: ByteBuffer) => { alignTo(buf, 4, origin); skip(buf, 4) }
          }, colFor(s"${col}_nsec") match {
            case Some(v) => (buf: ByteBuffer) => v.appendInt(buf.getInt())
            case None    => (buf: ByteBuffer) => skip(buf, 4)
          }))
        case p: RosPrimitive =>
          Seq(colFor(col).map(writeScalar(p, _, maxAlign, origin))
            .getOrElse(skipScalar(p, maxAlign, origin)))
        case ref: RosMsgRef =>
          if (mut) Seq(compileMutable(bundle, bundle.resolve(ref, msg.pkg), col,
            colFor, flavor, origin))
          else {
            var anyWriter = false
            val probe: String => Option[WritableColumnVector] = n => {
              val r = colFor(n); if (r.isDefined) anyWriter = true; r
            }
            val inner = compile(bundle, bundle.resolve(ref, msg.pkg), col,
              probe, flavor, scopes, origin)
            if (delim && !anyWriter) Seq(scopeJump) else structScope(inner)
          }
        case RosArray(RUInt8 | RByte | RChar | RInt8, fixedLen) =>
          Seq(colFor(col) match {
            case Some(v) => (buf: ByteBuffer) => {
              val n = fixedLen.getOrElse(readLen(buf, origin))
              v.appendByteArray(buf.array(), buf.arrayOffset() + buf.position(), n)
              skip(buf, n)
            }
            case None => (buf: ByteBuffer) =>
              skip(buf, fixedLen.getOrElse(readLen(buf, origin)))
          })
        case RosArray(RTime | RDuration, fixedLen) =>
          // array-of-struct columns are never writers (supportsColumnar
          // rejects them from the projection); 8 bytes per element
          // after the first element's 4-alignment; xcdr2 wraps the
          // collection (non-primitive elements) and delimited wraps
          // each element in DHEADERs. Under xcdr2 the collection
          // DHEADER bounds the whole thing — jump, never walk. In the
          // mutable flavors the MEMBER header bounds it: never reached.
          if (mut) Seq.empty
          else if (x2) Seq(scopeJump)
          else Seq((buf: ByteBuffer) => {
            val n = fixedLen.getOrElse(readLen(buf, origin))
            if (n > 0) { alignTo(buf, 4, origin); skip(buf, 8 * n) }
          })
        case RosArray(p: RosPrimitive, fixedLen) =>
          val strElem = p == RString || p == RWString
          Seq(colFor(col) match {
            case Some(v) =>
              val elemWriter = writeScalar(p, v.arrayData(), maxAlign, origin)
              (buf: ByteBuffer) => {
                val end = if (x2 && strElem) openScope(buf, origin) else -1
                val n = fixedLen.getOrElse(readLen(buf, origin))
                // appendArray FIRST: it records the child's current
                // elementsAppended as this row's offset (see the
                // rosbag columnar reader's comment)
                v.appendArray(n)
                var i = 0
                while (i < n) { elemWriter(buf); i += 1 }
                if (x2 && strElem) closeScope(buf, end)
              }
            case None =>
              val w = scalarWidth(p)
              if (w > 0) {
                val a = math.min(w, maxAlign)
                (buf: ByteBuffer) => {
                  val n = fixedLen.getOrElse(readLen(buf, origin))
                  if (n > 0) { alignTo(buf, a, origin); skip(buf, w * n) }
                }
              } else if (x2 && strElem) scopeJump // DHEADER bounds it
              else {
                val elemSkip = skipScalar(p, maxAlign, origin)
                (buf: ByteBuffer) => {
                  val n = fixedLen.getOrElse(readLen(buf, origin))
                  var i = 0
                  while (i < n) { elemSkip(buf); i += 1 }
                }
              }
          })
        case RosArray(ref: RosMsgRef, fixedLen) =>
          // element skip program (no writers inside by construction,
          // so under xcdr2 the collection DHEADER bounds the whole
          // array — jump, never walk); xcdr1 walks element skips; the
          // mutable member header bounds it before this op could run
          if (mut) Seq.empty
          else if (x2) Seq(scopeJump)
          else {
            val elemScopes = new java.util.ArrayDeque[Integer]()
            val elemOps = compile(bundle, bundle.resolve(ref, msg.pkg), col,
              _ => None, flavor, elemScopes, origin).toArray
            Seq((buf: ByteBuffer) => {
              val n = fixedLen.getOrElse(readLen(buf, origin))
              var i = 0
              while (i < n) {
                var j = 0
                while (j < elemOps.length) { elemOps(j)(buf); j += 1 }
                i += 1
              }
            })
          }
        case RosArray(_: RosArray, _) =>
          throw new IllegalArgumentException("arrays of arrays are not in the ROS IDL")
    }
  }

  /** One Op decoding a MUTABLE struct value (PL_CDR / PL_CDR2) —
    * mirrors [[CdrCodec.decodeMutable]]: member-id headers dispatch
    * into per-field sub-programs in ANY wire order (each column vector
    * tracks its own append cursor, so cross-column write order within
    * a row is free); pruned and unknown members skip in O(1) by their
    * declared length; members absent from the wire append their
    * default values after the walk.
    */
  private def compileMutable(bundle: RosMsgBundle, msg: RosMsgDef,
      prefix: String, colFor: String => Option[WritableColumnVector],
      flavor: CdrFlavor, origin: Origin): Op = {
    val fields = msg.fields.filterNot(_.isConstant).toArray
    val fieldOps: Array[Array[Op]] = fields.map { f =>
      var anyWriter = false
      val probe: String => Option[WritableColumnVector] = n => {
        val r = colFor(n); if (r.isDefined) anyWriter = true; r
      }
      val ops = compileField(bundle, msg, f, prefix, probe, flavor,
        new java.util.ArrayDeque[Integer](), origin)
      if (anyWriter) ops.toArray else null
    }
    val defaultOps: Array[Array[Op]] = fields.indices.map { i =>
      if (fieldOps(i) == null) Array.empty[Op]
      else compileDefault(bundle, msg, fields(i), prefix, colFor).toArray
    }.toArray
    // per-message presence — the reader is single-threaded, one walk
    // at a time per program, so one array per compiled struct is safe
    // (members of an ARRAY of mutable structs run sequentially too)
    val seen = new Array[Boolean](fields.length)
    val xcdr2 = flavor.xcdr2

    buf => {
      java.util.Arrays.fill(seen, false)
      def runMember(id: Int, must: Boolean, len: Int): Unit = {
        require(len >= 0,
          s"negative mutable member length $len (id $id) in ${msg.fullName}")
        val end = buf.position() + len
        // fail at the member header with the type named — without this
        // an oversized declared length only surfaces as a bare
        // IllegalArgumentException from ByteBuffer.position(end)
        require(end <= buf.limit(),
          s"mutable member length $len (id $id) at ${buf.position()} " +
            s"exceeds the ${buf.limit()}-byte payload in ${msg.fullName}")
        if (id >= 0 && id < fields.length) {
          require(!seen(id), s"duplicate mutable member id $id in ${msg.fullName}")
          seen(id) = true
          val ops = fieldOps(id)
          if (ops != null) {
            var j = 0
            while (j < ops.length) { ops(j)(buf); j += 1 }
            closeScope(buf, end) // tolerate member padding; overrun is corruption
          } else buf.position(end) // pruned column: O(1) skip
        } else if (must) throw new IllegalArgumentException(
          s"unknown must-understand mutable member id $id in ${msg.fullName}")
        else buf.position(end) // unknown member: skip by declared length
      }
      if (xcdr2) {
        // PL_CDR2: DHEADER scope, then EMHEADER-framed members
        val end = openScope(buf, origin)
        while (buf.position() < end) {
          alignTo(buf, 4, origin)
          val em = buf.getInt()
          val must = (em & 0x80000000) != 0
          val lc = (em >>> 28) & 0x7
          val id = em & 0x0FFFFFFF
          // lengths in LONG: an adversarial LC 5/6/7 count (u32, up
          // to 4G elements × 8 bytes) must overrun the DHEADER check,
          // not wrap Int into a small positive skip that misparses
          val len: Long = lc match {
            case 0 => 1L
            case 1 => 2L
            case 2 => 4L
            case 3 => 8L
            case 4 => readLen(buf, origin).toLong
            case other =>
              alignTo(buf, 4, origin)
              val count = java.lang.Integer
                .toUnsignedLong(buf.getInt(buf.position())) // NEXTINT reused: peek
              4L + count * (if (other == 5) 1L else if (other == 6) 4L else 8L)
          }
          require(buf.position() + len <= end,
            s"mutable member id $id (len $len) overruns its struct DHEADER in ${msg.fullName}")
          runMember(id, must, len.toInt)
        }
        require(buf.position() == end,
          s"mutable member walk overran its DHEADER scope in ${msg.fullName}")
      } else {
        // PL_CDR: sentinel-terminated parameter list; each member
        // value gets a fresh alignment origin
        var done = false
        while (!done) {
          alignTo(buf, 4, origin)
          val pid = buf.getShort() & 0xFFFF
          val plen = buf.getShort() & 0xFFFF
          val idPart = pid & 0x3FFF
          val must = (pid & CdrCodec.PidFlagMustUnderstand) != 0
          if (idPart == CdrCodec.PidSentinel) done = true
          else {
            val (id, len) =
              if (idPart == CdrCodec.PidExtended) {
                require(plen == 8,
                  s"PID_EXTENDED header length $plen != 8 in ${msg.fullName}")
                (buf.getInt(), buf.getInt())
              } else (idPart, plen)
            val saved = origin.off
            origin.off = buf.position()
            try runMember(id, must, len)
            finally origin.off = saved
          }
        }
      }
      var i = 0
      while (i < fields.length) {
        if (!seen(i) && fieldOps(i) != null) {
          val d = defaultOps(i)
          var j = 0
          while (j < d.length) { d(j)(buf); j += 1 }
        }
        i += 1
      }
    }
  }

  /** Default-value append ops for a mutable member ABSENT from the
    * wire — zero/""/empty into exactly the field's projected columns,
    * value-identical with [[CdrCodec]]'s defaultFlat.
    */
  private def compileDefault(bundle: RosMsgBundle, msg: RosMsgDef, f: RosField,
      prefix: String, colFor: String => Option[WritableColumnVector]): Seq[Op] = {
    def join(p: String, n: String) = if (p.isEmpty) n else s"${p}_$n"
    val col = join(prefix, f.name)
    def scalarDefault(p: RosPrimitive, v: WritableColumnVector): Op = p match {
      case RBool => _ => v.appendBoolean(false)
      case RUInt32 | RInt64 | RUInt64 => _ => v.appendLong(0L)
      case RFloat32 => _ => v.appendFloat(0f)
      case RFloat64 => _ => v.appendDouble(0d)
      case RString | RWString =>
        _ => v.appendByteArray(Array.emptyByteArray, 0, 0)
      case RTime | RDuration =>
        throw new IllegalStateException("time handled by caller (two columns)")
      case _ => _ => v.appendInt(0)
    }
    f.tpe match {
      case RTime | RDuration =>
        Seq(s"${col}_sec", s"${col}_nsec").flatMap(n =>
          colFor(n).map(v => ((_: ByteBuffer) => v.appendInt(0)): Op))
      case p: RosPrimitive => colFor(col).map(scalarDefault(p, _)).toSeq
      case ref: RosMsgRef =>
        val sub = bundle.resolve(ref, msg.pkg)
        sub.fields.filterNot(_.isConstant)
          .flatMap(sf => compileDefault(bundle, sub, sf, col, colFor))
      case RosArray(RUInt8 | RByte | RChar | RInt8, fixedLen) =>
        colFor(col).map { v =>
          val n = fixedLen.getOrElse(0)
          val zeros = new Array[Byte](n)
          ((_: ByteBuffer) => v.appendByteArray(zeros, 0, n)): Op
        }.toSeq
      case RosArray(p: RosPrimitive, fixedLen) =>
        colFor(col).map { v =>
          val n = fixedLen.getOrElse(0)
          val elemDefault = scalarDefault(p, v.arrayData())
          ((buf: ByteBuffer) => {
            v.appendArray(n)
            var i = 0
            while (i < n) { elemDefault(buf); i += 1 }
          }): Op
        }.toSeq
      case _ => Seq.empty // array-of-struct/time columns are never writers
    }
  }

  /** The per-flavor op programs over one (bundle, colFor) pair,
    * compiled lazily — a fleet that never ships xcdr2 or mutable
    * payloads never pays for their programs. One instance per
    * partition reader (the column vectors, scope stacks and the
    * alignment origin are not shareable across threads).
    */
  final class CdrPrograms(bundle: RosMsgBundle,
      colFor: String => Option[WritableColumnVector]) {
    private[mcap] val origin = new Origin
    private lazy val xcdr1: Array[Op] =
      compile(bundle, bundle.root, "", colFor, Xcdr1,
        new java.util.ArrayDeque[Integer](), origin).toArray
    private lazy val xcdr2Final: Array[Op] =
      compile(bundle, bundle.root, "", colFor, Xcdr2Final,
        new java.util.ArrayDeque[Integer](), origin).toArray
    private lazy val xcdr2Delim: Array[Op] =
      compile(bundle, bundle.root, "", colFor, Xcdr2Delimited,
        new java.util.ArrayDeque[Integer](), origin).toArray
    private lazy val plCdr: Array[Op] =
      Array(compileMutable(bundle, bundle.root, "", colFor, Xcdr1Mutable, origin))
    private lazy val plCdr2: Array[Op] =
      Array(compileMutable(bundle, bundle.root, "", colFor, Xcdr2Mutable, origin))
    def forFlavor(flavor: CdrFlavor): Array[Op] = flavor match {
      case Xcdr1 => xcdr1
      case Xcdr2Final => xcdr2Final
      case Xcdr2Delimited => xcdr2Delim
      case Xcdr1Mutable => plCdr
      case Xcdr2Mutable => plCdr2
    }
  }

  /** Run the flavor-matched op program over ONE CDR message: the
    * 4-byte encapsulation header selects endianness AND serialization
    * flavor per message, the walk starts at the post-header origin,
    * a delimited payload's top-level DHEADER scope wraps the walk
    * (the mutable programs frame their own scopes), and full
    * consumption is verified (up to 3 bytes of final-alignment
    * padding tolerated — [[CdrCodec.decode]]'s rule). Shared by the
    * mcap and db3 columnar readers.
    */
  def walkMessage(progs: CdrPrograms, data: Array[Byte]): Unit = {
    require(data.length >= 4, "cdr payload shorter than its encapsulation header")
    val (flavor, le) = CdrCodec.flavorOf(data(1) & 0xFF)
    val buf = ByteBuffer.wrap(data)
    buf.order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    buf.position(4)
    progs.origin.off = 4 // re-arm after any mid-walk failure
    val ops = progs.forFlavor(flavor)
    val end = if (flavor.delimited) openScope(buf, progs.origin) else -1
    var j = 0
    while (j < ops.length) { ops(j)(buf); j += 1 }
    if (flavor.delimited) closeScope(buf, end)
    require(buf.remaining <= 3,
      s"cdr decode left ${buf.remaining} bytes unread of ${data.length} — " +
        "schema/payload mismatch")
  }
}

/** Batch-at-a-time columnar reader for the UNTYPED (spine) mcap scan —
  * what Convert/compact rewrites, ETL meta passes and query-in-place
  * meta projections run through. Every spine column vectorizes
  * trivially: ints/longs from the message record, per-channel interned
  * UTF-8 bytes for the string dimensions, the raw blob by byte append
  * (the mcap twin of RosbagMetaColumnarReader).
  */
class McapMetaColumnarReader(p: McapInputPartition, required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter], limit: Int,
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val pathBytes = utf8(p.path)
  private val topicBytes: Map[Int, Array[Byte]] =
    p.channels.map { case (id, c) => id -> utf8(c.topic) }
  private val msgEncBytes: Map[Int, Array[Byte]] =
    p.channels.map { case (id, c) => id -> utf8(c.messageEncoding) }
  private val schemaNameBytes: Map[Int, Array[Byte]] =
    p.channels.map { case (id, c) =>
      id -> utf8(p.schemas.get(c.schemaId).map(_._1).getOrElse("")) }
  private val schemaEncBytes: Map[Int, Array[Byte]] =
    p.channels.map { case (id, c) =>
      id -> utf8(p.schemas.get(c.schemaId).map(_._2).getOrElse("")) }

  private var currentOffset: Int = -1
  private val writers: Array[McapFormat.McapMessage => Unit] =
    required.fields.zipWithIndex.map { case (f, i) =>
      val v = vectors(i)
      f.name match {
        case "file_path" => (_: McapFormat.McapMessage) =>
          v.appendByteArray(pathBytes, 0, pathBytes.length)
        case "chunk_idx" => (_: McapFormat.McapMessage) => v.appendInt(p.chunkIdx)
        case "offset" => (_: McapFormat.McapMessage) => v.appendInt(currentOffset)
        case "log_time" => (m: McapFormat.McapMessage) => v.appendLong(m.logTime)
        case "publish_time" => (m: McapFormat.McapMessage) => v.appendLong(m.publishTime)
        case "sequence" => (m: McapFormat.McapMessage) => v.appendLong(m.sequence)
        case "size" => (m: McapFormat.McapMessage) => v.appendInt(m.data.length)
        case "channel_id" => (m: McapFormat.McapMessage) => v.appendInt(m.channelId)
        case "topic" => (m: McapFormat.McapMessage) => {
          val b = topicBytes(m.channelId); v.appendByteArray(b, 0, b.length) }
        case "schema_name" => (m: McapFormat.McapMessage) => {
          val b = schemaNameBytes(m.channelId); v.appendByteArray(b, 0, b.length) }
        case "schema_encoding" => (m: McapFormat.McapMessage) => {
          val b = schemaEncBytes(m.channelId); v.appendByteArray(b, 0, b.length) }
        case "message_encoding" => (m: McapFormat.McapMessage) => {
          val b = msgEncBytes(m.channelId); v.appendByteArray(b, 0, b.length) }
        case "data_crc32" => (m: McapFormat.McapMessage) =>
          v.appendLong(graft.ros.bag.RosbagDataSource.crc32(m.data))
        case "data" => (m: McapFormat.McapMessage) =>
          v.appendByteArray(m.data, 0, m.data.length)
      }
    }
  private val dataRequired = required.fieldNames.contains("data")

  private lazy val messages: Iterator[(McapFormat.McapMessage, Int)] = {
    val raw: Iterator[McapFormat.McapMessage] = p.chunk match {
      case Some(ref) => McapFormat.chunkMessages(McapIO.readChunk(p.path, ref)).iterator
      case None => McapIO.readInlineMessages(p.path, p.inline).iterator
    }
    val keep = McapDataSource.keep(filters, p)
    val filtered = raw.zipWithIndex.filter { case (m, _) => keep(m) }
    if (limit >= 0) filtered.take(limit) else filtered
  }

  override def next(): Boolean = {
    if (!messages.hasNext) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    while (n < batchSize && bytes < batchBytes && messages.hasNext) {
      val (m, idx) = messages.next()
      currentOffset = idx + p.ordinalBase
      if (dataRequired) bytes += m.data.length
      var j = 0
      while (j < writers.length) { writers(j)(m); j += 1 }
      n += 1
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}

/** Batch-at-a-time columnar reader for typed mcap scans — dispatches
  * the wire walk per schema encoding: ros2msg/ros2idl payloads through
  * [[CdrColumnarRead]], ros1msg channels (what a bag→mcap convert
  * produces) through the packed-ros1 [[RosbagColumnarRead]] program.
  * protobuf stays on the row reader (field numbers live in the
  * descriptor, not a linear walk).
  */
class McapTypedColumnarReader(p: McapInputPartition, schemaName: String,
    encoding: String, schemaData: Array[Byte], md5s: Set[String],
    required: StructType, includeRaw: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter],
    batchSize: Int = 4096, batchBytes: Long = 32L << 20)
    extends PartitionReader[ColumnarBatch] {

  private val bundle = McapPayload.bundle(encoding, schemaName, schemaData)
  private val isCdr = encoding != "ros1msg"
  private val wantMsgEncoding = McapPayload.messageEncodingFor(encoding)

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  private val colIdx: Map[String, Int] = required.fieldNames.zipWithIndex.toMap
  private def vec(name: String): Option[WritableColumnVector] =
    colIdx.get(name).map(vectors(_))

  // meta + raw columns are written outside the wire walk; payload
  // fields colliding with reserved names carry the `_field` suffix in
  // the typed schema (McapTypedRead.typedSchema)
  private val metaNames = Set("file_path", "chunk_idx", "offset", "log_time",
    "publish_time", "sequence", "channel_id", "topic", "data")
  private def payloadVec(name: String): Option[WritableColumnVector] =
    vec(if (McapTypedRead.reserved(name)) name + "_field" else name)
  // cdr walks dispatch per message representation id (xcdr1/xcdr2)
  private val cdrProgs: CdrColumnarRead.CdrPrograms =
    if (isCdr) new CdrColumnarRead.CdrPrograms(bundle, payloadVec) else null
  private val ops: Array[ByteBuffer => Unit] =
    if (isCdr) Array.empty
    else RosbagColumnarRead.compile(bundle, bundle.root, "", payloadVec).toArray
  private val needsWalk: Boolean =
    required.fieldNames.exists(n => !metaNames(n))

  // channels of THIS schema variant set, (name, md5)-matched — same
  // contract as McapTypedPartitionReader
  private val typeChannels: Map[Int, McapFormat.McapChannel] =
    p.channels.filter { case (_, c) =>
      p.schemas.get(c.schemaId).exists(s => s._1 == schemaName && md5s(s._3)) }
  private lazy val messages: Iterator[(McapFormat.McapMessage, Int)] = {
    val raw = p.chunk match {
      case Some(ref) => McapFormat.chunkMessages(McapIO.readChunk(p.path, ref)).iterator
      case None => McapIO.readInlineMessages(p.path, p.inline).iterator
    }
    val keep = graft.ros.ContainerSource.compile(filters, McapDataSource.cols(p))
    raw.zipWithIndex.filter { case (m, _) => typeChannels.contains(m.channelId) && keep(m) }
  }

  private val pathBytes = p.path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val topicBytes: Map[Int, Array[Byte]] = typeChannels.map { case (id, c) =>
    id -> c.topic.getBytes(java.nio.charset.StandardCharsets.UTF_8) }

  private val filePathV = vec("file_path").orNull
  private val chunkIdxV = vec("chunk_idx").orNull
  private val offsetV = vec("offset").orNull
  private val logTimeV = vec("log_time").orNull
  private val publishTimeV = vec("publish_time").orNull
  private val sequenceV = vec("sequence").orNull
  private val channelIdV = vec("channel_id").orNull
  private val topicV = vec("topic").orNull
  private val rawV = if (includeRaw) vec("data").orNull else null

  private def walk(data: Array[Byte]): Unit =
    if (isCdr) CdrColumnarRead.walkMessage(cdrProgs, data)
    else {
      // the packed ros1 walk: no header, LE, must consume everything
      val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
      var j = 0
      while (j < ops.length) { ops(j)(buf); j += 1 }
      require(!buf.hasRemaining,
        s"decode left ${buf.remaining} bytes unread of ${data.length} — " +
          "schema/payload mismatch")
    }

  override def next(): Boolean = {
    if (!messages.hasNext) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    var bytes = 0L
    // row AND byte budget, exactly like RosbagTypedColumnarReader:
    // blob-dominated types stop each batch at batchBytes of payload;
    // meta-only scans materialize nothing and keep full batches
    val payloadMaterialized = needsWalk || rawV != null
    while (n < batchSize && bytes < batchBytes && messages.hasNext) {
      val (m, idx) = messages.next()
      val ch = typeChannels(m.channelId)
      require(ch.messageEncoding == wantMsgEncoding,
        s"channel ${m.channelId} encodes messages as '${ch.messageEncoding}'; " +
          s"schema encoding '$encoding' decodes '$wantMsgEncoding'")
      if (payloadMaterialized) bytes += m.data.length
      if (filePathV != null) filePathV.appendByteArray(pathBytes, 0, pathBytes.length)
      if (chunkIdxV != null) chunkIdxV.appendInt(p.chunkIdx)
      if (offsetV != null) offsetV.appendInt(idx + p.ordinalBase)
      if (logTimeV != null) logTimeV.appendLong(m.logTime)
      if (publishTimeV != null) publishTimeV.appendLong(m.publishTime)
      if (sequenceV != null) sequenceV.appendLong(m.sequence)
      if (channelIdV != null) channelIdV.appendInt(m.channelId)
      if (topicV != null) {
        val b = topicBytes(m.channelId); topicV.appendByteArray(b, 0, b.length)
      }
      if (rawV != null) rawV.appendByteArray(m.data, 0, m.data.length)
      if (needsWalk) walk(m.data)
      n += 1
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}
