package graft.ros.bag

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.unsafe.types.UTF8String

/** The global seqno numbered from the bag index, inside the scan — the
  * reference's serial counter over `rosbag::View`'s merge-time order
  * (reference rosbag2parquet.cpp:45-52, FlattenedRosWriter.cpp:195,256)
  * without a shuffle, a sampling job or a count job.
  *
  * The chunks of a load (all its bags) fall into OVERLAP GROUPS:
  * maximal runs whose chunk-info [start, end] intervals chain-overlap
  * (touching counts — equal times across bags tie-break on bag_path, so
  * two chunks sharing an instant must rank together). Every message of
  * a group sorts before every message of the next, so a group's seqnos
  * are its base (the chunk-info message counts of all earlier groups)
  * plus each message's rank inside the group under the
  * (time_sec, time_nsec, bag_path, chunk_idx, offset) order that
  * `graft.operators.Seqno.globalSeqno` sorts by. One task reads a whole
  * group, so the rank needs no data from any other task.
  *
  * Readers check each chunk against its chunk-info record (message
  * count, and every time inside [start, end]): an index that
  * contradicts its chunks fails the task instead of mis-numbering.
  */
object RosbagSeqno {
  /** Name of the `rosbag` source's metadata column. */
  val Column = "seqno"

  /** One overlap group: its chunks as (bag, chunk_idx, chunk), the seqno
    * of its first message, and its message count.
    */
  final case class Group(base: Long, count: Long,
      chunks: Seq[(String, Int, BagFormat.BagChunk)]) {
    def bytes: Long = chunks.iterator.map(_._3.uncompressedSize.toLong).sum
  }

  private type TimeT = (Int, Int)
  private val timeOrd = Ordering[TimeT]   // signed, like Spark's int sort

  private def msgCount(c: BagFormat.BagChunk): Long =
    c.connCounts.get.iterator.map(_._2.toLong).sum

  /** The load's overlap groups in seqno order, or why its index cannot
    * number it: a chunk without a chunk-info record (an unclosed or
    * tailing recording) or with a start after its end. Zero-message
    * chunks carry no time worth trusting (foreign writers stamp them
    * 0); they join the first group, whose reader checks they are empty.
    */
  def groups(indexes: Seq[(String, BagFormat.BagIndex)]): Either[String, Seq[Group]] = {
    val chunks = indexes.flatMap { case (bag, index) =>
      index.chunks.zipWithIndex.map { case (c, i) => (bag, i, c) }
    }
    val unindexed = chunks.find { case (_, _, c) =>
      c.startTime.isEmpty || c.endTime.isEmpty || c.connCounts.isEmpty }
    val (full, empty) = chunks.partition(c => c._3.connCounts.exists(_.exists(_._2 > 0)))
    val inverted = full.find(c => timeOrd.gt(c._3.startTime.get, c._3.endTime.get))
    (unindexed, inverted) match {
      case (Some((b, i, _)), _) => Left(s"chunk $i of $b has no chunk-info record")
      case (_, Some((b, i, _))) => Left(s"the chunk-info record of chunk $i of $b ends before it starts")
      case _ =>
        val runs = scala.collection.mutable.ArrayBuffer[Vector[(String, Int, BagFormat.BagChunk)]]()
        var end: TimeT = null
        full.sortBy(c => (c._3.startTime.get, c._1, c._2)).foreach { c =>
          if (runs.isEmpty || timeOrd.gt(c._3.startTime.get, end)) {
            runs += Vector(c); end = c._3.endTime.get
          } else {
            runs(runs.size - 1) :+= c; end = timeOrd.max(end, c._3.endTime.get)
          }
        }
        if (runs.isEmpty) runs += Vector.empty
        runs(0) ++= empty
        val counts = runs.map(_.iterator.map(c => msgCount(c._3)).sum)
        val bases = counts.scanLeft(0L)(_ + _)
        Right(runs.indices.map(g => Group(bases(g), counts(g), runs(g)))
          .filter(_.chunks.nonEmpty))
    }
  }

  /** The groups when per-type numbered scans can number the load
    * cheaply — every chunk indexed, and no group that is:
    *  - more than one chunk over the partition byte budget
    *    (`graft.ros.PartitionPacking.budgetBytes`), where one task would
    *    serialise a fleet-wide merge. A single-chunk group is never
    *    refused: the plain scan reads one chunk per task anyway;
    *  - messages from bags carrying different (datatype, md5) sets
    *    (say, concurrent recordings with different topics per bag): a
    *    numbered typed scan reads every chunk of its groups, so each
    *    per-type scan would decompress the other bags' chunks too.
    * Left carries the reason for the caller's log.
    */
  def cheapGroups(indexes: Seq[(String, BagFormat.BagIndex)]): Either[String, Seq[Group]] = {
    val types = indexes.map { case (bag, index) =>
      bag -> index.connections.map(c => (c.datatype, c.md5sum)).toSet }.toMap
    groups(indexes).flatMap { gs =>
      val budget = graft.ros.PartitionPacking.budgetBytes(gs.iterator.map(_.bytes).sum)._1
      def bagsOf(g: Group) = g.chunks.filter(c => msgCount(c._3) > 0).map(_._1).distinct
      (gs.find(g => g.chunks.size > 1 && g.bytes > budget),
       gs.find(g => bagsOf(g).map(types).distinct.size > 1)) match {
        case (Some(g), _) => Left(s"an overlap group of ${g.chunks.size} chunks holds " +
          s"${g.bytes} uncompressed bytes, over the $budget-byte partition budget")
        case (_, Some(g)) => Left("an overlap group holds messages of bags with different " +
          s"message types (${bagsOf(g).mkString(", ")})")
        case _ => Right(gs)
      }
    }
  }

  /** Group-level pruning by a filter on `seqno`: a group holds seqnos
    * [base, base + count).
    */
  def groupMayMatch(f: Filter, g: Group): Boolean = {
    val last = g.base + g.count - 1
    f match {
      case LessThan(Column, v: Number) => g.base < v.longValue()
      case LessThanOrEqual(Column, v: Number) => g.base <= v.longValue()
      case GreaterThan(Column, v: Number) => last > v.longValue()
      case GreaterThanOrEqual(Column, v: Number) => last >= v.longValue()
      case EqualTo(Column, v: Number) => g.base <= v.longValue() && v.longValue() <= last
      case _ => true
    }
  }

  def isSeqnoFilter(f: Filter): Boolean = f.references.sameElements(Array(Column))

  /** Chunk order inside a group's partition: the tie-break order after
    * time — bag_path as Spark compares strings (UTF-8 bytes), then
    * chunk_idx. Offsets rise with storage order inside a chunk, so the
    * concatenation of the chunks' messages is already in tie-break order.
    */
  def tieBreakOrder(chunks: Seq[(String, Int, BagFormat.BagChunk)])
      : Seq[(String, Int, BagFormat.BagChunk)] =
    chunks.sortWith { (a, b) =>
      val c = UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1))
      c < 0 || (c == 0 && a._2 < b._2)
    }
}

/** One overlap group as a read unit: its chunks in tie-break order,
  * and which of them this scan emits (the others are read only to rank
  * the group's messages).
  */
final case class RosbagSeqnoPartition(base: Long, chunks: Array[RosbagInputPartition],
    emit: Array[Boolean]) extends InputPartition

/** Per-bag values the readers intern once, not per row. */
final class BagCtx(part: RosbagInputPartition) {
  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  lazy val pathBytes: Array[Byte] = utf8(part.path)
  lazy val pathUtf8: UTF8String = UTF8String.fromBytes(pathBytes)
  lazy val topicBytes: Map[Int, Array[Byte]] =
    part.conns.map { case (id, c) => id -> utf8(c.topic) }
  lazy val datatypeBytes: Map[Int, Array[Byte]] =
    part.conns.map { case (id, c) => id -> utf8(c.datatype) }
  lazy val topicUtf8: Map[Int, UTF8String] =
    topicBytes.map { case (id, b) => id -> UTF8String.fromBytes(b) }
  lazy val datatypeUtf8: Map[Int, UTF8String] =
    datatypeBytes.map { case (id, b) => id -> UTF8String.fromBytes(b) }
  // "first field is a Header" per connection (startsWithHeader is itself
  // JVM-memoized; this is the per-connId view)
  lazy val hasHeader: Map[Int, Boolean] =
    part.conns.map { case (id, c) => id -> RosbagDataSource.startsWithHeader(c.datatype, c.msgDef) }
}

/** The message stream every bag reader walks: each message with its
  * chunk, its bag's interned values and — in a [[RosbagSeqnoPartition]]
  * — its seqno. A bare chunk streams in storage order; a group streams
  * in seqno order. `keepFor` builds a chunk's row filter once per chunk;
  * `limit` (>= 0) stops after that many kept messages.
  */
final class BagCursor(p: InputPartition,
    keepFor: RosbagInputPartition => BagFormat.BagMessage => Boolean, limit: Int = -1) {
  var part: RosbagInputPartition = _
  var msg: BagFormat.BagMessage = _
  var seqno: Long = -1L
  var ctx: BagCtx = _
  private var emitted = 0
  private val ctxs = scala.collection.mutable.HashMap[String, BagCtx]()

  private def at(c: RosbagInputPartition): Unit = if (c ne part) {
    part = c
    ctx = ctxs.getOrElseUpdate(c.path, new BagCtx(c))
  }

  private def messagesOf(c: RosbagInputPartition): Array[BagFormat.BagMessage] =
    BagFormat.chunkMessages(c.chunk, RosbagIO.readChunkData(c.path, c.chunk)).toArray

  private lazy val steps: Iterator[Unit] = p match {
    case c: RosbagInputPartition =>
      val keep = keepFor(c)
      messagesOf(c).iterator.filter(keep).map { m => at(c); msg = m }
    case g: RosbagSeqnoPartition => numbered(g)
  }

  private def numbered(g: RosbagSeqnoPartition): Iterator[Unit] = {
    val perChunk = g.chunks.map(c => checked(c, messagesOf(c)))
    val flat = perChunk.flatten
    val chunkOf = perChunk.zipWithIndex.flatMap { case (ms, k) => Array.fill(ms.length)(k) }
    // stable sort on time alone: the concatenation is in tie-break order
    val order = Array.tabulate[Integer](flat.length)(Int.box)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val (x, y) = (flat(a), flat(b))
      val c = Integer.compare(x.timeSec, y.timeSec)
      if (c != 0) c else Integer.compare(x.timeNsec, y.timeNsec)
    })
    val keeps = g.chunks.indices.map(k => if (g.emit(k)) keepFor(g.chunks(k)) else null)
    Iterator.range(0, flat.length).filter { r =>
      val k = chunkOf(order(r))
      keeps(k) != null && keeps(k)(flat(order(r)))
    }.map { r =>
      at(g.chunks(chunkOf(order(r)))); msg = flat(order(r)); seqno = g.base + r
    }
  }

  private def checked(c: RosbagInputPartition,
      ms: Array[BagFormat.BagMessage]): Array[BagFormat.BagMessage] = {
    def fail(what: String) = throw new IllegalStateException(
      s"chunk ${c.chunkIdx} of ${c.path} contradicts its chunk-info record ($what); " +
        "its index cannot number the load")
    c.chunk.connCounts.foreach { cc =>
      val n = cc.iterator.map(_._2.toLong).sum
      if (n != ms.length) fail(s"$n messages indexed, ${ms.length} stored")
    }
    for (st <- c.chunk.startTime; et <- c.chunk.endTime; m <- ms) {
      val t = (m.timeSec, m.timeNsec)
      if (Ordering[(Int, Int)].lt(t, st) || Ordering[(Int, Int)].gt(t, et))
        fail(s"a message at $t lies outside [$st, $et]")
    }
    ms
  }

  def next(): Boolean =
    if ((limit < 0 || emitted < limit) && steps.hasNext) {
      steps.next(); emitted += 1; true
    } else false
}
