package graft.ros

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The one DataSource V2 read core of the container sources (rosbag,
  * MCAP, db3, WARC) — the read-side twin of [[ContainerSink]]. A format
  * supplies only what is its own: its file predicate, its per-file
  * index and catalog, its partition unit (with the unit's time range
  * and size), its column roles and its row/columnar readers. The core
  * owns the rest, once:
  *
  *   - the file resolver (newline list / file / directory / glob,
  *     compact-journal masking, qualified distinct sorted URIs);
  *   - the filter kernel (what pushes, path / catalog / time-range
  *     pruning at plan time, and the per-row predicate every reader
  *     compiles once);
  *   - the ScanBuilder and Scan (pruned columns, pushed filters, partial
  *     limit, runtime filtering, statistics, packing, packed-partition
  *     dispatch);
  *   - the per-file-counts micro-batch stream (the offset JSON, the
  *     AvailableNow pin, the union with `start`, vanished-file skips).
  *
  * Spark's own `FileTable`/`FileScan` are not used: their partitions
  * are byte splits of files, which cannot carry index-derived units
  * (DECISIONS.md DR-3).
  */
object ContainerSource {

  // ---- file resolver ----------------------------------------------------

  private def isGlob(s: String): Boolean = s.exists(c => "*?[]{}".indexOf(c.toInt) >= 0)

  /** The path spec a read names: its newline-separated list option
    * (`listOption`) when set, else the load path.
    */
  def pathSpec(opts: CaseInsensitiveStringMap, listOption: String = "files"): String = {
    val l = opts.get(listOption)
    if (l != null && l.nonEmpty) l else opts.get("path")
  }

  /** The list-option value naming exactly `files` — ONE scan relation
    * over a file subset (the incremental ETL's shape), not an N-way
    * union. '\n' separates entries, so a path holding a newline (legal
    * on POSIX) fails loudly here instead of splitting into two
    * nonexistent entries.
    */
  def filesSpec(files: Seq[String]): String = {
    files.find(_.contains('\n')).foreach { f =>
      throw new IllegalArgumentException("path contains a newline and cannot be " +
        s"passed via a newline-separated file list: ${f.replace("\n", "\\n")}")
    }
    files.mkString("\n")
  }

  /** The files one spec entry denotes. A glob names its matches (a
    * stream's tolerant listing keeps only the format's own files); a
    * directory lists its accepted children; a file names itself. A
    * pending compact journal (crash window) leaves both generations on
    * disk: directories and globs serve one consistent view.
    */
  private def entryFiles(entry: String, accepts: String => Boolean,
      tolerant: Boolean): Seq[String] = {
    val p = new Path(entry)
    val fs = p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf())
    val stats: Seq[FileStatus] =
      if (isGlob(entry))
        CompactJournal.maskGlobbed(fs, Option(fs.globStatus(p)).getOrElse(Array.empty)
          .filter(s => s.isFile && (!tolerant || accepts(s.getPath.getName))).toSeq)
      else {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) Seq(st)
        else {
          val masked = CompactJournal.maskedNames(fs, p)
          fs.listStatus(p).toSeq.filter { s =>
            val n = s.getPath.getName
            s.isFile && accepts(n) && !masked.contains(n)
          }
        }
      }
    stats.map(_.getPath.toString)
  }

  private def listFiles(spec: String, accepts: String => Boolean,
      tolerant: Boolean): Seq[String] =
    DriverPool.parMap(spec.split('\n').toSeq.filter(_.nonEmpty)) { e =>
      try entryFiles(e, accepts, tolerant)
      catch { case _: FileNotFoundException if tolerant => Nil }
    }.flatten.distinct.sorted

  /** Every file `spec` names: qualified URIs (`file:/…`, `hdfs://…`,
    * so path values compare equal however the load path was spelled),
    * distinct, sorted (multi-file ordering is deterministic across
    * filesystems). A missing explicit path throws; a spec that names no
    * file fails loudly.
    */
  def resolve(spec: String, accepts: String => Boolean, what: String): Seq[String] = {
    val out = listFiles(spec, accepts, tolerant = false)
    require(out.nonEmpty, s"no $what files under $spec")
    out
  }

  /** [[resolve]] for a stream's discovery: a missing or empty prefix is
    * a stream with nothing to read yet. Only a missing path is
    * tolerated; any other listing failure fails the trigger.
    */
  def resolveTolerant(spec: String, accepts: String => Boolean): Seq[String] =
    listFiles(spec, accepts, tolerant = true)

  /** The listing under [[resolve]] without its emptiness check, for
    * callers that classify the files themselves (MixedRead).
    */
  def list(spec: String, accepts: String => Boolean): Seq[String] =
    listFiles(spec, accepts, tolerant = false)

  // ---- filter kernel ----------------------------------------------------

  /** A format's column roles: `path` holds the file URI; `pushable`
    * columns take equality/In filters and `ordered` ones range filters
    * too; `time` prunes units by their range; `runtime` columns accept
    * runtime (DPP) filters.
    */
  final case class Roles(path: String, time: Option[String], pushable: Set[String],
      ordered: Set[String], runtime: Seq[String])

  /** A reader's value accessors, compiled once: no boxing per row. */
  trait LongOf[-R] { def apply(r: R): Long }
  trait StrOf[-R] { def apply(r: R): String }
  trait Pred[-R] { def apply(r: R): Boolean }
  sealed trait Col[-R]
  final case class LongCol[-R](get: LongOf[R]) extends Col[R]
  final case class StrCol[-R](get: StrOf[R]) extends Col[R]

  def supported(roles: Roles)(f: Filter): Boolean = f match {
    case EqualTo(c, _) => roles.pushable(c)
    case In(c, _) => roles.pushable(c)
    case GreaterThan(c, _) => roles.ordered(c)
    case GreaterThanOrEqual(c, _) => roles.ordered(c)
    case LessThan(c, _) => roles.ordered(c)
    case LessThanOrEqual(c, _) => roles.ordered(c)
    case _ => false
  }

  /** An integral literal as a Long; anything else is uncomparable. */
  private def integral(v: Any): Option[Long] = v match {
    case x: java.lang.Long => Some(x.longValue)
    case x: java.lang.Integer => Some(x.longValue)
    case x: java.lang.Short => Some(x.longValue)
    case x: java.lang.Byte => Some(x.longValue)
    case _ => None
  }

  private val always: Pred[Any] = _ => true

  /** One pushed filter as a row predicate. Integral columns compare as
    * Long (an Int column never truncates a Long literal). An
    * uncomparable (value, literal) pair KEEPS the row: Spark re-applies
    * every filter above the scan, but only to the rows that survive it,
    * so a source-side drop could never be recovered.
    */
  private def compileOne[R](f: Filter, cols: PartialFunction[String, Col[R]]): Pred[R] = {
    val c = f.references.head
    if (!cols.isDefinedAt(c)) return always
    (cols(c), f) match {
      case (LongCol(get), In(_, vs)) =>
        val xs = vs.map(integral)
        if (xs.exists(_.isEmpty)) always
        else {
          val sorted = xs.map(_.get).sorted
          r => java.util.Arrays.binarySearch(sorted, get(r)) >= 0
        }
      case (LongCol(get), _) =>
        val lit = f match {
          case EqualTo(_, v) => v; case GreaterThan(_, v) => v
          case GreaterThanOrEqual(_, v) => v; case LessThan(_, v) => v
          case LessThanOrEqual(_, v) => v; case _ => null
        }
        integral(lit) match {
          case None => always
          case Some(x) => f match {
            case _: EqualTo => r => get(r) == x
            case _: GreaterThan => r => get(r) > x
            case _: GreaterThanOrEqual => r => get(r) >= x
            case _: LessThan => r => get(r) < x
            case _: LessThanOrEqual => r => get(r) <= x
            case _ => always
          }
        }
      case (StrCol(get), In(_, vs)) =>
        if (!vs.forall(_.isInstanceOf[String])) always
        else { val set = vs.map(_.asInstanceOf[String]).toSet; r => set.contains(get(r)) }
      case (StrCol(get), _) =>
        f match {
          case EqualTo(_, x: String) => r => get(r) == x
          case GreaterThan(_, x: String) => r => get(r).compareTo(x) > 0
          case GreaterThanOrEqual(_, x: String) => r => get(r).compareTo(x) >= 0
          case LessThan(_, x: String) => r => get(r).compareTo(x) < 0
          case LessThanOrEqual(_, x: String) => r => get(r).compareTo(x) <= 0
          case _ => always
        }
    }
  }

  /** The conjunction of `filters` over a reader's rows, compiled once
    * per reader (or per unit, where the accessors depend on it).
    */
  def compile[R](filters: Array[Filter], cols: PartialFunction[String, Col[R]]): Pred[R] = {
    val ps = filters.map(compileOne(_, cols)).filterNot(_ eq always)
    if (ps.isEmpty) always
    else if (ps.length == 1) ps(0)
    else r => {
      var i = 0
      while (i < ps.length && ps(i)(r)) i += 1
      i == ps.length
    }
  }

  /** File-level pruning: exact against the stored, fully-qualified URI
    * ("file:/data/a.bag"). Deliberately not fuzzy — Spark re-applies
    * every filter above the scan with plain string equality, so a loose
    * match would only emit rows the residual then drops.
    */
  def pathMayMatch(filters: Array[Filter], col: String, path: String): Boolean =
    filters.forall {
      case EqualTo(`col`, v) => v == path
      case In(`col`, vs) => vs.contains(path)
      case _ => true
    }

  /** Catalog pruning: once a file's index is read, an equality/In
    * filter on a catalog column (topic, type, channel…) that no catalog
    * entry can satisfy drops the whole file.
    */
  def catalogMayMatch[E](filters: Array[Filter], entries: Iterable[E],
      cols: PartialFunction[String, Col[E]]): Boolean =
    filters.forall {
      case f @ (_: EqualTo | _: In) if cols.isDefinedAt(f.references.head) =>
        val p = compileOne(f, cols)
        entries.exists(e => p(e))
      case _ => true
    }

  /** Unit pruning on the time column: can a unit whose rows lie in
    * [lo, hi] hold a row passing every filter? Conservative on
    * uncomparable literals.
    */
  def rangeMayMatch(filters: Array[Filter], col: String, lo: Long, hi: Long): Boolean = {
    def in(v: Any) = integral(v).forall(x => lo <= x && x <= hi)
    filters.forall {
      case GreaterThan(`col`, v) => integral(v).forall(hi > _)
      case GreaterThanOrEqual(`col`, v) => integral(v).forall(hi >= _)
      case LessThan(`col`, v) => integral(v).forall(lo < _)
      case LessThanOrEqual(`col`, v) => integral(v).forall(lo <= _)
      case EqualTo(`col`, v) => in(v)
      case In(`col`, vs) => vs.exists(in)
      case _ => true
    }
  }

  // ---- scan surface -----------------------------------------------------

  /** One planned unit: its partition, its (uncompressed) size for
    * packing, and the time range of its rows when the index knows it.
    */
  final case class Planned(part: InputPartition, bytes: Long,
      range: Option[(Long, Long)] = None)

  /** What a plan sees: the filters in force (pushed plus runtime), every
    * filter Spark offered, and the pruned output.
    */
  final case class Planning(filters: Array[Filter], offered: Array[Filter],
      required: StructType)

  /** One table's read, as a format supplies it (driver side). */
  abstract class Read {
    def kind: String
    def spec: String
    def roles: Roles
    /** The typed read's name; its pushed filters reference `typedCols` only. */
    def typed: Option[String] = None
    def typedCols: Set[String] = Set.empty
    /** The files the table reads. */
    def files: Seq[String]
    /** The units of `files` (already path-pruned) under `s`; the core
      * prunes the ones whose range misses the time filters.
      */
    def units(files: Seq[String], s: Planning): Seq[Planned]
    /** Does the format bin-pack its units ([[PartitionPacking]])? */
    def packs: Boolean = true
    def arrange(units: Seq[Planned], s: Planning): Array[InputPartition] =
      if (packs) PartitionPacking.packPartitions(units.map(u => (u.part, u.bytes)))
      else units.map(_.part).toArray
    def readers(required: StructType, filters: Array[Filter], limit: Int): PartitionReaderFactory
    def stream(required: StructType, filters: Array[Filter], limit: Int): MicroBatchStream
    /** A metadata-only aggregate scan, when the format can answer `a`. */
    def aggregate(a: Aggregation, offered: Array[Filter]): Option[Scan] = None
    def describe(s: Planning): String = ""

    final def pushable(f: Filter): Boolean =
      supported(roles)(f) && (typed.isEmpty || f.references.forall(typedCols))
  }

  final class ContainerScanBuilder(read: Read, full: StructType) extends ScanBuilder
      with SupportsPushDownRequiredColumns with SupportsPushDownFilters
      with SupportsPushDownLimit with SupportsPushDownAggregates {
    private var required: StructType = full
    private var offered: Array[Filter] = Array.empty
    private var pushed: Array[Filter] = Array.empty
    private var limit: Int = -1
    private var agg: Option[Scan] = None

    override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val (supported, residual) = filters.partition(read.pushable)
      offered = filters
      pushed = supported
      residual ++ supported // pushed filters stay residual too
    }
    override def pushedFilters(): Array[Filter] = pushed
    override def pushLimit(l: Int): Boolean = { limit = l; false } // partial
    override def pushAggregation(a: Aggregation): Boolean = {
      agg =
        if (read.typed.isDefined || pushed.nonEmpty || limit >= 0) None
        else read.aggregate(a, offered)
      agg.isDefined
    }
    override def build(): Scan =
      agg.getOrElse(new ContainerScan(read, required, pushed, limit)(offered))
  }

  /** `offered` defaults to the pushed filters (a scan built directly). */
  final class ContainerScan(read: Read, required: StructType, pushed: Array[Filter],
      limit: Int)(offered: Array[Filter] = pushed) extends Scan with Batch
      with SupportsRuntimeFiltering with SupportsReportStatistics {
    // Runtime (DPP-style) filters from joins against selective
    // dimensions: BatchScanExec re-plans partitions after filter(), so
    // whole files and units prune at execution time exactly like
    // compile-time pushed filters
    private var runtime: Array[Filter] = Array.empty
    private def filters: Array[Filter] = pushed ++ runtime
    private def planning = Planning(filters, offered, required)

    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    // only columns the (pruned) output carries: Spark resolves these
    // against the scan's output and FAILS on a projected-away column
    override def filterAttributes(): Array[NamedReference] =
      read.roles.runtime.filter(c => required.fieldNames.contains(c) &&
        (read.typed.isEmpty || read.typedCols(c))).map(Expressions.column).toArray
    override def filter(fs: Array[Filter]): Unit = runtime = fs.filter(read.pushable)

    // on-disk (compressed) bytes: an UNDER-estimate of row bytes, fine
    // for join-side sizing; the row count is unknown without a walk
    override def estimateStatistics(): Statistics = new Statistics {
      private lazy val bytes = DriverPool.totalBytes(read.files,
        graft.ros.bag.RosbagIO.hadoopConf())
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

    override def planInputPartitions(): Array[InputPartition] = {
      val s = planning
      val files = read.files.filter(pathMayMatch(s.filters, read.roles.path, _))
      val kept = read.units(files, s).filter(u => u.range.forall { case (lo, hi) =>
        read.roles.time.forall(rangeMayMatch(s.filters, _, lo, hi)) })
      read.arrange(kept, s)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      read.readers(required, filters, limit)
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      read.stream(required, filters, limit)
    override def description(): String =
      s"${read.kind} ${read.spec}${read.typed.map(t => s" typed=$t").getOrElse("")}, " +
        s"pushedFilters=[${filters.mkString(", ")}], limit=$limit" + read.describe(planning)
  }

  /** Per-unit row and (optional) columnar readers; a packed partition
    * concatenates its units' readers.
    */
  final class Readers(row: InputPartition => PartitionReader[InternalRow],
      columnar: Option[InputPartition => PartitionReader[ColumnarBatch]] = None)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
      case pp: PackedPartition => new ConcatPartitionReader(pp.parts, createReader)
      case _ => row(p)
    }
    override def supportColumnarReads(p: InputPartition): Boolean = columnar.isDefined
    override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
      p match {
        case pp: PackedPartition => new ConcatPartitionReader(pp.parts, createColumnarReader)
        case _ => columnar.get(p)
      }
  }

  /** The table surface every container format shares. `readOnly` names
    * the typed-read options that make a table unwritable, when given;
    * `hint` is the helper that conforms frames for the sink.
    */
  abstract class ContainerTable(kind: String, spec: String, typedName: Option[String],
      readOnly: Option[String], hint: String) extends Table with SupportsRead with SupportsWrite
      with ContainerSink.LandedMetrics {
    protected def read: Read
    protected def sink(req: ContainerSink.Request): ContainerSink.Format
    override def name(): String = s"$kind:$spec${typedName.map(":" + _).getOrElse("")}"
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.STREAMING_WRITE)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ContainerScanBuilder(read, schema())
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      require(readOnly.isEmpty,
        s"$kind write goes through the spine shape — drop the ${readOnly.get}")
      ContainerSink.builder(spec, info, this, kind, hint)(sink)
    }
  }

  // ---- per-file-counts micro-batch stream -------------------------------

  /** Full JSON string escaping, control characters included: offsets
    * live in Spark's LINE-delimited offset log, so a raw newline in a
    * path (legal on POSIX) would split the checkpoint entry.
    */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c => sb += c; i += 2
        }
      } else { sb += s(i); i += 1 }
    }
    sb.toString
  }

  /** How a stream's offset reads and writes its JSON. */
  sealed trait CountsJson {
    def json(files: Map[String, Seq[Long]]): String
    def parse(json: String): Map[String, Seq[Long]]
  }

  /** `{"<key>":{"<path>":n,...}}`, or `[c,i]` per path when a file has
    * two counts; paths sorted so equal offsets serialize identically.
    */
  final case class PerFile(key: String) extends CountsJson {
    override def json(files: Map[String, Seq[Long]]): String =
      files.toSeq.sortBy(_._1).map { case (p, c) =>
        "\"" + esc(p) + "\":" + (if (c.size == 1) c.head.toString else c.mkString("[", ",", "]"))
      }.mkString("{\"" + key + "\":{", ",", "}}")
    // quoted-path : count pairs (the key itself never matches — its
    // value is an object)
    private val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*(\d+|\[[\d,]*\])""".r
    override def parse(json: String): Map[String, Seq[Long]] =
      pair.findAllMatchIn(json).map { m =>
        val v = m.group(2)
        unesc(m.group(1)) -> (if (v.startsWith("[")) v.drop(1).dropRight(1).split(',').toSeq.map(_.toLong)
          else Seq(v.toLong))
      }.toMap
  }

  /** `{"chunkCount":n}`: one growing file's count. */
  final case class OneFile(path: String) extends CountsJson {
    override def json(files: Map[String, Seq[Long]]): String =
      s"""{"chunkCount":${files.get(path).map(_.head).getOrElse(0L)}}"""
    override def parse(json: String): Map[String, Seq[Long]] =
      Map(path -> Seq("""\d+""".r.findFirstIn(json)
        .getOrElse(throw new IllegalArgumentException(s"bad offset $json")).toLong))
  }

  /** A stream offset: per-file counts (complete chunks, subtrees…). */
  final case class CountsOffset(files: Map[String, Seq[Long]])(shape: CountsJson)
      extends Offset {
    override def json(): String = shape.json(files)
  }

  /** Per-file max of every count: an append-only file never regresses. */
  val maxMerge: (Seq[Long], Seq[Long]) => Seq[Long] =
    (s, c) => s.zipAll(c, 0L, 0L).map { case (a, b) => math.max(a, b) }
  /** The start's entry wins: the offered count is the replay contract. */
  val startWins: (Seq[Long], Seq[Long]) => Seq[Long] = (s, _) => s

  /** The micro-batch protocol over per-file counts. Each trigger lists
    * the path (`list`, tolerant), measures every listed file (`measure`
    * drops files that vanished or are not ready) and plans each file's
    * new range (`plan`, given the start's counts when the file had an
    * entry). Units are immutable once offered, so offsets replay
    * exactly from the checkpoint.
    *
    * The served end is the current measure UNIONED with `start` under
    * the format's `merge`: a file that transiently drops out of the
    * listing (deleted and re-uploaded, a failed open) keeps its entry in
    * the offset chain — if simply omitted, its reappearance would
    * re-plan from zero and duplicate rows. A file that vanishes after
    * it was offered contributes nothing to the batch: strict would be
    * worse than the lost data, since the checkpoint replays the
    * uncommitted batch on every restart and would wedge the stream.
    */
  final class CountsStream(shape: CountsJson, list: () => Seq[String],
      measure: Seq[String] => Map[String, Seq[Long]],
      merge: (Seq[Long], Seq[Long]) => Seq[Long],
      keep: String => Boolean,
      plan: (String, Option[Seq[Long]], Seq[Long]) => Seq[InputPartition],
      readers: PartitionReaderFactory)
      extends MicroBatchStream with SupportsTriggerAvailableNow {
    private def offset(files: Map[String, Seq[Long]]) = CountsOffset(files)(shape)
    private def current(): Offset = offset(measure(list()))

    override def initialOffset(): Offset = offset(Map.empty)
    override def deserializeOffset(json: String): Offset = offset(shape.parse(json))

    // Trigger.AvailableNow: pin the end ONCE at query start so the run
    // drains exactly what existed then and terminates even while
    // recorders and uploaders keep adding
    private var pinned: Option[Offset] = None
    override def prepareForTriggerAvailableNow(): Unit = pinned = Some(current())
    override def latestOffset(): Offset = pinned.getOrElse(current())

    // counts have no meaningful rate limit: serve the end, unioned
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val cur = latestOffset().asInstanceOf[CountsOffset].files
      offset(start.asInstanceOf[CountsOffset].files.foldLeft(cur) { case (acc, (p, s)) =>
        acc.updated(p, acc.get(p).fold(s)(merge(s, _)))
      })
    }

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[CountsOffset].files
      end.asInstanceOf[CountsOffset].files.toSeq.sortBy(_._1)
        .filter { case (f, until) => keep(f) &&
          !s.get(f).exists(from => until.zipAll(from, 0L, 0L).forall { case (u, b) => u <= b }) }
        .flatMap { case (f, until) =>
          try plan(f, s.get(f), until) catch { case _: FileNotFoundException => Nil }
        }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = readers
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }
}
