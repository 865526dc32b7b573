package graft.ros

import java.io.{BufferedOutputStream, FilterOutputStream, OutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.DataType

/** The one file-sink protocol behind every container writer: rosbag,
  * MCAP, db3, WARC and MCAP attachments. A format supplies its options,
  * its per-row encoder and its file suffixes ([[Format]]); this object
  * owns everything else.
  *
  *  - Column checks: [[Request.need]] / [[Request.opt]] at build time,
  *    and the per-row null check of every required column.
  *  - File names. Batch stems carry (partition, task, job) and never
  *    collide: `part-<p>-<task>-<job>`. Streaming stems carry
  *    (partition, query, epoch) deliberately: `part-<p>-q<query8>-e<epoch>`,
  *    so an epoch replay regenerates the same names and replaces its
  *    crashed attempt's files. A rolled file adds `-<n>` to its stem.
  *  - Each file is written to `.<stem><attempt><suffix>.inprogress`. The
  *    attempt tag (`-t<task>`, streaming only) keeps two live attempts of
  *    one (partition, epoch) — speculation, a zombie executor — from
  *    interleaving writes into one file.
  *  - Lazy open: a task's encoder is made at its first row, so an empty
  *    task writes no file.
  *  - Task commit promotes each file by delete+rename, in the order the
  *    encoder created them (a WARC shard before its `.cdx` sidecar, so a
  *    reader that sees the index can fetch what it addresses).
  *  - Job abort and epoch abort delete the committed files. Overwrite
  *    lists the directory's files BEFORE any task writes and deletes
  *    exactly those after every task committed: a crash mid-job leaves
  *    the old generation readable. Streaming is Append only.
  *  - Epoch commit sweeps this (query, epoch)'s files that the commit did
  *    not produce: a replay running with fewer partitions, or rolling
  *    fewer files, than its crashed attempt must not keep the extras as
  *    duplicates.
  *  - Each epoch commit puts its landed rows, files and bytes on the
  *    table ([[LandedMetrics]]), where Spark copies them into
  *    `StreamingQueryProgress.sink.metrics`.
  */
object ContainerSink {

  /** A format's half of the protocol, shipped to every task. */
  trait Format extends Serializable {
    /** Suffixes of the files this sink writes: overwrite deletes the
      * directory's files with one of them, the epoch sweep matches them.
      */
    def suffixes: Seq[String]
    /** Stem prefix of every file. */
    def prefix: String = "part"
    /** One task's encoder, made at its first row. */
    def encoder(out: TaskFiles): Encoder
    /** Runs on the driver after a job's or epoch's files are all in
      * place; `stats` are the tasks' [[Encoder.finish]] results. `epoch`
      * is (query, epoch) for a streaming commit.
      */
    def commitHook(fs: FileSystem, dir: String, stats: Seq[AnyRef],
        truncate: Boolean, epoch: Option[(String, Long)]): Unit = ()
    /** True when this (query, epoch) already committed: its replay's
      * abort must keep the files, which are the epoch's current data.
      */
    def epochCommitted(fs: FileSystem, dir: String, qid: String,
        epoch: Long): Boolean = false
  }

  /** Encodes one task's rows into the files it opens through
    * [[TaskFiles.create]].
    */
  trait Encoder {
    def write(row: InternalRow): Unit
    /** Seal every file; the result rides the commit message to
      * [[Format.commitHook]] (null when the format has none).
      */
    def finish(): AnyRef
    /** Release what the protocol does not own (scratch files). */
    def abort(): Unit = ()
  }

  /** A file a task is writing; `written` counts the bytes so far. */
  final class FileOut private[ContainerSink] (val name: String, out: OutputStream)
      extends FilterOutputStream(out) {
    var written = 0L
    override def write(b: Int): Unit = { out.write(b); written += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); written += len
    }
  }

  /** The files of one task attempt, staged under in-progress names. */
  final class TaskFiles private[ContainerSink] (dir: String, stem: String,
      attempt: String) {
    private val fs = new Path(dir).getFileSystem(bag.RosbagIO.hadoopConf())
    private val staged = scala.collection.mutable.ArrayBuffer[(Path, Path, FileOut)]()
    private val promoted = scala.collection.mutable.ArrayBuffer[Path]()

    /** Open `<stem><sub><suffix>`; it lands at task commit. */
    def create(sub: String, suffix: String): FileOut = {
      val tmp = new Path(dir, s".$stem$sub$attempt$suffix.inprogress")
      val fin = new Path(dir, s"$stem$sub$suffix")
      val out = new FileOut(fin.getName,
        new BufferedOutputStream(fs.create(tmp, true), 1 << 16))
      staged += ((tmp, fin, out))
      out
    }

    private[ContainerSink] def bytes: Long = staged.map(_._3.written).sum

    private[ContainerSink] def promote(): Seq[String] = {
      staged.foreach(_._3.close())
      staged.map { case (tmp, fin, _) =>
        // a streaming replay re-commits the same name: replace the
        // previous attempt's file (commit coordination allows one live
        // committer per partition and epoch)
        if (fs.exists(fin)) fs.delete(fin, false)
        require(fs.rename(tmp, fin), s"container write: rename $tmp -> $fin failed")
        promoted += fin
        fin.toString
      }.toSeq
    }

    /** Close without sealing; delete what this attempt staged or
      * promoted, never another attempt's file.
      */
    private[ContainerSink] def abort(): Unit = {
      staged.foreach { case (tmp, _, out) =>
        try out.close() catch { case _: java.io.IOException => () }
        fs.delete(tmp, false)
      }
      promoted.foreach(fs.delete(_, false))
    }
  }

  private final case class FilesCommit(paths: Seq[String], rows: Long,
      bytes: Long, stats: AnyRef) extends WriterCommitMessage

  /** A write's schema and options as the format's builder sees them. */
  final class Request private[ContainerSink] (val dir: String,
      info: LogicalWriteInfo, sink: String, hint: String, val truncate: Boolean) {
    private val schema = info.schema()
    private[ContainerSink] val required =
      scala.collection.mutable.ArrayBuffer[(Int, String)]()

    def option(key: String): Option[String] = Option(info.options().get(key))

    /** The ordinal of a column the format needs, of type `dt`; unless
      * `nullable`, every row must carry a value.
      */
    def need(name: String, dt: DataType, nullable: Boolean = false): Int = {
      val i = schema.fieldNames.indexOf(name)
      require(i >= 0, s"$sink write needs a '$name' column " +
        s"($hint conforms arbitrary frames)")
      require(schema.fields(i).dataType == dt,
        s"$sink write column '$name' must be $dt, got ${schema.fields(i).dataType}")
      if (!nullable) required += ((i, name))
      i
    }

    /** An optional column's ordinal, -1 when absent or of another type. */
    def opt(name: String, dt: DataType): Int = {
      val i = schema.fieldNames.indexOf(name)
      if (i >= 0 && schema.fields(i).dataType == dt) i else -1
    }
  }

  /** The write builder of a container table: `sink` names the format in
    * messages, `hint` the helper that conforms arbitrary frames.
    */
  def builder(dir: String, info: LogicalWriteInfo, table: LandedMetrics,
      sink: String, hint: String)(format: Request => Format): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncating = false
      override def truncate(): WriteBuilder = { truncating = true; this }
      override def build(): Write = {
        val req = new Request(dir, info, sink, hint, truncating)
        val fmt = format(req)
        val checks = Checks(req.required.map(_._1).toArray,
          req.required.map(_._2).toArray, sink)
        new FileWrite(dir, fmt, checks, truncating, info.queryId().take(8), table)
      }
    }

  /** Required-column ordinals and names for the per-row null check. */
  private final case class Checks(ords: Array[Int], names: Array[String],
      sink: String)

  private def fileSystem(dir: String): FileSystem =
    new Path(dir).getFileSystem(bag.RosbagIO.hadoopConf())

  private def mkdirs(fs: FileSystem, dir: String): Unit = {
    val p = new Path(dir)
    if (!fs.exists(p)) { fs.mkdirs(p); () }
  }

  private def commits(messages: Array[WriterCommitMessage]): Seq[FilesCommit] =
    messages.toSeq.collect { case c: FilesCommit => c }

  private def deleteCommitted(fs: FileSystem,
      messages: Array[WriterCommitMessage]): Unit =
    commits(messages).flatMap(_.paths).foreach(p => fs.delete(new Path(p), false))

  private final class FileWrite(dir: String, fmt: Format, checks: Checks,
      truncate: Boolean, qid: String, table: LandedMetrics) extends Write {
    override def toBatch: BatchWrite = new Job(dir, fmt, checks, truncate)
    override def toStreaming: StreamingWrite = {
      require(!truncate, s"${checks.sink} streaming write supports the Append output " +
        "mode only (a container directory cannot be truncated per epoch)")
      new Epochs(dir, fmt, checks, qid, table)
    }
  }

  private final class Job(dir: String, fmt: Format, checks: Checks,
      truncate: Boolean) extends BatchWrite {
    private val jobId = java.util.UUID.randomUUID().toString.take(8)
    private val fs = fileSystem(dir)
    // captured BEFORE any task writes: overwrite deletes exactly the
    // files that pre-existed this job, after every task committed
    private val preExisting: Seq[Path] =
      if (truncate && fs.exists(new Path(dir)))
        fs.listStatus(new Path(dir)).toSeq
          .filter(s => s.isFile && fmt.suffixes.exists(s.getPath.getName.endsWith))
          .map(_.getPath)
      else { mkdirs(fs, dir); Seq.empty }

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      Factory(dir, fmt, checks, jobId)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      preExisting.foreach { f =>
        require(fs.delete(f, false), s"${checks.sink} overwrite: delete failed for $f")
      }
      fmt.commitHook(fs, dir, commits(messages).map(_.stats), truncate, None)
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      deleteCommitted(fs, messages)
  }

  private final class Epochs(dir: String, fmt: Format, checks: Checks,
      qid: String, table: LandedMetrics) extends StreamingWrite {
    private val fs = fileSystem(dir)
    mkdirs(fs, dir) // eager: the first epoch's tasks race mkdirs otherwise

    override def createStreamingWriterFactory(info: PhysicalWriteInfo)
        : StreamingDataWriterFactory =
      Factory(dir, fmt, checks, qid)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val cs = commits(messages)
      val keep = cs.flatMap(_.paths).map(new Path(_).getName).toSet
      // \d{5,} / \d{4,}: the %05d partition and %04d rolled-file fields
      // WIDEN past their widths (>=100k partitions, >=10k rolled files);
      // fixed counts would hide those files from the sweep
      val epochFile = (fmt.prefix + "-\\d{5,}-q" + java.util.regex.Pattern.quote(qid) +
        "-e" + epochId + "(-\\d{4,})?(" +
        fmt.suffixes.map(java.util.regex.Pattern.quote).mkString("|") + ")").r
      fs.listStatus(new Path(dir)).foreach { s =>
        val n = s.getPath.getName
        if (s.isFile && epochFile.matches(n) && !keep(n)) { fs.delete(s.getPath, false); () }
      }
      // runs after the sweep, so a replay of an already-merged epoch
      // still reconciles its files
      fmt.commitHook(fs, dir, cs.map(_.stats), truncate = false, Some((qid, epochId)))
      table.landed(epochId, cs.map(_.rows).sum, keep.size.toLong, cs.map(_.bytes).sum)
    }
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      if (!fmt.epochCommitted(fs, dir, qid, epochId)) deleteCommitted(fs, messages)
  }

  /** One factory for both halves: `id` is the job id (batch) or the
    * query id (streaming).
    */
  private final case class Factory(dir: String, fmt: Format, checks: Checks,
      id: String) extends DataWriterFactory with StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new TaskWriter(new TaskFiles(dir,
        f"${fmt.prefix}-$partitionId%05d-$taskId-$id", ""), fmt, checks, partitionId)
    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      new TaskWriter(new TaskFiles(dir,
        f"${fmt.prefix}-$partitionId%05d-q$id-e$epochId", s"-t$taskId"), fmt,
        checks, partitionId)
  }

  private final class TaskWriter(files: TaskFiles, fmt: Format, checks: Checks,
      partitionId: Int) extends DataWriter[InternalRow] {
    private var enc: Encoder = null
    private var rows = 0L

    override def write(row: InternalRow): Unit = {
      var i = 0
      while (i < checks.ords.length) {
        if (row.isNullAt(checks.ords(i))) throw new IllegalArgumentException(
          s"${checks.sink} write: null '${checks.names(i)}' (partition " +
            s"$partitionId); filter or default nulls before writing")
        i += 1
      }
      if (enc == null) enc = fmt.encoder(files)
      enc.write(row)
      rows += 1
    }

    override def commit(): WriterCommitMessage =
      if (enc == null) FilesCommit(Seq.empty, 0L, 0L, null)
      else {
        val stats = enc.finish()
        FilesCommit(files.promote(), rows, files.bytes, stats)
      }

    override def abort(): Unit = {
      if (enc != null) enc.abort()
      files.abort()
    }

    override def close(): Unit = ()
  }

  /** Mixed into a container table: the last committed epoch's landed
    * numbers, which Spark copies into `StreamingQueryProgress.sink
    * .metrics` after each trigger: `epoch`, `rows`, `files` and `bytes`.
    * An idle trigger's progress repeats the last epoch's numbers, so
    * consumers count each `epoch` once.
    */
  trait LandedMetrics extends ReportsSinkMetrics {
    @volatile private var last = java.util.Collections.emptyMap[String, String]()
    override def metrics(): java.util.Map[String, String] = last
    private[ContainerSink] def landed(epoch: Long, rows: Long, files: Long,
        bytes: Long): Unit = {
      val m = new java.util.LinkedHashMap[String, String]()
      m.put("epoch", epoch.toString)
      m.put("rows", rows.toString)
      m.put("files", files.toString)
      m.put("bytes", bytes.toString)
      last = java.util.Collections.unmodifiableMap(m)
    }
  }
}
